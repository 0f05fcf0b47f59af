package graft.algo

import graft.SparkSpec
import java.nio.file.{Files, Paths}

/** End-to-end ACON pipeline tests, mirroring the reference's feature-test
  * structure (csv fixture -> load_data(acon) -> golden compare). */
class DataLoaderSpec extends SparkSpec {

  private def writeFixture(dir: String): Unit = {
    val csv =
      """salesorder|item|date|customer|article|amount
        |1|1|20211201|cust_a|art_a|10
        |1|2|20211201|cust_a|art_b|6
        |2|1|20211205|cust_b|art_c|3
        |3|1|20211208|cust_c|art_d|-5
        |4|1|20211209|cust_d|art_e|8
        |""".stripMargin
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/part-01.csv"), csv)
  }

  test("full load with filter: csv -> expression_filter -> parquet (reference full_load/with_filter)") {
    val in = tmpDir("dl-in")
    val out = tmpDir("dl-out") + "/data"
    writeFixture(in)
    val acon =
      s"""{
         |  "input_specs": [{
         |    "spec_id": "sales_source", "read_type": "batch", "data_format": "csv",
         |    "location": "$in",
         |    "options": {"header": "true", "delimiter": "|", "inferSchema": "true"}
         |  }],
         |  "transform_specs": [{
         |    "spec_id": "filtered_sales", "input_id": "sales_source",
         |    "transformers": [
         |      {"function": "expression_filter", "args": {"exp": "amount > 0"}},
         |      {"function": "with_literals", "args": {"literals": {"source_system": "sap"}}}
         |    ]
         |  }],
         |  "output_specs": [{
         |    "spec_id": "sales_bronze", "input_id": "filtered_sales",
         |    "write_type": "overwrite", "data_format": "parquet", "location": "$out"
         |  }]
         |}""".stripMargin
    DataLoader.loadData(spark, acon)
    val result = spark.read.parquet(out)
    assert(result.count() == 4) // the -5 row filtered out
    assert(result.columns.contains("source_system"))
    assert(result.where("amount <= 0").count() == 0)
  }

  test("merge load: init + changes -> native MERGE equals full recompute") {
    import spark.implicits._
    val out = tmpDir("dl-merge") + "/t"
    val init = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
      .toDF("id", "name", "amount")
    val changes = Seq((2, "b", 25.0), (4, "d", 40.0))
      .toDF("id", "name", "amount")

    def acon(dfName: String) =
      s"""{
         |  "input_specs": [{"spec_id": "src", "data_format": "dataframe", "df_name": "$dfName"}],
         |  "output_specs": [{
         |    "spec_id": "tgt", "input_id": "src", "write_type": "merge",
         |    "data_format": "parquet", "location": "$out",
         |    "merge_opts": {"merge_predicate": "current.id = new.id"}
         |  }]
         |}""".stripMargin
    DataLoader.loadData(spark, acon("init"), dfs = Map("init" -> init))
    DataLoader.loadData(spark, acon("changes"), dfs = Map("changes" -> changes))
    val result = spark.read.parquet(out)
    val expected = Seq((1, "a", 10.0), (2, "b", 25.0), (3, "c", 30.0), (4, "d", 40.0))
      .toDF("id", "name", "amount")
    assertSameRows(result, expected)
  }

  test("streaming load with availableNow: unsupported transformer is re-planned into foreachBatch") {
    val in = tmpDir("dl-stream-in")
    val out = tmpDir("dl-stream-out") + "/data"
    val ckpt = tmpDir("dl-stream-ckpt")
    writeFixture(in)
    val acon =
      s"""{
         |  "input_specs": [{
         |    "spec_id": "src", "read_type": "streaming", "data_format": "csv",
         |    "location": "$in",
         |    "schema": "salesorder INT, item INT, date INT, customer STRING, article STRING, amount INT",
         |    "options": {"header": "true", "delimiter": "|"}
         |  }],
         |  "transform_specs": [{
         |    "spec_id": "condensed", "input_id": "src",
         |    "transformers": [{
         |      "function": "group_and_rank",
         |      "args": {"group_key": ["salesorder"], "ranking_key": ["item"]}
         |    }]
         |  }],
         |  "output_specs": [{
         |    "spec_id": "out", "input_id": "condensed",
         |    "write_type": "append", "data_format": "parquet", "location": "$out",
         |    "streaming_trigger": "availableNow",
         |    "options": {"checkpointLocation": "$ckpt"}
         |  }]
         |}""".stripMargin
    DataLoader.loadData(spark, acon)
    val result = spark.read.parquet(out)
    // group_and_rank(salesorder, max item) keeps one row per salesorder
    assert(result.count() == 4)
    assert(result.where("salesorder = 1 AND item = 2").count() == 1)
  }

  test("malformed-row read modes: permissive keeps, dropmalformed drops, failfast raises (reference append_load family)") {
    // Golden port of `tests/feature/test_append_load.py` (jdbc_permissive /
    // failfast / streaming_dropmalformed): the same corrupt CSV driven
    // through all three reader modes of the ACON path.
    val in = tmpDir("dl-mode-in")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/part-01.csv"),
      "id|amount\n1|10\n2|not_a_number\n3|30\n")
    def acon(mode: String, out: String, streaming: Boolean = false, ckpt: String = "") =
      s"""{
         |  "input_specs": [{
         |    "spec_id": "src", "read_type": "${if (streaming) "streaming" else "batch"}",
         |    "data_format": "csv", "location": "$in",
         |    "schema": "id INT, amount INT",
         |    "options": {"mode": "$mode", "header": "true", "delimiter": "|"}
         |  }],
         |  "output_specs": [{
         |    "spec_id": "out", "input_id": "src",
         |    "write_type": "append", "data_format": "parquet", "location": "$out"
         |    ${if (streaming) s""", "streaming_trigger": "availableNow",
         |    "options": {"checkpointLocation": "$ckpt"}""" else ""}
         |  }]
         |}""".stripMargin

    val outP = tmpDir("dl-mode-perm") + "/d"
    DataLoader.loadData(spark, acon("PERMISSIVE", outP))
    val perm = spark.read.parquet(outP)
    assert(perm.count() == 3) // bad row kept, unparseable field nulled
    assert(perm.where("amount IS NULL").count() == 1)

    val outD = tmpDir("dl-mode-drop") + "/d"
    DataLoader.loadData(spark, acon("DROPMALFORMED", outD))
    assert(spark.read.parquet(outD).select("id").collect().map(_.getInt(0)).toSet == Set(1, 3))

    val outF = tmpDir("dl-mode-ff") + "/d"
    intercept[org.apache.spark.SparkException] {
      DataLoader.loadData(spark, acon("FAILFAST", outF))
    }

    // Streaming dropmalformed: the same file through a file stream.
    val outS = tmpDir("dl-mode-sdrop") + "/d"
    DataLoader.loadData(spark,
      acon("DROPMALFORMED", outS, streaming = true, ckpt = tmpDir("dl-mode-ck")))
    assert(spark.read.parquet(outS).select("id").collect().map(_.getInt(0)).toSet == Set(1, 3))
  }

  test("reference-style trigger fields parse to the trigger spec") {
    def trig(field: String): Option[String] =
      graft.spec.Specs.parseAcon(
        s"""{"input_specs": [{"spec_id": "s", "data_format": "parquet", "location": "/x"}],
           |"output_specs": [{"spec_id": "o", "input_id": "s",
           |  "data_format": "parquet", "location": "/y", $field}]}""".stripMargin)
        .outputSpecs.head.streamingTrigger
    assert(trig(""""streaming_available_now": true""").contains("availableNow"))
    assert(trig(""""streaming_once": true""").contains("once"))
    assert(trig(""""streaming_processing_time": "10 seconds"""")
      .contains("processingTime=10 seconds"))
    assert(trig(""""streaming_continuous": "1 second"""").contains("continuous=1 second"))
    // the native single-key spelling still wins when both are present
    assert(trig(""""streaming_trigger": "once", "streaming_available_now": true""")
      .contains("once"))
  }

  test("streaming_await_termination=false returns while the query keeps running") {
    // Reference `core/definitions.py:941-944`: await defaults true; false
    // is the fire-and-forget contract for long-running triggers.
    val in = tmpDir("dl-nowait-in")
    val out = tmpDir("dl-nowait-out") + "/data"
    writeFixture(in)
    val acon =
      s"""{
         |  "input_specs": [{
         |    "spec_id": "src", "read_type": "streaming", "data_format": "csv",
         |    "location": "$in",
         |    "schema": "salesorder INT, item INT, date INT, customer STRING, article STRING, amount INT",
         |    "options": {"header": "true", "delimiter": "|"}
         |  }],
         |  "output_specs": [{
         |    "spec_id": "out", "input_id": "src",
         |    "write_type": "append", "data_format": "parquet", "location": "$out",
         |    "streaming_trigger": "processingTime=100 milliseconds",
         |    "streaming_await_termination": false,
         |    "options": {"checkpointLocation": "${tmpDir("dl-nowait-ck")}"}
         |  }]
         |}""".stripMargin
    val active0 = spark.streams.active.length
    DataLoader.loadData(spark, acon) // returns without blocking
    val q = spark.streams.active.filterNot(_ => false)
    assert(spark.streams.active.length == active0 + 1)
    try {
      // the un-awaited query still delivers data
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var n = 0L
      while (n < 5 && System.nanoTime() < deadline) {
        n = try spark.read.parquet(out).count() catch { case _: Throwable => 0L }
        if (n < 5) Thread.sleep(200)
      }
      assert(n == 5, s"expected 5 streamed rows, saw $n")
    } finally spark.streams.active.foreach(_.stop())
  }

  test("partitioned write: layout on disk + partition pruning on read") {
    import spark.implicits._
    val out = tmpDir("dl-part") + "/t"
    val df = Seq((1, "2024-01", 5.0), (2, "2024-01", 6.0), (3, "2024-02", 7.0))
      .toDF("id", "month", "v")
    val acon =
      s"""{
         |  "input_specs": [{"spec_id": "src", "data_format": "dataframe", "df_name": "d"}],
         |  "output_specs": [{
         |    "spec_id": "tgt", "input_id": "src", "write_type": "overwrite",
         |    "data_format": "parquet", "location": "$out", "partitions": ["month"]
         |  }]
         |}""".stripMargin
    DataLoader.loadData(spark, acon, dfs = Map("d" -> df))
    assert(new java.io.File(s"$out/month=2024-01").isDirectory)
    val pruned = spark.read.parquet(out).where("month = '2024-02'")
    assert(pruned.count() == 1)
    val scan = pruned.queryExecution.executedPlan.toString()
    assert(scan.contains("PartitionFilters") &&
      scan.contains("month"), s"expected partition pruning:\n$scan")
  }

  test("streaming merge: upserts per micro-batch through foreachBatch") {
    import spark.implicits._
    val in = tmpDir("dl-smerge-in")
    val out = tmpDir("dl-smerge-out") + "/t"
    val ckpt = tmpDir("dl-smerge-ckpt")
    // seed the target, then stream a changes file into it
    Seq((1, 10.0), (2, 20.0)).toDF("id", "v").write.parquet(out)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$in/changes.csv"), "id,v\n2,25.0\n3,30.0\n")
    val acon =
      s"""{
         |  "input_specs": [{
         |    "spec_id": "src", "read_type": "streaming", "data_format": "csv",
         |    "location": "$in", "schema": "id INT, v DOUBLE",
         |    "options": {"header": "true"}
         |  }],
         |  "output_specs": [{
         |    "spec_id": "tgt", "input_id": "src", "write_type": "merge",
         |    "data_format": "parquet", "location": "$out",
         |    "streaming_trigger": "availableNow",
         |    "options": {"checkpointLocation": "$ckpt"},
         |    "merge_opts": {"merge_predicate": "current.id = new.id"}
         |  }]
         |}""".stripMargin
    DataLoader.loadData(spark, acon)
    val result = spark.read.parquet(out)
    val expected = Seq((1, 10.0), (2, 25.0), (3, 30.0)).toDF("id", "v")
    assertSameRows(result, expected)
  }

  test("schema evolution: appends with new columns surface via mergeSchema") {
    import spark.implicits._
    val out = tmpDir("dl-evolve") + "/t"
    def acon(df: String) =
      s"""{
         |  "input_specs": [{"spec_id": "src", "data_format": "dataframe", "df_name": "$df"}],
         |  "output_specs": [{
         |    "spec_id": "tgt", "input_id": "src", "write_type": "append",
         |    "data_format": "parquet", "location": "$out"
         |  }]
         |}""".stripMargin
    DataLoader.loadData(spark, acon("v1"),
      dfs = Map("v1" -> Seq((1, "a")).toDF("id", "name")))
    DataLoader.loadData(spark, acon("v2"),
      dfs = Map("v2" -> Seq((2, "b", 9.5)).toDF("id", "name", "score")))
    val evolved = spark.read.option("mergeSchema", "true").parquet(out)
    assert(evolved.columns.toSet == Set("id", "name", "score"))
    assert(evolved.where("id = 1 AND score IS NULL").count() == 1)
    assert(evolved.where("id = 2 AND score = 9.5").count() == 1)
  }

  test("schema evolution on merge loads: the reference autoMerge scenario matrix") {
    // Golden port of `tests/feature/test_schema_evolution.py` (delta-load
    // family): the acon's exec_env sets the Delta OSS conf
    // `spark.databricks.delta.schema.autoMerge.enabled` and the merge
    // writer evolves — or refuses to evolve — the target schema.
    import spark.implicits._

    def acon(out: String, dfName: String, autoMerge: Boolean) =
      s"""{
         |  "input_specs": [{"spec_id": "src", "data_format": "dataframe", "df_name": "$dfName"}],
         |  "output_specs": [{
         |    "spec_id": "tgt", "input_id": "src", "write_type": "merge",
         |    "data_format": "parquet", "location": "$out",
         |    "merge_opts": {"merge_predicate": "current.id = new.id"}
         |  }],
         |  "exec_env": {"spark.databricks.delta.schema.autoMerge.enabled": "$autoMerge"}
         |}""".stripMargin
    val init = Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "name", "amount")

    try {
      // enabled + ADD column: column appended; pre-existing rows null;
      // matched row takes the new value
      val outAdd = tmpDir("dl-evo-add") + "/t"
      DataLoader.loadData(spark, acon(outAdd, "init", autoMerge = true),
        dfs = Map("init" -> init))
      DataLoader.loadData(spark, acon(outAdd, "d", autoMerge = true),
        dfs = Map("d" -> Seq((2, "b2", 25.0, "EU"), (3, "c", 30.0, "US"))
          .toDF("id", "name", "amount", "region")))
      val add = spark.read.parquet(outAdd)
      assert(add.columns.toSet == Set("id", "name", "amount", "region"))
      assertSameRows(add, Seq(
        (1, "a", 10.0, null.asInstanceOf[String]), (2, "b2", 25.0, "EU"), (3, "c", 30.0, "US"))
        .toDF("id", "name", "amount", "region"))

      // disabled + ADD column: merge succeeds, the new column is IGNORED
      val outAdd2 = tmpDir("dl-evo-add2") + "/t"
      DataLoader.loadData(spark, acon(outAdd2, "init", autoMerge = false),
        dfs = Map("init" -> init))
      DataLoader.loadData(spark, acon(outAdd2, "d", autoMerge = false),
        dfs = Map("d" -> Seq((2, "b2", 25.0, "EU")).toDF("id", "name", "amount", "region")))
      val add2 = spark.read.parquet(outAdd2)
      assert(add2.columns.toSet == Set("id", "name", "amount"))
      assert(add2.where("id = 2 AND name = 'b2' AND amount = 25.0").count() == 1)

      // enabled + REMOVE column: column kept; UPDATED row keeps its target
      // value; INSERTED row reads null
      val outRm = tmpDir("dl-evo-rm") + "/t"
      DataLoader.loadData(spark, acon(outRm, "init", autoMerge = true),
        dfs = Map("init" -> init))
      DataLoader.loadData(spark, acon(outRm, "d", autoMerge = true),
        dfs = Map("d" -> Seq((2, 29.0), (3, 30.0)).toDF("id", "amount")))
      val rm = spark.read.parquet(outRm)
      assert(rm.columns.toSet == Set("id", "name", "amount"))
      assertSameRows(rm, Seq(
        (1, "a", 10.0), (2, "b", 29.0), (3, null.asInstanceOf[String], 30.0))
        .toDF("id", "name", "amount"))

      // disabled + REMOVE column: the merge FAILS (reference
      // auto_merge_disabled_remove_column expects an analysis error
      // naming the missing column)
      val outRm2 = tmpDir("dl-evo-rm2") + "/t"
      DataLoader.loadData(spark, acon(outRm2, "init", autoMerge = false),
        dfs = Map("init" -> init))
      val thrown = intercept[Exception] {
        DataLoader.loadData(spark, acon(outRm2, "d", autoMerge = false),
          dfs = Map("d" -> Seq((2, 29.0)).toDF("id", "amount")))
      }
      assert(thrown.getMessage.toLowerCase.contains("name"))

      // enabled + CAST column (int source for a double target): merge
      // succeeds, the target type does NOT change
      val outCast = tmpDir("dl-evo-cast") + "/t"
      DataLoader.loadData(spark, acon(outCast, "init", autoMerge = true),
        dfs = Map("init" -> init))
      DataLoader.loadData(spark, acon(outCast, "d", autoMerge = true),
        dfs = Map("d" -> Seq((2, "b2", 99)).toDF("id", "name", "amount")))
      val cast = spark.read.parquet(outCast)
      assert(cast.schema("amount").dataType ==
        org.apache.spark.sql.types.DoubleType)
      assert(cast.where("id = 2 AND amount = 99.0").count() == 1)

      // enabled + RENAME column (in the source file): treated as remove +
      // add — the old column persists, the renamed one lands as NEW
      // (reference auto_merge_enabled_rename_column_file)
      val outRen = tmpDir("dl-evo-ren") + "/t"
      DataLoader.loadData(spark, acon(outRen, "init", autoMerge = true),
        dfs = Map("init" -> init))
      DataLoader.loadData(spark, acon(outRen, "d", autoMerge = true),
        dfs = Map("d" -> Seq((2, "b2", 25.0), (3, "c", 30.0))
          .toDF("id", "full_name", "amount")))
      val ren = spark.read.parquet(outRen)
      assert(ren.columns.toSet == Set("id", "name", "amount", "full_name"))
      assert(ren.where("id = 2 AND name = 'b' AND full_name = 'b2'").count() == 1)
      assert(ren.where("id = 1 AND full_name IS NULL").count() == 1)
      assert(ren.where("id = 3 AND name IS NULL AND full_name = 'c'").count() == 1)

      // disabled + RENAME column: fails like a removed column
      val outRen2 = tmpDir("dl-evo-ren2") + "/t"
      DataLoader.loadData(spark, acon(outRen2, "init", autoMerge = false),
        dfs = Map("init" -> init))
      val renThrown = intercept[Exception] {
        DataLoader.loadData(spark, acon(outRen2, "d", autoMerge = false),
          dfs = Map("d" -> Seq((2, "b2", 25.0)).toDF("id", "full_name", "amount")))
      }
      assert(renThrown.getMessage.toLowerCase.contains("name"))
    } finally spark.conf.unset("spark.databricks.delta.schema.autoMerge.enabled")
  }

  test("acon validation fails fast on unsupported formats, before any IO") {
    import spark.implicits._
    // unsupported input format: raised with the format + spec id, and the
    // OUTPUT side never runs (no directory created)
    val out = tmpDir("dl-badfmt") + "/t"
    val bad = intercept[RuntimeException] {
      DataLoader.loadData(spark,
        s"""{
           |  "input_specs": [{"spec_id": "src", "data_format": "cloudfiles",
           |    "location": "/nope"}],
           |  "output_specs": [{"spec_id": "o", "input_id": "src",
           |    "write_type": "overwrite", "data_format": "parquet", "location": "$out"}]
           |}""".stripMargin)
    }
    assert(bad.getMessage.contains("Input format not supported: cloudfiles"))
    assert(bad.getMessage.contains("src"))
    assert(!new java.io.File(out).exists())
    // unsupported output format
    val bad2 = intercept[RuntimeException] {
      DataLoader.loadData(spark,
        """{
          |  "input_specs": [{"spec_id": "src", "data_format": "dataframe", "df_name": "d"}],
          |  "output_specs": [{"spec_id": "o", "input_id": "src",
          |    "write_type": "overwrite", "data_format": "excel", "location": "/nope"}]
          |}""".stripMargin, dfs = Map("d" -> Seq(1).toDF("id")))
    }
    assert(bad2.getMessage.contains("Output format not supported: excel"))
    // a db_table input with an exotic format tag is NOT rejected
    // (reference: presence of db_table bypasses the format check)
    graft.spec.AconValidation.validate(graft.spec.Acon(inputSpecs = Seq(
      graft.spec.InputSpec(specId = "t", dataFormat = Some("weird"),
        dbTable = Some("db.t")))))
  }

  test("dq spec: failing expectation raises; tagging adds dq_validations") {
    import spark.implicits._
    val df = Seq((1, "x"), (2, null.asInstanceOf[String]), (3, "z")).toDF("id", "name")
    val aconFail =
      """{
        |  "input_specs": [{"spec_id": "src", "data_format": "dataframe", "df_name": "d"}],
        |  "dq_specs": [{
        |    "spec_id": "dq1", "input_id": "src",
        |    "dq_functions": [
        |      {"function": "expect_column_values_to_not_be_null", "args": {"column": "name"}}
        |    ],
        |    "fail_on_error": true
        |  }]
        |}""".stripMargin
    intercept[graft.dq.DQValidationFailedException] {
      DataLoader.loadData(spark, aconFail, dfs = Map("d" -> df))
    }

    val aconTag = aconFail
      .replace("\"fail_on_error\": true",
        "\"fail_on_error\": false, \"tag_source_data\": true, \"max_percentage_failure\": 1.0")
    val outs = DataLoader.loadData(spark, aconTag, dfs = Map("d" -> df))
    // the tagged frame registers under the DQ spec's OWN id — reference
    // semantics (`data_loader.py:175` stores dfs[dq_spec.spec_id]); the
    // input spec's frame stays untagged, so an output chaining on the
    // INPUT id keeps writing the raw schema
    val tagged = outs("dq1")
    assert(tagged.columns.contains("dq_validations"))
    assert(tagged.where("dq_validations.run_row_success = false").count() == 1)
    assert(tagged.where("dq_validations.run_row_success = true").count() == 2)
    assert(!outs("src").columns.contains("dq_validations"),
      "tag_source_data must not mutate the input spec's frame")
  }

  test("a dq spec chaining on a later-listed dq spec fails with the fix, not a bare key error") {
    import spark.implicits._
    val df = Seq((1, "x")).toDF("id", "name")
    val acon =
      """{
        |  "input_specs": [{"spec_id": "src", "data_format": "dataframe", "df_name": "d"}],
        |  "dq_specs": [
        |    {"spec_id": "q2", "input_id": "q1",
        |     "dq_functions": [{"function": "expect_column_values_to_not_be_null",
        |                       "args": {"column": "name"}}]},
        |    {"spec_id": "q1", "input_id": "src",
        |     "dq_functions": [{"function": "expect_column_values_to_not_be_null",
        |                       "args": {"column": "name"}}]}
        |  ]
        |}""".stripMargin
    val err = intercept[Exception] {
      DataLoader.loadData(spark, acon, dfs = Map("d" -> df))
    }
    assert(err.getMessage.contains("dependency order"), err.getMessage)
  }

  test("deferred transformers survive a chained transform spec (streaming lineage)") {
    // transform A defers group_and_rank (StreamingUnsupported); transform
    // B chains on A stream-side (rename); the output chains on B. The
    // planner must collect A's deferred work through the transform
    // lineage — a single-level lookup (the reference's own limitation)
    // would silently write un-ranked data. Note the inherited jump-to-end
    // caveat: B's stream-side rename runs BEFORE A's deferred ranker, so
    // the deferred transformer must reference the post-stream-side schema
    // (here: B renames a column the ranker does not use).
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Int, String, Double)]
    mem.addData((1, "g1", 1.0), (2, "g1", 9.0), (3, "g2", 4.0))
    val sink = tmpDir("dl-chain-defer") + "/t"
    val acon =
      s"""{
         |  "input_specs": [{"spec_id": "src", "read_type": "streaming", "df_name": "d"}],
         |  "transform_specs": [
         |    {"spec_id": "ranked", "input_id": "src", "transformers": [
         |      {"function": "group_and_rank", "args": {
         |        "group_key": ["grp"], "ranking_key": ["score"]}}]},
         |    {"spec_id": "renamed", "input_id": "ranked", "transformers": [
         |      {"function": "rename", "args": {"cols": {"id": "rid"}}}]}
         |  ],
         |  "output_specs": [{
         |    "spec_id": "out", "input_id": "renamed", "write_type": "append",
         |    "data_format": "parquet", "location": "$sink",
         |    "streaming_available_now": true,
         |    "options": {"checkpointLocation": "${tmpDir("dl-chain-ckpt")}"}
         |  }]
         |}""".stripMargin
    DataLoader.loadData(spark, acon,
      dfs = Map("d" -> mem.toDF().toDF("id", "grp", "score")))
    val rows = spark.read.parquet(sink)
    // group_and_rank keeps the top row per group: ids 2 (g1, 9.0) and 3
    // (g2, 4.0) — and the downstream rename applied too
    assert(rows.columns.contains("rid"), rows.columns.mkString(","))
    assert(rows.select("rid").as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("self-referential dq spec (spec_id == input_id) does not hang the output planner") {
    // r6 advice: buildMicroBatchPlan's chain walk must terminate on
    // spec_id == input_id (a shape the reference accepts and q81 uses)
    import spark.implicits._
    val df = Seq((1, "x"), (2, "y")).toDF("id", "name")
    val out = tmpDir("dl-selfloop") + "/t"
    val acon =
      s"""{
         |  "input_specs": [{"spec_id": "cust", "data_format": "dataframe", "df_name": "d"}],
         |  "dq_specs": [{
         |    "spec_id": "cust", "input_id": "cust",
         |    "dq_functions": [
         |      {"function": "expect_column_values_to_not_be_null", "args": {"column": "name"}}
         |    ],
         |    "fail_on_error": true
         |  }],
         |  "output_specs": [{
         |    "spec_id": "tgt", "input_id": "cust", "write_type": "overwrite",
         |    "data_format": "parquet", "location": "$out"
         |  }]
         |}""".stripMargin
    DataLoader.loadData(spark, acon, dfs = Map("d" -> df))
    assert(spark.read.parquet(out).count() == 2)
  }

  test("multi-spec dq cycle (a -> b -> a) fails fast instead of dropping transformers") {
    // r8 advice: a cycle longer than the accepted self-referential shape
    // used to truncate the chain walk with sourceId still on a dq spec id,
    // silently losing that output's deferred transformers
    import spark.implicits._
    val df = Seq((1, "x")).toDF("id", "name")
    val out = tmpDir("dl-dqcycle") + "/t"
    // dq 'a' shadows-chains on input spec 'b'; dq 'b' chains back on 'a' —
    // every input_id resolves (so processDq runs clean) but the planner's
    // chain walk revisits 'a' through a two-spec cycle
    val acon =
      s"""{
         |  "input_specs": [{"spec_id": "b", "data_format": "dataframe", "df_name": "d"}],
         |  "dq_specs": [
         |    {"spec_id": "a", "input_id": "b",
         |     "dq_functions": [{"function": "expect_column_values_to_not_be_null",
         |                       "args": {"column": "name"}}]},
         |    {"spec_id": "b", "input_id": "a",
         |     "dq_functions": [{"function": "expect_column_values_to_not_be_null",
         |                       "args": {"column": "name"}}]}
         |  ],
         |  "output_specs": [{
         |    "spec_id": "tgt", "input_id": "a", "write_type": "overwrite",
         |    "data_format": "parquet", "location": "$out"
         |  }]
         |}""".stripMargin
    val e = intercept[RuntimeException] {
      DataLoader.loadData(spark, acon, dfs = Map("d" -> df))
    }
    assert(e.getMessage.contains("cycle"))
  }

  test("custom_transformation: ACON-provided function computes a KPI (reference calculate_kpi golden)") {
    // port of tests/feature/data_loader_custom_transformer/
    // test_data_loader_custom_transformer_calculate_kpi.py — the ACON names
    // a function the caller supplies (a Scala lambda here, a Python
    // callable there); fixture + control values are the reference's own
    val in = tmpDir("dl-kpi-in")
    val out = tmpDir("dl-kpi-out") + "/data"
    Files.writeString(Paths.get(in, "part-01.csv"),
      """salesorder|item|date|customer|article|amount
        |1|1|20160601|customer1|article1|1000
        |1|2|20160601|customer1|article2|2000
        |1|3|20160601|customer1|article3|500
        |""".stripMargin)
    val acon =
      s"""{
         |  "input_specs": [{
         |    "spec_id": "sales_source", "read_type": "batch", "data_format": "csv",
         |    "options": {"mode": "FAILFAST", "header": "true", "delimiter": "|", "inferSchema": "true"},
         |    "location": "$in"
         |  }],
         |  "transform_specs": [{
         |    "spec_id": "calculated_kpi", "input_id": "sales_source",
         |    "transformers": [{"function": "custom_transformation",
         |      "args": {"function_name": "yet_another_kpi_calculator"}}]
         |  }],
         |  "output_specs": [{
         |    "spec_id": "sales_bronze", "input_id": "calculated_kpi",
         |    "write_type": "overwrite", "data_format": "delta", "location": "$out"
         |  }]
         |}""".stripMargin
    DataLoader.loadData(spark, acon, customFns = Map(
      "yet_another_kpi_calculator" -> { df =>
        df.createOrReplaceTempView("sales")
        spark.sql("SELECT date, SUM(amount) AS amount FROM sales GROUP BY date")
      }))
    val result = spark.read.parquet(out).collect()
    assert(result.length == 1)
    assert(result.head.getAs[Any]("date").toString == "20160601")
    assert(result.head.getAs[Any]("amount").toString == "3500")
  }

  test("full pipeline: transform + DQ gate + merge write + notify terminator") {
    import spark.implicits._
    val out = tmpDir("dl-e2e") + "/t"
    val sent = scala.collection.mutable.ArrayBuffer.empty[Notifier.Notification]
    val prev = Notifier.setTransport(sent += _)
    try {
      val init = Seq((1, "a", 10.0), (2, "b", -5.0), (3, "c", 30.0))
        .toDF("id", "name", "amount")
      val acon =
        s"""{
           |  "input_specs": [{"spec_id": "src", "data_format": "dataframe", "df_name": "d"}],
           |  "transform_specs": [{
           |    "spec_id": "clean", "input_id": "src",
           |    "transformers": [
           |      {"function": "expression_filter", "args": {"exp": "amount > 0"}},
           |      {"function": "with_literals", "args": {"literals": {"src_system": "unit"}}}
           |    ]
           |  }],
           |  "dq_specs": [{
           |    "spec_id": "gate", "input_id": "clean",
           |    "dq_functions": [
           |      {"function": "expect_column_values_to_not_be_null", "args": {"column": "name"}},
           |      {"function": "expect_table_row_count_to_be_between", "args": {"min_value": 1}}
           |    ],
           |    "fail_on_error": true
           |  }],
           |  "output_specs": [{
           |    "spec_id": "tgt", "input_id": "clean", "write_type": "merge",
           |    "data_format": "parquet", "location": "$out",
           |    "merge_opts": {"merge_predicate": "current.id = new.id"}
           |  }],
           |  "terminate_specs": [{
           |    "function": "notify",
           |    "args": {"to": "ops", "subject": "load {{ state }}",
           |             "message": "done", "state": "ok", "on_failure": false}
           |  }]
           |}""".stripMargin
      DataLoader.loadData(spark, acon, dfs = Map("d" -> init))
      val result = spark.read.parquet(out)
      assert(result.count() == 2) // negative-amount row filtered before merge
      assert(result.columns.contains("src_system"))
      assert(sent.length == 1 && sent.head.subject == "load ok")
    } finally Notifier.setTransport(prev)
  }

  test("optimize_dataset terminator: compaction, zorder cols and where scoping") {
    import spark.implicits._
    import graft.spec.TerminatorSpec
    val loc = tmpDir("termopt") + "/t"
    (1 to 200).map(i => (i.toLong, (i % 7).toLong)).toDF("x", "y")
      .repartition(12).write.mode("overwrite").parquet(loc)
    Terminators.run(spark, TerminatorSpec("optimize_dataset",
      Map("location" -> loc, "target_partitions" -> 2,
        "optimize_zorder_col_list" -> "x,y")))
    assert(spark.read.parquet(loc).inputFiles.length == 2)
    assert(spark.read.parquet(loc).agg(org.apache.spark.sql.functions.sum("x"))
      .head.getLong(0) == 200L * 201 / 2)

    val ploc = tmpDir("termopt") + "/p"
    (1 to 100).map(i => (i % 2, i.toLong)).toDF("p", "v")
      .repartition(6).write.partitionBy("p").mode("overwrite").parquet(ploc)
    Terminators.run(spark, TerminatorSpec("optimize_dataset",
      Map("location" -> ploc, "target_partitions" -> 1,
        "optimize_where" -> "p = 0")))
    val fs = new org.apache.hadoop.fs.Path(ploc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$ploc/p=0"))
      .count(_.getPath.getName.endsWith(".parquet")) == 1)
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$ploc/p=1"))
      .count(_.getPath.getName.endsWith(".parquet")) > 1)
  }

  test("optimize_dataset on a partitioned location keeps the partition layout") {
    import spark.implicits._
    import graft.spec.TerminatorSpec
    val loc = tmpDir("termopt-parts") + "/t"
    (1 to 120).map(i => (i.toLong, i % 3, s"r${i % 2}")).toDF("v", "day", "region")
      .repartition(6).write.partitionBy("day", "region").mode("overwrite").parquet(loc)
    val before = spark.read.parquet(loc).as[(Long, Int, String)].collect().sorted.toSeq
    Terminators.run(spark, TerminatorSpec("optimize_dataset", Map("location" -> loc)))
    val root = new org.apache.hadoop.fs.Path(loc)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.io.PartitionedRewrite.discoverLayout(fs, root) == Seq("day", "region"))
    assert(fs.listStatus(root).count(_.getPath.getName.endsWith(".parquet")) == 0,
      "compaction wrote data files at the root")
    // one file per partition dir, and the same rows
    val dirs = graft.io.PartitionedRewrite.listPartitionDirs(fs, root, 2)
    assert(dirs.size == 6)
    dirs.foreach(d => assert(fs.listStatus(new org.apache.hadoop.fs.Path(root, d))
      .count(_.getPath.getName.endsWith(".parquet")) == 1, d))
    assert(spark.read.parquet(loc).as[(Long, Int, String)].collect().sorted.toSeq == before)
  }

  test("tokenizer-to-shards: bpe_tokenize -> sequence_pack + shard_export through one ACON") {
    import spark.implicits._
    val docs = Seq(
      (1L, "low low low lower newest newest widest"),
      (2L, "newest widest low lower"),
      (3L, "the quick brown fox jumps over the lazy dog"),
      (4L, "low newest the fox"),
      (5L, "widest widest lower lower newest"),
      (6L, "dog fox quick the the"))
      .toDF("doc_id", "text")
    val base = tmpDir("tok-shards")
    val shardsLoc = s"$base/shards"
    val packOut = s"$base/packs"
    val manifestOut = s"$base/manifest"
    val acon =
      s"""{
         |  "input_specs": [{"spec_id": "docs", "data_format": "dataframe", "df_name": "docs"}],
         |  "transform_specs": [
         |    {"spec_id": "tokenized", "input_id": "docs", "transformers": [
         |      {"function": "bpe_tokenize",
         |       "args": {"id_col": "doc_id", "text_col": "text", "num_merges": 12}}]},
         |    {"spec_id": "packed", "input_id": "tokenized", "transformers": [
         |      {"function": "sequence_pack",
         |       "args": {"id_col": "doc_id", "text_col": "subwords",
         |                "token_budget": 16, "n_shards": 2}}]},
         |    {"spec_id": "sharded", "input_id": "tokenized", "transformers": [
         |      {"function": "shard_export",
         |       "args": {"id_col": "doc_id", "location": "$shardsLoc",
         |                "rows_per_shard": 2, "sort_partitions": 2}}]}
         |  ],
         |  "output_specs": [
         |    {"spec_id": "pack_manifest", "input_id": "packed",
         |     "write_type": "overwrite", "data_format": "parquet", "location": "$packOut"},
         |    {"spec_id": "shard_manifest", "input_id": "sharded",
         |     "write_type": "overwrite", "data_format": "parquet", "location": "$manifestOut"}
         |  ]
         |}""".stripMargin
    DataLoader.loadData(spark, acon, dfs = Map("docs" -> docs))

    // oracle: the same three stages composed directly
    val merges = graft.functions.Bpe.train(docs, "text", 12)
    val encoded = graft.functions.Bpe.encode(docs, "doc_id", "text", merges)
      .withColumnRenamed("id", "doc_id")
    assertSameRows(
      spark.read.parquet(packOut),
      graft.operators.TrainingData.packSequences(
        encoded, "doc_id", "subwords", tokenBudget = 16, nShards = 2))

    // the shards really landed, hive-partitioned, with the full corpus
    val shardData = spark.read.parquet(s"$shardsLoc/data")
    assert(shardData.count() == 6)
    assert(shardData.columns.contains("shard"))
    assert(shardData.select("shard").distinct().count() == 3) // 6 rows / 2 per shard
    assertSameRows(
      shardData.select("doc_id", "n_subwords", "subwords"),
      encoded.select("doc_id", "n_subwords", "subwords"))
    // manifest written by the output spec == manifest beside the shards
    assertSameRows(
      spark.read.parquet(manifestOut),
      spark.read.parquet(s"$shardsLoc/manifest"))
    // shards are contiguous id ranges (range-partitioned, rank-sharded)
    val m = spark.read.parquet(manifestOut).orderBy("shard")
      .select("shard", "n_rows", "min_id", "max_id")
      .as[(Long, Long, Long, Long)].collect()
    assert(m.map(_._2).sum == 6)
    m.sliding(2).foreach {
      case Array(a, b) => assert(a._4 < b._3)
      case _ =>
    }
  }

  test("expose_cdf terminator: first expose all-inserts, diff on change, clean_cdf drops old commits") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.spec.TerminatorSpec
    val base = tmpDir("cdf")
    val srcLoc = s"$base/src"
    val matLoc = s"$base/mat"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.mode("overwrite").parquet(srcLoc)

    // first expose: CDF-from-version-0 semantics — whole table as inserts
    Terminators.run(spark, TerminatorSpec("expose_cdf", Map(
      "location" -> srcLoc, "materialized_cdf_location" -> matLoc,
      "commit_timestamp" -> "20260101000000", "clean_cdf" -> false)))
    val first = spark.read.parquet(matLoc)
    assert(first.count() == 3)
    assert(first.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSet == Set("insert"))
    assert(first.columns.contains("_commit_timestamp"))

    // change the source: drop id=2, add id=4 -> delete + insert rows only
    Seq((1L, "a"), (3L, "c"), (4L, "d")).toDF("id", "v")
      .write.mode("overwrite").parquet(srcLoc)
    Terminators.run(spark, TerminatorSpec("expose_cdf", Map(
      "location" -> srcLoc, "materialized_cdf_location" -> matLoc,
      "commit_timestamp" -> "20260102000000", "clean_cdf" -> false)))
    val second = spark.read.parquet(matLoc)
      .where(col("_commit_timestamp") === "20260102000000")
    val changes = second.select("id", "_change_type").as[(Long, String)]
      .collect().toSet
    assert(changes == Set((2L, "delete"), (4L, "insert")))

    // idempotent state: a third expose with no source change emits nothing
    Terminators.run(spark, TerminatorSpec("expose_cdf", Map(
      "location" -> srcLoc, "materialized_cdf_location" -> matLoc,
      "commit_timestamp" -> "20260103000000", "clean_cdf" -> false)))
    assert(spark.read.parquet(matLoc)
      .where(col("_commit_timestamp") === "20260103000000").count() == 0)

    // clean_cdf: commits older than days_to_keep vanish as a partition
    // drop (the 2026 test stamps are in the past relative to now; the
    // fresh 2099 commit carries a new insert and survives)
    Seq((1L, "a"), (3L, "c"), (4L, "d"), (5L, "e")).toDF("id", "v")
      .write.mode("overwrite").parquet(srcLoc)
    Terminators.run(spark, TerminatorSpec("expose_cdf", Map(
      "location" -> srcLoc, "materialized_cdf_location" -> matLoc,
      "commit_timestamp" -> "20990101000000",
      "clean_cdf" -> true, "days_to_keep" -> 1)))
    val kept = spark.read.parquet(matLoc)
      .select(col("_commit_timestamp").cast("string"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(kept == Set("20990101000000"))
  }
}
