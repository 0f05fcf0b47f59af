package graft.dq

import graft.SparkSpec
import graft.spec.{DQFunctionSpec, DQSpec}

class DQEngineSpec extends SparkSpec {

  import spark.implicits._

  private def df = Seq(
    (1, "a", 10.0, "2030-01-01"), (2, "b", 20.0, "2030-01-02"),
    (3, null.asInstanceOf[String], 30.0, "2030-01-03"), (4, "d", -1.0, "2030-01-04"))
    .toDF("id", "name", "amount", "d")

  private def spec(fns: (String, Map[String, Any])*): DQSpec =
    DQSpec("t", "t", dqFunctions = fns.map { case (f, a) => DQFunctionSpec(f, a) },
      failOnError = false, maxPercentageFailure = Some(1.0))

  test("row-level expectations evaluate in one pass with correct counts") {
    val r = DQEngine.run(spark, df, spec(
      "expect_column_values_to_not_be_null" -> Map("column" -> "name"),
      "expect_column_values_to_be_between" -> Map("column" -> "amount", "min_value" -> 0),
      "expect_column_values_to_be_in_set" -> Map("column" -> "id", "value_set" -> Seq(1, 2, 3, 4))))
    val byFn = r.outcomes.map(o => o.function -> o).toMap
    assert(byFn("expect_column_values_to_not_be_null").unexpectedCount == 1)
    assert(byFn("expect_column_values_to_be_between").unexpectedCount == 1)
    assert(byFn("expect_column_values_to_be_in_set").success)
    assert(!r.success)
  }

  test("row and aggregate table expectations share one SQL execution") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        seen.add(qe.analyzed.toString)
      def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit =
        seen.add(qe.analyzed.toString)
    }
    // listener events arrive asynchronously, in order: bracket the run
    // with two marker actions and count the executions between them
    def mark(m: String): Unit = {
      spark.range(1).select(org.apache.spark.sql.functions.lit(m).as("m")).collect()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.toArray.exists(_.toString.contains(m)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.toArray.exists(_.toString.contains(m)), s"no event for $m")
    }
    spark.listenerManager.register(listener)
    try {
      mark("dq-start-marker")
      val r = DQEngine.run(spark, df, spec(
        "expect_column_values_to_not_be_null" -> Map("column" -> "name"),
        "expect_column_values_to_be_between" -> Map("column" -> "amount", "min_value" -> 0),
        "expect_table_row_count_to_be_between" -> Map("min_value" -> 1),
        "expect_column_max_to_be_between" -> Map("column" -> "amount", "max_value" -> 100)))
      mark("dq-end-marker")
      val between = seen.toArray.map(_.toString)
        .dropWhile(!_.contains("dq-start-marker")).drop(1)
        .takeWhile(!_.contains("dq-end-marker"))
      assert(between.length == 1, between.mkString("\n---\n"))
      val byFn = r.outcomes.map(o => o.function -> o).toMap
      assert(byFn("expect_column_values_to_not_be_null").unexpectedCount == 1)
      assert(!byFn("expect_column_values_to_be_between").success)
      assert(byFn("expect_table_row_count_to_be_between").success)
      assert(byFn("expect_column_max_to_be_between").success)
    } finally spark.listenerManager.unregister(listener)
  }

  test("mostly threshold tolerates a failing fraction") {
    val r = DQEngine.run(spark, df, spec(
      "expect_column_values_to_not_be_null" -> Map("column" -> "name", "mostly" -> 0.7)))
    assert(r.outcomes.head.success) // 3/4 = 0.75 >= 0.7
  }

  test("an empty input is a vacuous pass for row expectations, never an NPE") {
    // sum() over zero rows is NULL: the one-pass aggregate must read its
    // slots null-safely — the empty-streaming-micro-batch case routed
    // through foreachBatch DQ
    val empty = df.where("id < 0")
    val r = DQEngine.run(spark, empty, spec(
      "expect_column_values_to_not_be_null" -> Map("column" -> "name"),
      "expect_column_values_to_be_in_set" -> Map("column" -> "id", "value_set" -> Seq(1))))
    assert(r.success)
    assert(r.outcomes.forall(o => o.success && o.elementCount == 0 &&
      o.unexpectedCount == 0))
  }

  test("GX column-map semantics: NULL values are missing, not unexpected") {
    // in_set over a column with a null: GX filters unexpected rows as
    // ~condition (dropping nulls) and evaluates mostly against the
    // NON-MISSING count. name = (a, b, null, d); set contains only a, b.
    val r = DQEngine.run(spark, df, spec(
      "expect_column_values_to_be_in_set" ->
        Map("column" -> "name", "value_set" -> Seq("a", "b"))))
    val o = r.outcomes.head
    assert(o.unexpectedCount == 1, s"only 'd' is unexpected; null is missing: $o")
    assert(o.elementCount == 4, "element_count stays the TOTAL row count (GX)")
    assert(!o.success)
    // mostly over the non-missing denominator: 2 of 3 non-null pass
    // (0.667 >= 0.6), where a count(*) denominator would see 2/4 = 0.5
    val r2 = DQEngine.run(spark, df, spec(
      "expect_column_values_to_be_in_set" ->
        Map("column" -> "name", "value_set" -> Seq("a", "b"), "mostly" -> 0.6)))
    assert(r2.outcomes.head.success)
    // not_be_null still counts nulls as unexpected (its predicate is
    // never NULL — nulls are the very thing it checks)
    val r3 = DQEngine.run(spark, df, spec(
      "expect_column_values_to_not_be_null" -> Map("column" -> "name")))
    assert(r3.outcomes.head.unexpectedCount == 1)
  }

  test("be_between takes date-string bounds; non-numeric aggregate bounds fail loudly") {
    // GX accepts datetime bounds — previously num() silently dropped the
    // string and the expectation became a vacuous always-pass
    val r = DQEngine.run(spark, df.selectExpr("CAST(d AS DATE) AS d"), spec(
      "expect_column_values_to_be_between" ->
        Map("column" -> "d", "min_value" -> "2030-01-02")))
    val o = r.outcomes.head
    assert(o.unexpectedCount == 1, s"2030-01-01 is below the bound: $o")
    // a string bound on an AGGREGATE expectation is unsupported: loud,
    // not vacuous
    val err = intercept[Exception] {
      DQEngine.run(spark, df, spec(
        "expect_column_max_to_be_between" ->
          Map("column" -> "amount", "max_value" -> "lots")))
    }
    assert(err.getMessage.contains("non-numeric"), err.getMessage)
  }

  test("mostly applies to uniqueness expectations; null keys are missing") {
    // id values (1,1,2,null): 2 duplicate rows of 3 non-null -> 1/3 ok
    // under the strict default, but mostly=0.3 passes; the null row is
    // neither unexpected nor in the denominator (GX column-map)
    val dup = Seq(Some(1), Some(1), Some(2), None).toDF("id")
    val strict = DQEngine.run(spark, dup, spec(
      "expect_column_values_to_be_unique" -> Map("column" -> "id")))
    assert(!strict.outcomes.head.success &&
      strict.outcomes.head.unexpectedCount == 2)
    val tolerant = DQEngine.run(spark, dup, spec(
      "expect_column_values_to_be_unique" -> Map("column" -> "id", "mostly" -> 0.3)))
    assert(tolerant.outcomes.head.success)
    // compound: rows with ALL key columns null are ignored
    val cdup = Seq((Some(1), Some("x")), (Some(1), Some("x")),
      (None, None), (Some(2), Some("y"))).toDF("a", "b")
    val compound = DQEngine.run(spark, cdup, spec(
      "expect_compound_columns_to_be_unique" ->
        Map("column_list" -> Seq("a", "b"), "mostly" -> 0.3)))
    assert(compound.outcomes.head.success &&
      compound.outcomes.head.unexpectedCount == 2)
  }

  test("queried-agg expectation neither clobbers nor leaks a user view named 'batch'") {
    Seq((99, "mine")).toDF("id", "tag").createOrReplaceTempView("batch")
    try {
      val r = DQEngine.run(spark, df, spec(
        "expect_queried_column_agg_value_to_be" ->
          Map("query" -> "SELECT sum(amount) FROM {table}",
            "min_value" -> 0, "max_value" -> 100)))
      assert(r.outcomes.head.success)
      // the user's view survives with its own contents
      assert(spark.table("batch").select("tag").collect().map(_.getString(0))
        .toSeq == Seq("mine"))
      // and no run-scoped view leaks into the catalog
      assert(!spark.catalog.listTables().collect()
        .exists(_.name.startsWith("graft_dq_batch_")))
    } finally spark.catalog.dropTempView("batch")
  }

  test("custom pair expectations") {
    val pairs = Seq((1.0, 2.0, "x", "x"), (5.0, 3.0, "y", "z")).toDF("a", "b", "s1", "s2")
    val r = DQEngine.run(spark, pairs, spec(
      "expect_column_pair_a_to_be_smaller_or_equal_than_b" ->
        Map("column_A" -> "a", "column_B" -> "b"),
      "expect_column_pair_a_to_be_not_equal_to_b" ->
        Map("column_A" -> "s1", "column_B" -> "s2")))
    val byFn = r.outcomes.map(o => o.function -> o).toMap
    assert(byFn("expect_column_pair_a_to_be_smaller_or_equal_than_b").unexpectedCount == 1)
    assert(byFn("expect_column_pair_a_to_be_not_equal_to_b").unexpectedCount == 1)
  }

  test("table-level expectations") {
    val r = DQEngine.run(spark, df, spec(
      "expect_table_row_count_to_be_between" -> Map("min_value" -> 1, "max_value" -> 10),
      "expect_column_values_to_be_unique" -> Map("column" -> "id"),
      "expect_queried_column_agg_value_to_be" ->
        Map("query" -> "SELECT sum(amount) FROM {table}", "min_value" -> 0, "max_value" -> 100)))
    assert(r.outcomes.forall(_.success))
  }

  test("agg-value expectation coerces string-typed aggregates like the reference") {
    // The reference's own scenario schemas declare every column as string
    // (custom_expectations/expect_queried_column_agg_value_to_be/batch.json),
    // so the raw-query aggregate can arrive as '900'; `_generate_dict`
    // int()-coerces it. Pin: string passes, numeric passes, and only a
    // genuinely non-numeric aggregate raises a clear error.
    val stringTyped = Seq(("x", "900"), ("y", "900")).toDF("k", "amount")
    val r = DQEngine.run(spark, stringTyped, spec(
      "expect_queried_column_agg_value_to_be" ->
        Map("query" -> "SELECT max(amount) FROM {table}",
          "min_value" -> 800, "max_value" -> 1000)))
    assert(r.outcomes.head.success)
    assert(r.outcomes.head.observedValue.contains(900.0))
    val numeric = DQEngine.run(spark, df, spec(
      "expect_queried_column_agg_value_to_be" ->
        Map("query" -> "SELECT sum(amount) FROM {table}", "min_value" -> 0)))
    assert(numeric.outcomes.head.success)
    val e = intercept[IllegalArgumentException] {
      DQEngine.run(spark, stringTyped, spec(
        "expect_queried_column_agg_value_to_be" ->
          Map("query" -> "SELECT max(k) FROM {table}", "min_value" -> 0)))
    }
    assert(e.getMessage.contains("numeric aggregate"))
  }

  test("raw-query agg expectation validates every row's last column") {
    // pre-r14 contract restored (per advisor): a raw GROUP BY query
    // projects group cols first and the aggregate LAST, and EVERY group
    // must pass — one out-of-range group fails the expectation.
    val r = DQEngine.run(spark, df, spec(
      "expect_queried_column_agg_value_to_be" ->
        Map("query" -> "SELECT id, sum(amount) FROM {table} GROUP BY id",
          "min_value" -> 0, "max_value" -> 100)))
    val o = r.outcomes.head
    assert(!o.success)            // id=4 sums to -1.0 < 0
    assert(o.elementCount == 4L)  // all four groups validated
    assert(o.unexpectedCount == 1L)
  }

  test("DELIBERATE DIVERGENCE: only the LAST group passing still fails here") {
    // The reference's `_validate_condition`
    // (expect_queried_column_agg_value_to_be.py) overwrites `result`
    // on every iteration of the grouped rows, so ONLY the final row
    // decides success — a reference bug (documented at
    // DQEngine.scala aggValue/all-groups comment). This engine requires
    // EVERY group to pass. Pin the divergent case itself: an ORDER BY
    // makes the last row deterministic and PASSING, while an earlier
    // group fails — the reference would report success=True here; this
    // engine deliberately reports success=False.
    val grouped = Seq(("a", -5.0), ("z", 50.0)).toDF("k", "v")
    val r = DQEngine.run(spark, grouped, spec(
      "expect_queried_column_agg_value_to_be" ->
        Map("query" -> "SELECT k, sum(v) FROM {table} GROUP BY k ORDER BY k",
          "min_value" -> 0, "max_value" -> 100)))
    val o = r.outcomes.head
    assert(!o.success)            // group 'a' (-5.0) fails; 'z' (last) passes
    assert(o.elementCount == 2L)
    assert(o.unexpectedCount == 1L)
  }

  test("distinct-set expectation stays bounded on a high-cardinality column") {
    // 5000 distinct values (> UnexpectedSampleLimit): the outcome must
    // carry full counts but only a bounded violation sample — the full
    // distinct set is never collected to the driver.
    val wide = spark.range(5000).selectExpr("concat('v', id) AS k")
    val r = DQEngine.run(spark, wide, spec(
      "expect_column_distinct_values_to_be_in_set" ->
        Map("column" -> "k", "value_set" -> Seq("v0", "v1"))))
    val o = r.outcomes.head
    assert(!o.success)
    assert(o.elementCount == 5000L)
    assert(o.unexpectedCount == 4998L)
    assert(o.unexpectedIndexList.size == DQEngine.UnexpectedSampleLimit)
    assert(o.unexpectedIndexList.forall(v => v != "v0" && v != "v1"))
    // null values compare as the string "null" (String.valueOf semantics)
    val withNull = Seq(Some("a"), None).toDF("k")
    val r2 = DQEngine.run(spark, withNull, spec(
      "expect_column_distinct_values_to_be_in_set" ->
        Map("column" -> "k", "value_set" -> Seq("a", "null"))))
    assert(r2.outcomes.head.success)
  }

  test("schema-level expectations need no data scan") {
    val r = DQEngine.run(spark, df, spec(
      "expect_column_to_exist" -> Map("column" -> "amount"),
      "expect_column_to_exist" -> Map("column" -> "name", "column_index" -> 1),
      "expect_table_column_count_to_be_between" -> Map("min_value" -> 2, "max_value" -> 4),
      "expect_table_columns_to_match_ordered_list" ->
        Map("column_list" -> Seq("id", "name", "amount", "d")),
      "expect_table_columns_to_match_set" ->
        Map("column_set" -> Seq("name", "id"), "exact_match" -> false)))
    assert(r.outcomes.forall(_.success))
    val bad = DQEngine.run(spark, df, spec(
      "expect_column_to_exist" -> Map("column" -> "ghost"),
      "expect_table_columns_to_match_set" -> Map("column_set" -> Seq("id"))))
    assert(bad.outcomes.forall(!_.success))
  }

  test("row-level gallery: like pattern, length equal, pair equal, multicolumn sum") {
    val rows = Seq((1.0, 2.0, 3.0, "ab", "x", "x"), (1.0, 1.0, 3.0, "abc", "y", "z"))
      .toDF("a", "b", "t", "s", "p1", "p2")
    val r = DQEngine.run(spark, rows, spec(
      "expect_multicolumn_sum_to_equal" ->
        Map("column_list" -> Seq("a", "b"), "sum_total" -> 3.0),
      "expect_column_pair_values_to_be_equal" ->
        Map("column_A" -> "p1", "column_B" -> "p2"),
      "expect_column_value_lengths_to_equal" -> Map("column" -> "s", "value" -> 2),
      "expect_column_values_to_match_like_pattern" ->
        Map("column" -> "s", "like_pattern" -> "ab%")))
    val byFn = r.outcomes.map(o => o.function -> o).toMap
    assert(byFn("expect_multicolumn_sum_to_equal").unexpectedCount == 1) // 1+1 != 3
    assert(byFn("expect_column_pair_values_to_be_equal").unexpectedCount == 1)
    assert(byFn("expect_column_value_lengths_to_equal").unexpectedCount == 1)
    assert(byFn("expect_column_values_to_match_like_pattern").success)
  }

  test("type checks, compound uniqueness, within-record uniqueness, z-scores") {
    val rows = Seq((1, 1, 10.0), (1, 2, 11.0), (1, 2, 9.0), (2, 2, 10.0))
      .toDF("a", "b", "x")
    val r = DQEngine.run(spark, rows, spec(
      "expect_column_values_to_be_of_type" -> Map("column" -> "a", "type_" -> "IntegerType"),
      "expect_column_values_to_be_of_type" -> Map("column" -> "x", "type_" -> "double"),
      "expect_column_values_to_be_in_type_list" ->
        Map("column" -> "a", "type_list" -> Seq("StringType", "int")),
      "expect_compound_columns_to_be_unique" -> Map("column_list" -> Seq("a", "b")),
      "expect_select_column_values_to_be_unique_within_record" ->
        Map("column_list" -> Seq("a", "b")),
      "expect_column_value_z_scores_to_be_less_than" ->
        Map("column" -> "x", "threshold" -> 3.0)))
    def byFn(name: String) = r.outcomes.filter(_.function == name)
    assert(byFn("expect_column_values_to_be_of_type").forall(_.success))
    assert(byFn("expect_column_values_to_be_in_type_list").head.success)
    val compound = byFn("expect_compound_columns_to_be_unique").head
    assert(!compound.success && compound.unexpectedCount == 2) // (1,2) twice
    val withinRec =
      byFn("expect_select_column_values_to_be_unique_within_record").head
    assert(!withinRec.success && withinRec.unexpectedCount == 2) // rows a==b
    assert(byFn("expect_column_value_z_scores_to_be_less_than").head.success)
    val badType = DQEngine.run(spark, rows, spec(
      "expect_column_values_to_be_of_type" -> Map("column" -> "a", "type_" -> "string"),
      "expect_column_value_z_scores_to_be_less_than" ->
        Map("column" -> "x", "threshold" -> 0.5)))
    assert(badType.outcomes.forall(!_.success)) // wrong type; z=0.5 breached
    // constant column: stddev 0 -> vacuously within any z threshold
    assert(DQEngine.run(spark, Seq(5.0, 5.0).toDF("x"), spec(
      "expect_column_value_z_scores_to_be_less_than" ->
        Map("column" -> "x", "threshold" -> 1.0))).outcomes.head.success)
  }

  test("critical aggregate expectation escalates through the combined pass") {
    // aggregate expectations are coalesced into one df.agg action; the
    // per-instance critical flag must survive the index mapping
    val ex = intercept[DQValidationFailedException] {
      DQEngine.run(spark, df, DQSpec("t", "t",
        dqFunctions = Seq(DQFunctionSpec("expect_column_mean_to_be_between",
          Map("column" -> "amount", "min_value" -> 10, "max_value" -> 20))),
        criticalFunctions = Seq(DQFunctionSpec("expect_column_max_to_be_between",
          Map("column" -> "amount", "max_value" -> 5))),
        failOnError = false, maxPercentageFailure = Some(1.0)))
    }
    assert(ex.getMessage.contains("expect_column_max_to_be_between"))
  }

  test("quantile/unique/mode aggregate families") {
    val vals = (Seq.fill(5)(1.0) ++ Seq(2.0, 3.0, 4.0, 5.0, 100.0)).toDF("x")
    val r = DQEngine.run(spark, vals, spec(
      "expect_column_median_to_be_between" ->
        Map("column" -> "x", "min_value" -> 1, "max_value" -> 3),
      "expect_column_quantile_values_to_be_between" ->
        Map("column" -> "x", "quantile_ranges" -> Map(
          "quantiles" -> Seq(0.0, 1.0),
          "value_ranges" -> Seq(Seq(0.0, 2.0), Seq(50.0, 200.0)))),
      "expect_column_unique_value_count_to_be_between" ->
        Map("column" -> "x", "min_value" -> 6, "max_value" -> 6),
      "expect_column_proportion_of_unique_values_to_be_between" ->
        Map("column" -> "x", "min_value" -> 0.5, "max_value" -> 0.7),
      "expect_column_most_common_value_to_be_in_set" ->
        Map("column" -> "x", "value_set" -> Seq("1.0")),
      "expect_column_distinct_values_to_contain_set" ->
        Map("column" -> "x", "value_set" -> Seq("1.0", "100.0")),
      "expect_column_distinct_values_to_equal_set" ->
        Map("column" -> "x", "value_set" ->
          Seq("1.0", "2.0", "3.0", "4.0", "5.0", "100.0"))))
    assert(r.outcomes.forall(_.success), r.outcomes.filterNot(_.success).toString)
    val bad = DQEngine.run(spark, vals, spec(
      "expect_column_most_common_value_to_be_in_set" ->
        Map("column" -> "x", "value_set" -> Seq("2.0")),
      "expect_column_distinct_values_to_contain_set" ->
        Map("column" -> "x", "value_set" -> Seq("1.0", "7.0")),
      "expect_column_distinct_values_to_equal_set" ->
        Map("column" -> "x", "value_set" -> Seq("1.0"))))
    assert(bad.outcomes.forall(!_.success))
    assert(bad.outcomes(1).unexpectedCount == 1) // "7.0" missing
    assert(bad.outcomes(2).unexpectedCount == 5) // 5 extra distinct values
    // duplicates in value_set must not inflate the wanted count into
    // false failures (r6 advice: missing = want.length - present)
    val dup = DQEngine.run(spark, vals, spec(
      "expect_column_distinct_values_to_contain_set" ->
        Map("column" -> "x", "value_set" -> Seq("1.0", "1.0", "100.0")),
      "expect_column_distinct_values_to_equal_set" ->
        Map("column" -> "x", "value_set" ->
          Seq("1.0", "1.0", "2.0", "3.0", "4.0", "5.0", "100.0", "100.0"))))
    assert(dup.outcomes.forall(_.success),
      dup.outcomes.filterNot(_.success).toString)
  }

  test("row-count equality and strftime format expectations") {
    df.limit(2).createOrReplaceTempView("dq_other_two")
    val dates = Seq("2024-01-15", "2024-13-40", "not a date").toDF("d")
    val r = DQEngine.run(spark, dates, spec(
      "expect_table_row_count_to_equal" -> Map("value" -> 3),
      "expect_column_values_to_match_strftime_format" ->
        Map("column" -> "d", "strftime_format" -> "%Y-%m-%d")))
    val byFn = r.outcomes.map(o => o.function -> o).toMap
    assert(byFn("expect_table_row_count_to_equal").success)
    assert(byFn("expect_column_values_to_match_strftime_format").unexpectedCount == 2)
    val r2 = DQEngine.run(spark, df, spec(
      "expect_table_row_count_to_equal_other_table" ->
        Map("other_table_name" -> "dq_other_two")))
    assert(!r2.outcomes.head.success) // 4 vs 2
    assert(r2.outcomes.head.unexpectedCount == 2)
    // unknown strftime directives are rejected, not mis-parsed
    intercept[RuntimeException] { DQEngine.strftimeToJava("%Q") }
    assert(DQEngine.strftimeToJava("%Y-%m-%dT%H:%M:%S") == "yyyy-MM-dd'T'HH:mm:ss")
  }

  test("kitchen-sink suite: every family interleaved in one run") {
    // row-level, combined-aggregate, groupBy, schema-level and SQL
    // expectations deliberately INTERLEAVED (combinable and
    // non-combinable alternating) so the combined pass's offset slicing
    // and per-instance mapping are exercised with gaps
    val r = DQEngine.run(spark, df, spec(
      "expect_column_values_to_not_be_null" -> Map("column" -> "id"),
      "expect_table_row_count_to_be_between" -> Map("min_value" -> 4, "max_value" -> 4),
      "expect_column_values_to_be_unique" -> Map("column" -> "id"),
      "expect_column_mean_to_be_between" ->
        Map("column" -> "amount", "min_value" -> 10, "max_value" -> 20),
      "expect_column_to_exist" -> Map("column" -> "d"),
      "expect_column_proportion_of_unique_values_to_be_between" ->
        Map("column" -> "id", "min_value" -> 1.0),
      "expect_column_most_common_value_to_be_in_set" ->
        Map("column" -> "name", "value_set" -> Seq("a")),
      "expect_column_distinct_values_to_equal_set" ->
        Map("column" -> "id", "value_set" -> Seq("1", "2", "3", "4")),
      "expect_queried_column_agg_value_to_be" ->
        Map("query" -> "SELECT count(*) FROM {table}", "min_value" -> 4),
      "expect_column_unique_value_count_to_be_between" ->
        Map("column" -> "name", "min_value" -> 3, "max_value" -> 3),
      "expect_table_row_count_to_equal" -> Map("value" -> 4)))
    assert(r.outcomes.size == 11)
    val byFn = r.outcomes.map(o => o.function -> o).toMap
    // spot-check values landed on the right expectations, not neighbors
    assert(byFn("expect_table_row_count_to_be_between").observedValue.contains(4.0))
    assert(byFn("expect_column_mean_to_be_between").observedValue.contains(14.75))
    assert(byFn("expect_column_proportion_of_unique_values_to_be_between")
      .observedValue.contains(1.0))
    assert(byFn("expect_column_unique_value_count_to_be_between")
      .observedValue.contains(3.0)) // a, b, d (null not counted)
    assert(byFn("expect_column_distinct_values_to_equal_set").success)
    // 4-way tie (a/b/d/null each once): ties_okay semantics — 'a' among
    // the tied modes means success, elementCount = number of tied modes
    assert(byFn("expect_column_most_common_value_to_be_in_set").elementCount == 4)
    assert(r.outcomes.forall(_.success))
  }

  test("empty input never crashes a table expectation") {
    val empty = spark.emptyDataset[(String, Double)].toDF("k", "x")
    val r = DQEngine.run(spark, empty, spec(
      // vacuously in-set on no rows (the old collect path's behavior)
      "expect_column_distinct_values_to_be_in_set" ->
        Map("column" -> "k", "value_set" -> Seq("a")),
      // no mode / no quantiles / nothing contained in an empty column
      "expect_column_most_common_value_to_be_in_set" ->
        Map("column" -> "k", "value_set" -> Seq("a")),
      "expect_column_quantile_values_to_be_between" ->
        Map("column" -> "x", "quantile_ranges" -> Map(
          "quantiles" -> Seq(0.5), "value_ranges" -> Seq(Seq(0.0, 1.0)))),
      "expect_column_distinct_values_to_contain_set" ->
        Map("column" -> "k", "value_set" -> Seq("a")),
      // bounded aggregates observe NULL -> fail, not crash
      "expect_column_mean_to_be_between" ->
        Map("column" -> "x", "min_value" -> 0)))
    val byFn = r.outcomes.map(o => o.function -> o).toMap
    assert(byFn("expect_column_distinct_values_to_be_in_set").success)
    assert(byFn("expect_column_distinct_values_to_be_in_set").elementCount == 0)
    assert(!byFn("expect_column_most_common_value_to_be_in_set").success)
    assert(!byFn("expect_column_quantile_values_to_be_between").success)
    assert(!byFn("expect_column_distinct_values_to_contain_set").success)
    assert(!byFn("expect_column_mean_to_be_between").success)
  }

  test("aggregate bound expectations: mean/sum/max/min/stdev") {
    val r = DQEngine.run(spark, df, spec(
      "expect_column_mean_to_be_between" ->
        Map("column" -> "amount", "min_value" -> 10, "max_value" -> 20),
      "expect_column_sum_to_be_between" ->
        Map("column" -> "amount", "min_value" -> 0, "max_value" -> 100),
      "expect_column_max_to_be_between" ->
        Map("column" -> "amount", "max_value" -> 29),
      "expect_column_min_to_be_between" ->
        Map("column" -> "amount", "min_value" -> -5)))
    val byFn = r.outcomes.map(o => o.function -> o).toMap
    assert(byFn("expect_column_mean_to_be_between").success) // mean = 14.75
    assert(byFn("expect_column_sum_to_be_between").success) // sum = 59
    assert(!byFn("expect_column_max_to_be_between").success) // max = 30
    assert(byFn("expect_column_min_to_be_between").success) // min = -1
  }

  test("fail_on_error raises; critical functions escalate") {
    intercept[DQValidationFailedException] {
      DQEngine.run(spark, df, DQSpec("t", "t",
        dqFunctions = Seq(DQFunctionSpec(
          "expect_column_values_to_not_be_null", Map("column" -> "name"))),
        failOnError = true))
    }
    intercept[DQValidationFailedException] {
      DQEngine.run(spark, df, DQSpec("t", "t",
        criticalFunctions = Seq(DQFunctionSpec(
          "expect_column_values_to_not_be_null", Map("column" -> "name"))),
        failOnError = false))
    }
  }

  test("row tagging builds the dq_validations struct") {
    val s = spec("expect_column_values_to_not_be_null" -> Map("column" -> "name"))
    val r = DQEngine.run(spark, df, s)
    val tagged = DQEngine.tagSource(df, s, r)
    assert(tagged.where("dq_validations.run_row_success = false").count() == 1)
    val detail = tagged.where("id = 3")
      .selectExpr("dq_validations.dq_failure_details[0].expectation_type")
      .as[String].collect().head
    assert(detail == "expect_column_values_to_not_be_null")
  }

  test("unexpected_rows_pk collects bounded failing-key samples") {
    val s = DQSpec("t", "t",
      dqFunctions = Seq(DQFunctionSpec(
        "expect_column_values_to_not_be_null", Map("column" -> "name"))),
      failOnError = false, maxPercentageFailure = Some(1.0),
      unexpectedRowsPk = Seq("id"))
    val r = DQEngine.run(spark, df, s)
    assert(r.outcomes.head.unexpectedIndexList == Seq("""{"id":3}"""))
    val sink = DQEngine.resultSinkDf(spark, r, "t")
    assert(sink.selectExpr("unexpected_index_list[0]").as[String].collect().head
      == """{"id":3}""")
  }

  test("result sink dataframe has the exploded per-expectation layout") {
    val s = spec("expect_column_values_to_not_be_null" -> Map("column" -> "name"))
    val r = DQEngine.run(spark, df, s)
    val sink = DQEngine.resultSinkDf(spark, r, "t")
    assert(sink.columns.toSet.contains("expectation_type"))
    assert(sink.count() == 1)
    assert(sink.select("unexpected_count").as[Long].collect().head == 1)
  }

  test("criticality is per instance, not per function name") {
    // Same function NAME in both lists: the non-critical one fails
    // (name has a null), the critical one passes (id has none). A
    // name-based policy would misclassify the failure as critical.
    val s = DQSpec("t", "t",
      dqFunctions = Seq(DQFunctionSpec(
        "expect_column_values_to_not_be_null", Map("column" -> "name"))),
      criticalFunctions = Seq(DQFunctionSpec(
        "expect_column_values_to_not_be_null", Map("column" -> "id"))),
      failOnError = false)
    val r = DQEngine.run(spark, df, s) // must NOT throw
    assert(!r.success)
    assert(r.outcomes.count(_.success) == 1)
  }

  test("fail_on_error still applies when critical functions are present") {
    intercept[DQValidationFailedException] {
      DQEngine.run(spark, df, DQSpec("t", "t",
        dqFunctions = Seq(DQFunctionSpec(
          "expect_column_values_to_not_be_null", Map("column" -> "name"))),
        criticalFunctions = Seq(DQFunctionSpec(
          "expect_column_values_to_not_be_null", Map("column" -> "id"))),
        failOnError = true))
    }
  }

  test("chunked result sink covers every failing key without a driver list") {
    import spark.implicits._
    // 100 of 120 rows fail the null check -> 4 chunks of <= 30 keys
    val big = (0 until 120).map(i =>
      (i, if (i < 100) null else s"name$i")).toDF("id", "name")
    val spec = DQSpec("chunked", "chunked",
      dqFunctions = Seq(
        DQFunctionSpec("expect_column_values_to_not_be_null", Map("column" -> "name")),
        DQFunctionSpec("expect_column_values_to_be_between",
          Map("column" -> "id", "min_value" -> 0))),
      failOnError = false, unexpectedRowsPk = Seq("id"),
      resultSinkChunkSize = 30)
    val result = DQEngine.run(spark, big, spec)
    val sink = DQEngine.resultSinkDfChunked(spark, big, spec, result)
    val nullRows = sink.where("expectation_type = 'expect_column_values_to_not_be_null'")
      .select("chunk_id", "unexpected_index_list")
      .as[(Long, Seq[String])].collect().sortBy(_._1)
    assert(nullRows.map(_._1).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(nullRows.map(_._2.size).toSeq == Seq(30, 30, 30, 10))
    // full coverage: the union of chunks is exactly the failing key set
    val keys = nullRows.flatMap(_._2).toSet
    assert(keys == (0 until 100).map(i => s"""{"id":$i}""").toSet)
    // the passing expectation keeps its single (chunk 0) row
    val passRows = sink.where("expectation_type = 'expect_column_values_to_be_between'")
    assert(passRows.count() == 1)
    // chunked output agrees with the unchunked sink on the metadata columns
    val metaCols = Seq("expectation_type", "success", "element_count", "unexpected_count")
    val plainMeta = DQEngine.resultSinkDf(spark, result, "chunked")
      .select(metaCols.head, metaCols.tail: _*).distinct()
    val chunkMeta = sink.select(metaCols.head, metaCols.tail: _*).distinct()
    assertSameRows(plainMeta, chunkMeta)
  }

  test("fail_on_error raises independently of max_percentage_failure") {
    // Reference _log_or_fail: the percentage bound does NOT soften
    // fail_on_error — a spec that wants only the bound must set
    // fail_on_error=false. Here the bound tolerates 100% failures but
    // fail_on_error (the default) still raises on the single failure.
    intercept[DQValidationFailedException] {
      DQEngine.run(spark, df, DQSpec("t", "t",
        dqFunctions = Seq(DQFunctionSpec(
          "expect_column_values_to_not_be_null", Map("column" -> "name"))),
        failOnError = true, maxPercentageFailure = Some(1.0)))
    }
    // and the bound alone still governs when fail_on_error is off
    val r = DQEngine.run(spark, df, DQSpec("t", "t",
      dqFunctions = Seq(DQFunctionSpec(
        "expect_column_values_to_not_be_null", Map("column" -> "name"))),
      failOnError = false, maxPercentageFailure = Some(1.0)))
    assert(!r.success)
  }

  test("kl divergence: categorical + binned partitions, hand-computed values") {
    // 60/40 split vs a uniform expected partition:
    // KL = 0.6*ln(0.6/0.5) + 0.4*ln(0.4/0.5) = 0.020135513550688863
    val cat = (Seq.fill(6)("a") ++ Seq.fill(4)("b")).toDF("v")
    val po = Map("values" -> Seq("a", "b"), "weights" -> Seq(0.5, 0.5))
    val r = DQEngine.run(spark, cat, spec(
      "expect_column_kl_divergence_to_be_less_than" ->
        Map("column" -> "v", "threshold" -> 0.05, "partition_object" -> po)))
    val o = r.outcomes.head
    assert(o.success && o.elementCount == 10)
    assert(math.abs(o.observedValue.get -
      (0.6 * math.log(1.2) + 0.4 * math.log(0.8))) < 1e-12)
    // tighter threshold fails on the same observed value
    val bad = DQEngine.run(spark, cat, spec(
      "expect_column_kl_divergence_to_be_less_than" ->
        Map("column" -> "v", "threshold" -> 0.01, "partition_object" -> po)))
    assert(!bad.outcomes.head.success)
    // observed mass on a zero-weight bucket is infinite divergence
    val zeroQ = DQEngine.run(spark, cat, spec(
      "expect_column_kl_divergence_to_be_less_than" ->
        Map("column" -> "v", "threshold" -> 1e9, "partition_object" ->
          Map("values" -> Seq("a", "b"), "weights" -> Seq(1.0, 0.0)))))
    assert(!zeroQ.outcomes.head.success &&
      zeroQ.outcomes.head.observedValue.get.isPosInfinity)
    // continuous bins: [0,5) gets 2 values, [5,10] gets 8 (10 is the
    // closed upper edge of the LAST bin)
    val cont = Seq(1.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 9.5, 9.9, 10.0).toDF("v")
    val rb = DQEngine.run(spark, cont, spec(
      "expect_column_kl_divergence_to_be_less_than" ->
        Map("column" -> "v", "threshold" -> 1e9, "partition_object" ->
          Map("bins" -> Seq(0.0, 5.0, 10.0), "weights" -> Seq(0.5, 0.5)))))
    val ob = rb.outcomes.head
    assert(ob.elementCount == 10)
    assert(math.abs(ob.observedValue.get -
      (0.2 * math.log(0.4) + 0.8 * math.log(1.6))) < 1e-12)
  }

  test("chi-square goodness of fit: perfect fit, plausible fit, gross misfit") {
    val po = Map("values" -> Seq("a", "b"), "weights" -> Seq(0.5, 0.5))
    // exact 50/50: stat = 0, p = 1
    val perfect = (Seq.fill(5)("a") ++ Seq.fill(5)("b")).toDF("v")
    val rp = DQEngine.run(spark, perfect, spec(
      "expect_column_chisquare_test_p_value_to_be_greater_than" ->
        Map("column" -> "v", "p" -> 0.05, "partition_object" -> po)))
    assert(rp.outcomes.head.success && rp.outcomes.head.observedValue.get == 1.0)
    // 60/40 on n=10: stat = (6-5)^2/5 + (4-5)^2/5 = 0.4, dof=1,
    // p = 0.5270892568655381 (published chi-square value) -> passes
    val near = (Seq.fill(6)("a") ++ Seq.fill(4)("b")).toDF("v")
    val rn = DQEngine.run(spark, near, spec(
      "expect_column_chisquare_test_p_value_to_be_greater_than" ->
        Map("column" -> "v", "p" -> 0.05, "partition_object" -> po)))
    assert(rn.outcomes.head.success)
    assert(math.abs(rn.outcomes.head.observedValue.get - 0.5270892568655381) < 1e-9)
    // 100/0 on n=100: stat = 100, p ~ 0 -> fails
    val far = Seq.fill(100)("a").toDF("v")
    val rf = DQEngine.run(spark, far, spec(
      "expect_column_chisquare_test_p_value_to_be_greater_than" ->
        Map("column" -> "v", "p" -> 0.05, "partition_object" -> po)))
    assert(!rf.outcomes.head.success &&
      rf.outcomes.head.observedValue.get < 1e-12)
  }

  test("kurtosis and skew bounds match the population formulas") {
    val xs = Seq(1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 4.0, 9.0)
    val mu = xs.sum / xs.length
    def m(p: Int) = xs.map(x => math.pow(x - mu, p)).sum / xs.length
    val skew = m(3) / math.pow(m(2), 1.5)
    val kurt = m(4) / (m(2) * m(2)) - 3
    val r = DQEngine.run(spark, xs.toDF("x"), spec(
      "expect_column_skew_to_be_between" ->
        Map("column" -> "x", "min_value" -> (skew - 0.01), "max_value" -> (skew + 0.01)),
      "expect_column_kurtosis_to_be_between" ->
        Map("column" -> "x", "min_value" -> (kurt - 0.01), "max_value" -> (kurt + 0.01))))
    val byFn = r.outcomes.map(o => o.function -> o).toMap
    assert(byFn("expect_column_skew_to_be_between").success)
    assert(math.abs(byFn("expect_column_skew_to_be_between").observedValue.get - skew) < 1e-9)
    assert(byFn("expect_column_kurtosis_to_be_between").success)
    assert(math.abs(byFn("expect_column_kurtosis_to_be_between").observedValue.get - kurt) < 1e-9)
    // bounds actually bind
    val bad = DQEngine.run(spark, xs.toDF("x"), spec(
      "expect_column_skew_to_be_between" ->
        Map("column" -> "x", "min_value" -> (skew + 1.0))))
    assert(!bad.outcomes.head.success)
  }

  test("exploded result sink: stable double observed_value across appended runs") {
    // Run 1: all-integral observed values (row counts). Run 2: fractional
    // (a mean). Before the always-double fix, run 1 inferred bigint and
    // run 2 double, and the appended parquet sink became unreadable.
    val sinkDir = tmpDir("dq-sink")
    val s1 = spec("expect_table_row_count_to_be_between" ->
      Map("min_value" -> 0, "max_value" -> 100))
    val r1 = DQEngine.run(spark, df, s1)
    DQEngine.resultSinkExploded(spark, s1, r1)
      .write.mode("append").parquet(sinkDir)
    val s2 = spec("expect_column_mean_to_be_between" ->
      Map("column" -> "amount", "min_value" -> 0.0, "max_value" -> 100.0))
    val r2 = DQEngine.run(spark, df, s2)
    DQEngine.resultSinkExploded(spark, s2, r2)
      .write.mode("append").parquet(sinkDir)
    val back = spark.read.option("mergeSchema", "true").parquet(sinkDir)
    assert(back.schema("observed_value").dataType ==
      org.apache.spark.sql.types.DoubleType)
    val vals = back.select("observed_value").collect().map(_.getDouble(0)).sorted
    assert(vals.length == 2)
    assert(vals.contains(4.0)) // row count, now a double
    assert(vals.exists(v => math.abs(v - 14.75) < 1e-9)) // mean(10,20,30,-1)
  }

  test("resultSinkSpec defaults mergeSchema=true only on exploded sinks") {
    import graft.spec.OutputSpec
    val sink = OutputSpec("rs", "t", "append", Some("parquet"), location = Some("/x"))
    val exploded = DQSpec("t", "t", resultSinkExplode = Some(true))
    assert(DQEngine.resultSinkSpec(exploded, sink).options("mergeSchema") == "true")
    // user's explicit choice wins
    val pinned = sink.copy(options = Map("mergeSchema" -> "false"))
    assert(DQEngine.resultSinkSpec(exploded, pinned).options("mergeSchema") == "false")
    // non-exploded sinks keep their historical fixed schema: no default
    val flat = DQSpec("t", "t", resultSinkExplode = Some(false))
    assert(!DQEngine.resultSinkSpec(flat, sink).options.contains("mergeSchema"))
    assert(!DQEngine.resultSinkSpec(DQSpec("t", "t"), sink).options.contains("mergeSchema"))
  }
}
