package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}

/** Structured Streaming semantics: event-time windows + watermarks,
  * streaming dedup, streaming sensor (reference §2.8 surface). */
class StreamingSpec extends SparkSpec {

  private def writeEvents(dir: String, lines: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(s"$dir/part-${System.nanoTime()}.csv"),
      "ts,user,value\n" + lines)
  }

  test("event-time tumbling window aggregation with watermark (availableNow)") {
    val in = tmpDir("st-in")
    val out = tmpDir("st-out") + "/data"
    val ckpt = tmpDir("st-ckpt")
    writeEvents(in,
      """2024-01-01 10:05:00,u1,1.0
        |2024-01-01 10:20:00,u1,2.0
        |2024-01-01 11:10:00,u2,3.0
        |""".stripMargin)
    def drain(): Unit = {
      val stream = spark.readStream
        .schema("ts TIMESTAMP, user STRING, value DOUBLE")
        .option("header", "true").csv(in)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("user"))
        .agg(sum("value").as("total"))
        .select(col("window.start").as("ws"), col("user"), col("total"))
      stream.writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }.start().awaitTermination()
    }
    drain()
    // append mode emits a window only once the watermark passes its end:
    // the 10:00 window (u1) is final after the 11:10 event, the 11:00
    // window (u2) is still open
    val first = spark.read.parquet(out)
    assert(first.where("user = 'u1' AND total = 3.0").count() == 1)
    assert(first.where("user = 'u2'").count() == 0)
    // a later event advances the watermark past 12:00 and flushes u2
    writeEvents(in, "2024-01-01 12:30:00,u3,4.0\n")
    drain()
    val second = spark.read.parquet(out)
    assert(second.where("user = 'u2' AND total = 3.0").count() == 1)
  }

  test("stateful latest-per-key condensation emits only changed keys") {
    val in = tmpDir("sc-in")
    val out = tmpDir("sc-out") + "/data"
    val ckpt = tmpDir("sc-ckpt")
    def drain(): Unit = {
      val stream = spark.readStream
        .schema("k STRING, v BIGINT, payload STRING")
        .option("header", "true").csv(in)
      StatefulCondense.latestPerKey(stream, Seq("k"), "v")
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(out)
        }.start().awaitTermination()
    }
    Files.createDirectories(Paths.get(in))
    Files.writeString(Paths.get(s"$in/b1.csv"),
      "k,v,payload\nk1,1,a\nk2,1,b\n")
    drain()
    // batch 2: k1 advances, k2 arrives stale (must not emit), k3 is new
    Files.writeString(Paths.get(s"$in/b2.csv"),
      "k,v,payload\nk1,5,a2\nk2,0,stale\nk3,1,c\n")
    drain()
    val emitted = spark.read.parquet(out)
    assert(emitted.count() == 4) // k1,k2 (batch1) + k1,k3 (batch2)
    assert(emitted.where("k = 'k1'").count() == 2)
    assert(emitted.where("k = 'k2' AND payload = 'stale'").count() == 0)
    // the state-winning records are the latest versions
    val latest = emitted.groupBy("k").agg(max_by(col("payload"), col("v")).as("p"))
    assert(latest.where("k = 'k1' AND p = 'a2'").count() == 1)
  }

  test("streaming drop_duplicate_rows with watermark via the registry") {
    val in = tmpDir("st-dedup-in")
    val out = tmpDir("st-dedup-out") + "/data"
    val ckpt = tmpDir("st-dedup-ckpt")
    writeEvents(in,
      """2024-01-01 10:00:00,u1,1.0
        |2024-01-01 10:00:00,u1,1.0
        |2024-01-01 10:05:00,u2,2.0
        |""".stripMargin)
    val acon =
      s"""{
         |  "input_specs": [{
         |    "spec_id": "src", "read_type": "streaming", "data_format": "csv",
         |    "location": "$in", "schema": "ts TIMESTAMP, user STRING, value DOUBLE",
         |    "options": {"header": "true"}
         |  }],
         |  "transform_specs": [{
         |    "spec_id": "deduped", "input_id": "src",
         |    "transformers": [{
         |      "function": "drop_duplicate_rows",
         |      "args": {"cols": ["ts", "user"], "watermark_col": "ts",
         |               "watermark_delay": "10 minutes"}
         |    }]
         |  }],
         |  "output_specs": [{
         |    "spec_id": "out", "input_id": "deduped", "write_type": "append",
         |    "data_format": "parquet", "location": "$out",
         |    "streaming_trigger": "availableNow",
         |    "options": {"checkpointLocation": "$ckpt"}, "with_batch_id": true
         |  }]
         |}""".stripMargin
    graft.algo.DataLoader.loadData(spark, acon)
    val result = spark.read.parquet(out)
    assert(result.count() == 2)
  }

  test("stream-stream join with per-side watermarks through the registry") {
    val inA = tmpDir("ss-a")
    val inB = tmpDir("ss-b")
    val out = tmpDir("ss-out") + "/data"
    val ckpt = tmpDir("ss-ckpt")
    writeEvents(inA,
      """2024-01-01 10:00:00,u1,1.0
        |2024-01-01 10:01:00,u2,2.0
        |""".stripMargin)
    Files.writeString(Paths.get(s"$inB/part-0.csv"),
      "ts2,user2,label\n2024-01-01 10:00:30,u1,x\n")
    val a = spark.readStream.schema("ts TIMESTAMP, user STRING, value DOUBLE")
      .option("header", "true").csv(inA)
    val b = spark.readStream.schema("ts2 TIMESTAMP, user2 STRING, label STRING")
      .option("header", "true").csv(inB)
    val ctx = graft.transform.TransformContext(spark, data = { case "b" => b })
    val joined = a.transform(graft.transform.Transformers.resolve("join", Map(
      "join_with" -> "b",
      "join_condition" ->
        "a.user = b.user2 AND b.ts2 BETWEEN a.ts - INTERVAL 5 MINUTES AND a.ts + INTERVAL 5 MINUTES",
      "join_type" -> "inner",
      "left_watermark" -> Map("ts" -> "10 minutes"),
      "right_watermark" -> Map("ts2" -> "10 minutes")), ctx))
    joined.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(out)
      }.start().awaitTermination()
    val result = spark.read.parquet(out)
    assert(result.count() == 1)
    assert(result.where("user = 'u1' AND label = 'x'").count() == 1)
  }

  test("streaming sensor acquires from a file stream") {
    val dataDir = tmpDir("st-sensor")
    val ctl = tmpDir("st-sensor-ctl") + "/control"
    writeEvents(s"$dataDir/up", "2024-01-01 10:00:00,u1,1.0\n")
    val spec = graft.spec.InputSpec(
      specId = "up", readType = "streaming", dataFormat = Some("csv"),
      location = Some(s"$dataDir/up"),
      schema = Some("ts TIMESTAMP, user STRING, value DOUBLE"),
      options = Map("header" -> "true"))
    assert(graft.algo.SensorControl.checkUpstream(spark, ctl, "s-stream", spec))
    assert(graft.algo.SensorControl.sensorStatus(spark, "s-stream", ctl)
      .contains(graft.algo.SensorControl.Acquired))
    // a sensor over an empty directory acquires nothing
    val emptyDir = s"$dataDir/empty"
    Files.createDirectories(Paths.get(emptyDir))
    assert(!graft.algo.SensorControl.checkUpstream(spark, ctl, "s-empty",
      spec.copy(specId = "up-empty", location = Some(emptyDir))))
    assert(graft.algo.SensorControl.sensorStatus(spark, "s-empty", ctl).isEmpty)
  }

  test("streaming weighted reservoir equals the batch weightedSample at every prefix") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val ckpt = tmpDir("res-ckpt")
    // Capture the reservoir emitted per micro-batch, tagged by batch id.
    val emissions = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Set[(String, Long, Long)])]
    val q = graft.streaming.StreamingSample.weightedReservoir(
        mem.toDF().toDF("id", "strata", "w"), "id", "strata", "w", k = 3)
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[graft.streaming.StreamingSample.Sampled],
         bid: Long) =>
          emissions.synchronized {
            emissions += ((bid, b.collect()
              .map(s => (s.strata, s.id, s.rnk)).toSet))
          }
          ()
      }
      .start()
    val batch1 = (1L to 20L).map(i => (i, if (i % 2 == 0) "e" else "o", 1.0 + i))
    val batch2 = (21L to 40L).map(i => (i, if (i % 2 == 0) "e" else "o", 1.0 + i))
    def batchExpected(rows: Seq[(Long, String, Double)]): Set[(String, Long, Long)] =
      graft.operators.TrainingData.weightedSample(
          rows.toDF("id", "strata", "w"), "id", "strata", col("w"), k = 3)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      val afterB1 = emissions.synchronized(emissions.filter(_._2.nonEmpty).last._2)
      assert(afterB1 == batchExpected(batch1))
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val afterB2 = emissions.synchronized(emissions.filter(_._2.nonEmpty).last._2)
      // The law: the reservoir after any prefix equals the batch operator
      // over all rows seen so far, regardless of batch boundaries.
      assert(afterB2 == batchExpected(batch1 ++ batch2))
      assert(afterB2 != afterB1) // heavier later rows displaced earlier ones
    } finally q.stop()
  }

  test("streaming sessionization: session_window with watermark over a stream") {
    // the streaming variant of q55's sessionize operator: gap-based
    // session windows close when the watermark passes session end + gap
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String, Double)]
    val out = tmpDir("sess-out") + "/data"
    val ckpt = tmpDir("sess-ckpt")
    val q = mem.toDF().toDF("user", "ts_s", "value")
      .select(col("user"), col("ts_s").cast("timestamp").as("ts"), col("value"))
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total"))
      .select(col("user"), col("n_events"), col("total"))
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("100 milliseconds"))
      .option("checkpointLocation", ckpt)
      .outputMode("append")
      .format("parquet").start(out)
    try {
      // session 1: two events 10 min apart; then a late-hour event pushes
      // the watermark past session 1's close
      mem.addData(("u1", "2024-01-01 10:00:00", 1.0), ("u1", "2024-01-01 10:10:00", 2.0))
      q.processAllAvailable()
      mem.addData(("u2", "2024-01-01 12:00:00", 5.0))
      q.processAllAvailable()
      val sessions = spark.read.parquet(out)
        .as[(String, Long, Double)].collect().toSet
      // u1's session (events within the 30-min gap merged) is closed and
      // emitted; u2's is still open under the watermark
      assert(sessions == Set(("u1", 2L, 3.0)))
    } finally q.stop()
  }

  test("kafka-shaped e2e: MemoryStream drives the ACON path with DQ in foreachBatch") {
    // The Kafka connector jar is absent in this environment, so an
    // unbounded MemoryStream plays the broker: a genuinely streaming
    // source under a real processingTime trigger, multiple micro-batches,
    // the declarative transform chain, DQ (with chunked result sink)
    // inside foreachBatch, and a Sensor acquiring from the landing zone.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val out = tmpDir("ks-out") + "/data"
    val dqSink = tmpDir("ks-sink") + "/dq"
    val ckpt = tmpDir("ks-ckpt")
    val acon =
      s"""{
         |  "input_specs": [{
         |    "spec_id": "src", "read_type": "streaming", "df_name": "kafka_shaped"
         |  }],
         |  "transform_specs": [{
         |    "spec_id": "t", "input_id": "src", "transformers": [
         |      {"function": "rename",
         |       "args": {"cols": {"_1": "id", "_2": "name", "_3": "v"}}},
         |      {"function": "expression_filter", "args": {"exp": "v >= 0"}}]
         |  }],
         |  "dq_specs": [{
         |    "spec_id": "dq", "input_id": "t", "fail_on_error": false,
         |    "unexpected_rows_pk": ["id"],
         |    "dq_functions": [
         |      {"function": "expect_column_values_to_not_be_null",
         |       "args": {"column": "name"}}],
         |    "result_sink": {"spec_id": "dqs", "input_id": "dq",
         |      "data_format": "parquet", "location": "$dqSink"}
         |  }],
         |  "output_specs": [{
         |    "spec_id": "out", "input_id": "t", "data_format": "parquet",
         |    "location": "$out",
         |    "streaming_trigger": "processingTime=100 milliseconds",
         |    "options": {"checkpointLocation": "$ckpt"}
         |  }]
         |}""".stripMargin
    mem.addData((1L, "a", 1.0), (2L, null, 2.0), (3L, "neg", -5.0))
    val runner = new Thread(() =>
      try graft.algo.DataLoader.loadData(spark, acon,
        dfs = Map("kafka_shaped" -> mem.toDF()))
      catch { case _: org.apache.spark.SparkException => () /* stopped */ })
    runner.setDaemon(true)
    runner.start()
    val deadline = System.currentTimeMillis() + 30000
    while (spark.streams.active.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    val q = spark.streams.active.headOption.getOrElse(fail("query never started"))
    try {
      q.processAllAvailable()
      // second micro-batch under the same running trigger
      mem.addData((4L, "d", 4.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(out).selectExpr("id").as[Long].collect().toSet
      assert(rows == Set(1L, 2L, 4L)) // -5.0 filtered; both batches landed
      // DQ ran per micro-batch: the null name in batch 1 is a recorded
      // failure with its chunked failing-key row; batch 2 is clean
      val sink = spark.read.parquet(dqSink)
      val failures = sink.where("success = false")
      assert(failures.count() == 1)
      assert(failures.selectExpr("explode(unexpected_index_list)")
        .as[String].collect().toSeq == Seq("""{"id":2}"""))
      assert(sink.where("success = true").count() >= 1)
      // the landing zone is sensable downstream
      val sensorCtl = tmpDir("ks-ctl") + "/control"
      assert(graft.algo.SensorControl.checkUpstream(spark, sensorCtl, "ks",
        graft.spec.InputSpec(specId = "landing", dataFormat = Some("parquet"),
          location = Some(out))))
    } finally {
      q.stop()
      runner.join(30000)
    }
  }

  test("streaming ingest dedup: checkBatch + append per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textX = "one two three four five six seven eight nine ten eleven"
    val textZ = "red orange yellow green blue indigo violet ultraviolet infrared"
    val idxLoc = tmpDir("sdd-idx") + "/index"
    val sink = tmpDir("sdd-sink") + "/clean"
    val ckpt = tmpDir("sdd-ckpt")
    // seed corpus -> persisted index
    val idx = graft.functions.MinhashIndex.build(
      Seq((1L, textA)).toDF("doc_id", "text"), "doc_id", "text", idxLoc,
      threshold = 0.5)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = graft.streaming.StreamingDedup.start(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, sink, ckpt)
      q.awaitTermination(60000)
    }
    // batch 1: 101 duplicates the CORPUS, 103 duplicates 102 WITHIN the batch
    mem.addData((101L, textA), (102L, textX), (103L, textX))
    drain()
    assert(spark.read.parquet(sink).select("doc_id").as[Long].collect().toSet
      == Set(102L))
    // batch 2 (restart from checkpoint): 201 duplicates 102 — only caught
    // if batch 1's survivors were APPENDED to the index; 202 is fresh
    mem.addData((201L, textX), (202L, textZ))
    drain()
    assert(spark.read.parquet(sink).select("doc_id").as[Long].collect().toSet
      == Set(102L, 202L))
    // the index grew by exactly the CORPUS-FRESH docs — survivors AND the
    // within-batch-dropped 103 (what makes replay drain to empty below);
    // the corpus-dup 101 added nothing
    assert(spark.read.parquet(idxLoc).select("id").distinct()
      .as[Long].collect().toSet == Set(1L, 102L, 103L, 202L))
    // a FAILED sink write must not leave phantom signatures in the index:
    // the doc would otherwise be dropped as a "corpus dup" on every retry
    // without ever reaching the sink
    intercept[RuntimeException] {
      graft.streaming.StreamingDedup.dedupBatch(
        Seq((301L, "totally new content never seen before today")).toDF("doc_id", "text"),
        "doc_id", "text", idx, _ => throw new RuntimeException("sink down"))
    }
    assert(spark.read.parquet(idxLoc).select("id").distinct()
      .as[Long].collect().toSet == Set(1L, 102L, 103L, 202L)) // unchanged
    // benign replay: re-running an already-appended batch drains to EMPTY
    // (101 still matches the corpus; 102/103 self-match their own indexed
    // signatures at jaccard 1.0) — a replayed micro-batch cannot grow the
    // sink, same contract as the chunk face
    val replay = graft.streaming.StreamingDedup.dedupBatch(
      Seq((101L, textA), (102L, textX), (103L, textX)).toDF("doc_id", "text"),
      "doc_id", "text", idx, _ => (), append = false)
    assert(replay.isEmpty)
  }

  test("streaming chunk dedup: anti-join vs the hash index + append per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.DedupFunctions
    val idxLoc = tmpDir("scd-idx") + "/index"
    val sink = tmpDir("scd-sink") + "/clean"
    val ckpt = tmpDir("scd-ckpt")
    // seed corpus: one doc whose single 2-token chunk is [a b]
    DedupFunctions.chunkHashIndex(
        Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", chunkTokens = 2)
      .write.parquet(idxLoc)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = graft.streaming.StreamingChunkDedup.start(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idxLoc, sink, ckpt, chunkTokens = 2)
      q.awaitTermination(60000)
    }
    // batch 1: doc 101 repeats the CORPUS chunk [a b] and brings [p q];
    // doc 102 repeats [p q] WITHIN the batch (first occurrence wins) and
    // brings [z w]; doc 103 is a full corpus duplicate and must VANISH
    mem.addData((101L, "a b p q"), (102L, "p q z w"), (103L, "a b"))
    drain()
    val out1 = spark.read.parquet(sink)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(out1 == Map(101L -> "p q", 102L -> "z w"))
    // batch 2 (restart from checkpoint): doc 201 repeats batch 1's
    // SURVIVING chunk [z w] — only caught if batch 1's survivors were
    // appended to the index — and brings [m n]
    mem.addData((201L, "z w m n"))
    drain()
    val out2 = spark.read.parquet(sink)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(out2 == Map(101L -> "p q", 102L -> "z w", 201L -> "m n"))
    // the index holds exactly the distinct hashes of corpus + survivors
    // ([a b], [p q], [z w], [m n]) and nothing text-bearing
    val idx = spark.read.parquet(idxLoc)
    assert(idx.columns.toSeq == Seq("chunk_hash") && idx.distinct().count() == 4)
    // a FAILED sink write must not leave phantom hashes in the index
    intercept[RuntimeException] {
      graft.streaming.StreamingChunkDedup.dedupBatch(
        Seq((301L, "u v")).toDF("doc_id", "text"), "doc_id", "text",
        idxLoc, 2, _ => throw new RuntimeException("sink down"))
    }
    assert(spark.read.parquet(idxLoc).distinct().count() == 4) // unchanged
    // benign replay: re-running an already-appended batch drains to EMPTY
    // (the PropertySpec append-then-recheck law, here through the
    // streaming face) — a replayed micro-batch cannot grow the sink
    val replay = graft.streaming.StreamingChunkDedup.dedupBatch(
      Seq((101L, "a b p q"), (102L, "p q z w")).toDF("doc_id", "text"),
      "doc_id", "text", idxLoc, 2, _ => (), append = false)
    assert(replay.isEmpty)
  }

  test("streaming chunk dedup: compactEvery bounds the index file count, semantics unchanged") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.DedupFunctions
    val idxLoc = tmpDir("scdc-idx") + "/index"
    val sink = tmpDir("scdc-sink") + "/clean"
    val ckpt = tmpDir("scdc-ckpt")
    DedupFunctions.chunkHashIndex(
        Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", chunkTokens = 2)
      .write.parquet(idxLoc)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = graft.streaming.StreamingChunkDedup.start(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idxLoc, sink, ckpt, chunkTokens = 2, compactEvery = 2)
      q.awaitTermination(60000)
    }
    // four micro-batches; compaction fires after batch ids 1 and 3
    mem.addData((11L, "a b c d")); drain()        // [a b] dup, [c d] fresh
    mem.addData((12L, "c d e f")); drain()        // [c d] dup vs batch-0 survivor
    mem.addData((13L, "e f g h")); drain()        // [e f] dup across compaction
    mem.addData((14L, "g h"));     drain()        // full dup -> vanishes
    val out = spark.read.parquet(sink)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(out == Map(11L -> "c d", 12L -> "e f", 13L -> "g h"),
      s"dedup semantics drifted under periodic compaction: $out")
    val (files, _) = graft.maintain.IndexMaintenance.stats(spark, idxLoc)
    assert(files == 1, s"index not bin-packed after the last compaction: $files files")
    assert(spark.read.parquet(idxLoc).distinct().count() == 4) // ab cd ef gh
  }

  test("streaming minhash dedup: compactEvery bounds the index file count, semantics unchanged") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textB = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    val textC = "mon tue wed thu fri sat sun jan feb mar apr may"
    val idxLoc = tmpDir("sddc-idx") + "/index"
    val sink = tmpDir("sddc-sink") + "/clean"
    val ckpt = tmpDir("sddc-ckpt")
    val idx = graft.functions.MinhashIndex.build(
      Seq((1L, textA)).toDF("doc_id", "text"), "doc_id", "text", idxLoc,
      threshold = 0.5)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    def drain(): Unit = {
      val q = graft.streaming.StreamingDedup.start(
        mem.toDF().toDF("doc_id", "text"), "doc_id", "text", idx, sink,
        ckpt, compactEvery = 2)
      q.awaitTermination(60000)
    }
    // four micro-batches; compaction fires after batch ids 1 and 3
    mem.addData((11L, textB)); drain()  // fresh
    mem.addData((12L, textB)); drain()  // dup of batch-0 survivor -> compact
    mem.addData((13L, textC)); drain()  // fresh
    mem.addData((14L, textC)); drain()  // dup ACROSS compaction -> compact
    assert(spark.read.parquet(sink).select("doc_id").as[Long].collect().toSet
      == Set(11L, 13L),
      "dedup semantics drifted under periodic compaction")
    // corpus-dropped 12/14 add nothing; the band partitioning survives
    // and the posting lists are bin-packed to one file per band dir
    assert(spark.read.parquet(idxLoc).select("id").distinct()
      .as[Long].collect().toSet == Set(1L, 11L, 13L))
    val (files, _) = graft.maintain.IndexMaintenance.stats(spark, idxLoc)
    assert(files <= 4, s"posting lists not bin-packed: $files files")
    val dirs = new java.io.File(idxLoc).listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(dirs.count(_.startsWith("band=")) == 4, s"band layout lost: ${dirs.toSeq}")
  }

  test("kafka wire contract: sink projection and source decode round-trip") {
    import graft.io.KafkaWire
    import org.apache.spark.sql.types._
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // sink side: a streaming frame encoded for the kafka SINK must carry
    // exactly the projection KafkaWriter.validateQuery accepts
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    val encoded = KafkaWire.encode(mem.toDF().toDF("k", "payload"),
      value = to_json(struct(col("payload"))),
      key = Some(col("k")),
      topic = Some(lit("events")),
      headers = Some(array(KafkaWire.header("source", lit("graft")))))
    assert(encoded.isStreaming)
    assert(encoded.schema.map(f => (f.name, f.dataType)) == Seq(
      ("key", BinaryType), ("value", BinaryType), ("topic", StringType),
      ("headers", KafkaWire.headersType)))
    // drain one batch through foreachBatch (the path a jar-less build
    // uses to hand micro-batches to any terminal write)
    val out = tmpDir("kafka-wire") + "/sink"
    mem.addData(("k1", "hello"), ("k2", "world"))
    val q = encoded.writeStream.trigger(Trigger.AvailableNow())
      .option("checkpointLocation", tmpDir("kafka-wire-ckpt"))
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.write.mode("append").parquet(out); ()
      }.start()
    q.awaitTermination(60000)
    // source side: rows shaped EXACTLY like the connector emits them
    // (sourceSchemaWithHeaders) decode back to the original values
    val rows = spark.read.parquet(out)
      .withColumn("partition", lit(0))
      .withColumn("offset", monotonically_increasing_id())
      .withColumn("timestamp", current_timestamp())
      .withColumn("timestampType", lit(0))
      .select(KafkaWire.sourceSchemaWithHeaders.fieldNames.map(col): _*)
    assert(rows.schema.map(f => (f.name, f.dataType)) ==
      KafkaWire.sourceSchemaWithHeaders.map(f => (f.name, f.dataType)))
    val decoded = KafkaWire.decode(rows,
      Some(StructType(Seq(StructField("payload", StringType)))))
    val got = decoded.select(col("key"), col("value.payload"))
      .as[(String, String)].collect().toSet
    assert(got == Set(("k1", "hello"), ("k2", "world")))
    val hdr = decoded.select(explode(col("headers")))
      .select(col("col.key"), col("col.value").cast("string"))
      .as[(String, String)].collect().toSet
    assert(hdr == Set(("source", "graft")))
  }

  test("streaming vector ingest: IVF screen + cell append per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def v(xs: Float*): Seq[Float] = xs.toSeq
    val corpus = Seq(
      (1L, v(1f, 0f, 0f, 0f)), (2L, v(0f, 1f, 0f, 0f)),
      (3L, v(0f, 0f, 1f, 0f)), (4L, v(-1f, 0f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val idxLoc = tmpDir("svi-idx") + "/index"
    val sink = tmpDir("svi-sink") + "/clean"
    val ckpt = tmpDir("svi-ckpt")
    val idx0 = graft.functions.IvfIndex.build(
        corpus, "vec_id", "embedding", nLists = 2, trainSampleSize = 100)
      .persisted(idxLoc)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    var cur = idx0
    def drain(): Unit = {
      val q = graft.streaming.StreamingVectorIngest.start(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        cur, idxLoc, sink, ckpt, dedupThreshold = Some(0.999), nProbe = 2)
      q.awaitTermination(60000)
      cur = cur.appendToPersisted(idxLoc,
        spark.emptyDataset[(Long, Seq[Float])].toDF("vec_id", "embedding"),
        "vec_id", "embedding") // reopen the extended store for the next start()
    }
    // batch 1: 10 duplicates corpus vector 1 exactly; 11 is fresh
    mem.addData((10L, v(1f, 0f, 0f, 0f)), (11L, v(0f, 0f, 0f, 1f)))
    drain()
    assert(spark.read.parquet(sink).select("vec_id").as[Long].collect().toSet
      == Set(11L))
    // batch 2: 20 duplicates the vector APPENDED in batch 1; 21 is fresh
    mem.addData((20L, v(0f, 0f, 0f, 1f)), (21L, v(0f, 0.6f, 0.8f, 0f)))
    drain()
    assert(spark.read.parquet(sink).select("vec_id").as[Long].collect().toSet
      == Set(11L, 21L))
    // the persisted cell layout grew by exactly the fresh vectors
    assert(spark.read.parquet(idxLoc).select("neighbor_id").distinct()
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 11L, 21L))
    // batch 3: 30 and 31 duplicate EACH OTHER within one micro-batch
    // (both fresh vs the index) — the within-batch pass keeps lowest id
    mem.addData((30L, v(0.6f, 0f, 0f, 0.8f)), (31L, v(0.6f, 0f, 0f, 0.8f)))
    drain()
    assert(spark.read.parquet(sink).select("vec_id").as[Long].collect().toSet
      == Set(11L, 21L, 30L))
    assert(spark.read.parquet(idxLoc).select("neighbor_id").distinct()
      .as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 11L, 21L, 30L))
  }

  test("streaming IVFADC ingest: ADC screen, PQ-coded cell append, restart, batch parity") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def v(xs: Float*): Seq[Float] = xs.toSeq
    // Deterministic instance: explicit centroids (cell 0 at the origin,
    // cell 1 far away — everything assigns to 0, residual == vector) and
    // uniform grid codebooks (rank-1: a subvector's code is its MEAN
    // quantized to centers -0.875, -0.625, ..., 0.875). Every vector
    // below has subspace means sitting EXACTLY on grid centers, so its
    // codes — and every collision below — are computable by inspection.
    val cents: Map[Long, Array[Double]] = Map(
      0L -> Array(0.0, 0.0, 0.0, 0.0), 1L -> Array(10.0, 10.0, 10.0, 10.0))
    val cbs = graft.functions.PqIndex.uniformCodebooks(-1.0, 1.0, dim = 4, m = 2, ksub = 8)
    def buildIdx(corpus: org.apache.spark.sql.DataFrame) =
      graft.functions.IvfPq.fromAssignments(
        corpus.withColumn("cell", lit(0L)), "vec_id", "embedding", "cell",
        cents, cbs)
    val corpus = Seq(
      (1L, v(0.75f, 0f, 0.25f, 0f)),      // codes (5, 4)
      (2L, v(-0.75f, -1f, 0.75f, 1f)),    // codes (0, 7)
      (3L, v(0.25f, 0f, -0.25f, 0f)),     // codes (4, 3)
      (4L, v(-0.25f, 0f, 0.75f, 1f)))     // codes (3, 7)
      .toDF("vec_id", "embedding")
    val idxLoc = tmpDir("spq-idx") + "/index"
    val sink = tmpDir("spq-sink") + "/clean"
    val ckpt = tmpDir("spq-ckpt")
    val idx0 = buildIdx(corpus).persisted(idxLoc)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Seq[Float])]
    var cur = idx0
    // Each drain starts a NEW query from the same checkpoint — batches 2
    // and 3 are checkpoint RESTARTS, proving offset tracking and the
    // reopened store compose.
    def drain(): Unit = {
      val q = graft.streaming.StreamingPqIngest.start(
        mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        cur, idxLoc, sink, ckpt, dedup = true, nProbe = 2, compactEvery = 2)
      q.awaitTermination(60000)
      cur = cur.appendToPersisted(idxLoc,
        spark.emptyDataset[(Long, Seq[Float])].toDF("vec_id", "embedding"),
        "vec_id", "embedding") // reopen the extended store for the next start()
    }
    // batch 1: 10 is an exact duplicate of corpus vector 1 — it
    // quantizes to the SAME (cell, codes) entry, so the store-identity
    // screen drops it regardless of codebook quality; 11 codes (6, 0),
    // unseen — fresh
    mem.addData((10L, v(0.75f, 0f, 0.25f, 0f)),
      (11L, v(0.6f, 0.65f, -0.8f, -0.95f)))
    drain()
    assert(spark.read.parquet(sink).select("vec_id").as[Long].collect().toSet
      == Set(11L))
    // batch 2 (restart): 20 duplicates the vector APPENDED in batch 1 —
    // the screen sees streamed codes, not just built ones; 21 codes
    // (7, 4), unseen — fresh
    mem.addData((20L, v(0.6f, 0.65f, -0.8f, -0.95f)),
      (21L, v(0.9f, 0.85f, 0.2f, 0.05f)))
    drain()
    assert(spark.read.parquet(sink).select("vec_id").as[Long].collect().toSet
      == Set(11L, 21L))
    // batch 3 (restart): 30/31 quantization-identical within one batch —
    // the within-batch pass keeps the lowest id
    mem.addData((30L, v(-0.6f, -0.65f, -0.2f, -0.05f)),
      (31L, v(-0.6f, -0.65f, -0.2f, -0.05f)))
    drain()
    assert(spark.read.parquet(sink).select("vec_id").as[Long].collect().toSet
      == Set(11L, 21L, 30L))
    // streamed vectors landed PQ-CODED in the q108 store layout: the
    // codes table holds (id, cell, codes) for corpus AND streamed rows,
    // no raw vectors
    val store = spark.read.parquet(idxLoc)
    assert(store.columns.sorted.toSeq == Seq("cell", "codes", "id"))
    assert(store.select("id").as[Long].collect().toSet
      == Set(1L, 2L, 3L, 4L, 11L, 21L, 30L))

    // batch parity: streaming the same rows in two batches (no dedup)
    // produces the identical store as ONE appendToPersisted of the union
    val locA = tmpDir("spq-par") + "/a"
    val locB = tmpDir("spq-par") + "/b"
    val iA0 = graft.functions.IvfPq.build(corpus, "vec_id", "embedding",
      dim = 4, nLists = 2, m = 2, ksub = 4, trainSampleSize = 100).persisted(locA)
    val iB0 = graft.functions.IvfPq.build(corpus, "vec_id", "embedding",
      dim = 4, nLists = 2, m = 2, ksub = 4, trainSampleSize = 100).persisted(locB)
    val r1 = Seq((50L, v(0.9f, 0.1f, 0f, 0f)), (51L, v(0f, 0f, 0.2f, 0.9f)))
    val r2 = Seq((52L, v(0.1f, 0.9f, 0.1f, 0f)))
    val iA1 = iA0.appendToPersisted(locA, r1.toDF("vec_id", "embedding"), "vec_id", "embedding")
    iA1.appendToPersisted(locA, r2.toDF("vec_id", "embedding"), "vec_id", "embedding")
    iB0.appendToPersisted(locB, (r1 ++ r2).toDF("vec_id", "embedding"), "vec_id", "embedding")
    assertSameRows(
      spark.read.parquet(locA).select("id", "cell", "codes"),
      spark.read.parquet(locB).select("id", "cell", "codes"))
  }

  test("ingestBatch replay contract: a re-submitted batch drains to empty, store unchanged") {
    // r20 (verdict item): the stage checkpoints inside ingestBatch went
    // LAZY — this pins the replay idempotence they guard. An ingested
    // batch re-submitted against the extended store must produce ZERO
    // fresh rows (every vector is store-quantization-identical to its own
    // appended entry) and re-appending the empty set must leave the store
    // row multiset unchanged — the at-least-once replay fixpoint.
    import spark.implicits._
    def v(xs: Float*): Seq[Float] = xs.toSeq
    val cents: Map[Long, Array[Double]] = Map(
      0L -> Array(0.0, 0.0, 0.0, 0.0), 1L -> Array(10.0, 10.0, 10.0, 10.0))
    val cbs = graft.functions.PqIndex.uniformCodebooks(-1.0, 1.0, dim = 4, m = 2, ksub = 8)
    val corpus = Seq((1L, v(0.75f, 0f, 0.25f, 0f)), (2L, v(-0.75f, -1f, 0.75f, 1f)))
      .toDF("vec_id", "embedding")
    val idxLoc = tmpDir("spq-replay") + "/index"
    val idx0 = graft.functions.IvfPq.fromAssignments(
        corpus.withColumn("cell", lit(0L)), "vec_id", "embedding", "cell",
        cents, cbs)
      .persisted(idxLoc)
    val batch = Seq((10L, v(0.6f, 0.65f, -0.8f, -0.95f)),
      (11L, v(-0.6f, -0.65f, -0.2f, -0.05f))).toDF("vec_id", "embedding")
    var sunk = 0L
    val (fresh1, idx1) = graft.streaming.StreamingPqIngest.ingestBatch(
      batch, "vec_id", "embedding", idx0, idxLoc,
      sink = df => sunk = df.count(), dedup = true)
    assert(fresh1.count() == 2 && sunk == 2)
    val storeAfter1 = spark.read.parquet(idxLoc)
      .select("id", "cell", "codes").collect().sortBy(_.getLong(0)).toSeq
    // replay the SAME batch against the extended store
    val (fresh2, _) = graft.streaming.StreamingPqIngest.ingestBatch(
      batch, "vec_id", "embedding", idx1, idxLoc,
      sink = df => sunk = df.count(), dedup = true)
    assert(fresh2.isEmpty && sunk == 0)
    val storeAfter2 = spark.read.parquet(idxLoc)
      .select("id", "cell", "codes").collect().sortBy(_.getLong(0)).toSeq
    assert(storeAfter1 == storeAfter2)
  }

  test("ACON-driven streaming chunk dedup: config-only e2e incl. a composed transformer") {
    // Round 18: the streaming ingest faces are ACON-addressable — this is
    // the reference-style config-only user driving StreamingChunkDedup
    // end-to-end with NO Scala beyond providing the stream handle. Also
    // exercises the prepare hook: a rename transformer deferred into
    // foreachBatch runs on the raw micro-batch before the dedup plan.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val idxLoc = tmpDir("acd-idx") + "/index"
    val sink = tmpDir("acd-sink") + "/clean"
    val ckpt = tmpDir("acd-ckpt")
    graft.functions.DedupFunctions.chunkHashIndex(
        Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", chunkTokens = 2)
      .write.parquet(idxLoc)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val acon =
      s"""{
         |  "input_specs": [{
         |    "spec_id": "src", "read_type": "streaming", "df_name": "ingest"
         |  }],
         |  "transform_specs": [{
         |    "spec_id": "t", "input_id": "src", "transformers": [
         |      {"function": "rename",
         |       "args": {"cols": {"_1": "doc_id", "_2": "text"}}}]
         |  }],
         |  "output_specs": [{
         |    "spec_id": "out", "input_id": "t", "data_format": "chunk_dedup",
         |    "location": "$sink",
         |    "streaming_trigger": "availableNow",
         |    "options": {
         |      "index_location": "$idxLoc", "checkpointLocation": "$ckpt",
         |      "id_col": "doc_id", "text_col": "text", "chunk_tokens": "2"}
         |  }]
         |}""".stripMargin
    def drain(): Unit =
      graft.algo.DataLoader.loadData(spark, acon, dfs = Map("ingest" -> mem.toDF()))
    // same scenario as the direct e2e: corpus dup drops, within-batch
    // first occurrence wins, full corpus duplicate vanishes
    mem.addData((101L, "a b p q"), (102L, "p q z w"), (103L, "a b"))
    drain()
    assert(spark.read.parquet(sink).select("doc_id", "clean_text")
      .as[(Long, String)].collect().toMap == Map(101L -> "p q", 102L -> "z w"))
    // a second config-driven run continues incrementally from the
    // checkpoint and dedups against batch 1's appended survivors
    mem.addData((201L, "z w m n"))
    drain()
    assert(spark.read.parquet(sink).select("doc_id", "clean_text")
      .as[(Long, String)].collect().toMap ==
      Map(101L -> "p q", 102L -> "z w", 201L -> "m n"))
    val idx = spark.read.parquet(idxLoc)
    assert(idx.columns.toSeq == Seq("chunk_hash") && idx.distinct().count() == 4)
  }

  test("ACON-driven minhash face (streaming) and IVFADC face (batch mode)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // --- minhash_dedup, streaming: corpus near-dup drops, fresh doc lands
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textX = "one two three four five six seven eight nine ten eleven"
    val mhIdx = tmpDir("amh-idx") + "/index"
    val mhSink = tmpDir("amh-sink") + "/clean"
    graft.functions.MinhashIndex.build(
      Seq((1L, textA)).toDF("doc_id", "text"), "doc_id", "text", mhIdx,
      threshold = 0.5)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    mem.addData((100L, textA), (101L, textX)) // 100 near-dups the corpus
    graft.algo.DataLoader.loadData(spark,
      s"""{
         |  "input_specs": [{
         |    "spec_id": "src", "read_type": "streaming", "df_name": "docs"
         |  }],
         |  "output_specs": [{
         |    "spec_id": "out", "input_id": "src", "data_format": "minhash_dedup",
         |    "location": "$mhSink",
         |    "options": {
         |      "index_location": "$mhIdx",
         |      "checkpointLocation": "${tmpDir("amh-ckpt")}",
         |      "id_col": "doc_id", "text_col": "text", "threshold": "0.5"}
         |  }]
         |}""".stripMargin,
      dfs = Map("docs" -> mem.toDF().toDF("doc_id", "text")))
    assert(spark.read.parquet(mhSink).select("doc_id")
      .as[Long].collect().toSeq == Seq(101L))
    // --- ivfadc_ingest, batch mode: one unit of work against the
    // persisted store, reopened from config alone (IvfPq.open + __meta)
    def v(xs: Float*): Array[Float] = xs.toArray
    val corpus = Seq(
      (1L, v(1f, 0f, 0f, 0f)), (2L, v(0f, 1f, 0f, 0f)),
      (3L, v(0f, 0f, 1f, 0f)), (4L, v(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val store = tmpDir("aiv-idx") + "/store"
    val vSink = tmpDir("aiv-sink") + "/fresh"
    graft.functions.IvfPq.build(corpus, "vec_id", "embedding",
      dim = 4, nLists = 2, m = 2, ksub = 4, trainSampleSize = 100)
      .persisted(store)
    val before = spark.read.parquet(store).count()
    graft.algo.DataLoader.loadData(spark,
      s"""{
         |  "input_specs": [{
         |    "spec_id": "src", "read_type": "batch", "df_name": "vecs"
         |  }],
         |  "output_specs": [{
         |    "spec_id": "out", "input_id": "src", "data_format": "ivfadc_ingest",
         |    "location": "$vSink",
         |    "options": {"index_location": "$store", "dedup": "false",
         |      "id_col": "vec_id", "vec_col": "embedding"}
         |  }]
         |}""".stripMargin,
      dfs = Map("vecs" -> Seq(
        (50L, v(0.9f, 0.4f, 0.2f, 0f)), (51L, v(0f, 0.1f, 0.9f, 0.3f))
      ).toDF("vec_id", "embedding")))
    // the screen itself is covered by the direct IVFADC e2e (tiny test
    // codebooks quantize too coarsely for a reliable fresh/dup split
    // here) — this asserts the CONFIG route: store reopened via
    // IvfPq.open from __meta, batch encoded + appended, sink fed
    assert(spark.read.parquet(vSink).select("vec_id")
      .as[Long].collect().toSet == Set(50L, 51L))
    assert(spark.read.parquet(store).count() == before + 2)
  }

  test("IVFADC face soak: file-count-keyed compaction bounds the store across 50 batches") {
    // Round 19 (the r18 sf0.1 soak's own conclusion): the IVFADC store
    // must key compaction on FILE COUNT — a 23 s listing cliff appeared
    // past ~2.5k files however many batches made them. One long-lived
    // query, 50 micro-batches, `compactFiles` budget: the store's data
    // file count must never exceed the budget at any batch boundary,
    // and every streamed vector still lands (sink and store complete).
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def v(xs: Float*): Array[Float] = xs.toArray
    val corpus = Seq(
      (1L, v(1f, 0f, 0f, 0f)), (2L, v(0f, 1f, 0f, 0f)),
      (3L, v(0f, 0f, 1f, 0f)), (4L, v(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val store = tmpDir("soak-idx") + "/store"
    val sink = tmpDir("soak-sink") + "/fresh"
    graft.functions.IvfPq.build(corpus, "vec_id", "embedding",
      dim = 4, nLists = 2, m = 2, ksub = 4, trainSampleSize = 100)
      .persisted(store)
    val budget = 12
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.StreamingPqIngest.start(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      graft.functions.IvfPq.open(spark, store), store,
      sink, tmpDir("soak-ckpt"),
      dedup = false, compactFiles = budget,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
    try {
      var maxSeen = 0
      var compactions = 0
      var prevFiles = graft.maintain.IndexMaintenance.stats(spark, store)._1
      (0 until 50).foreach { i =>
        val x = (i % 7).toFloat / 7f
        mem.addData((100L + i, v(x, 1f - x, x * x, 0.5f)))
        q.processAllAvailable()
        val (files, _) = graft.maintain.IndexMaintenance.stats(spark, store)
        maxSeen = math.max(maxSeen, files)
        if (files < prevFiles) compactions += 1
        prevFiles = files
        assert(files <= budget,
          s"store exceeded the file budget after batch $i: $files > $budget")
      }
      assert(compactions >= 2,
        s"expected repeated file-count-keyed compactions over 50 batches ($maxSeen max files)")
      // nothing lost across the compactions: every streamed id is in the
      // sink AND PQ-coded in the store next to the built corpus
      assert(spark.read.parquet(sink).select("vec_id").as[Long].collect().toSet
        == (0 until 50).map(100L + _).toSet)
      assert(spark.read.parquet(store).select("id").as[Long].collect().toSet
        == ((0 until 50).map(100L + _).toSet ++ Set(1L, 2L, 3L, 4L)))
      // the cell partitioning (probe-time pruning) survived every rewrite
      val dirs = new java.io.File(store).listFiles()
        .filter(_.isDirectory).map(_.getName)
      assert(dirs.forall(_.startsWith("cell=")) && dirs.nonEmpty,
        s"cell layout lost: ${dirs.toSeq}")
    } finally q.stop()
  }

  test("ACON index seeding: write_type index_build bootstraps the dedup loop config-only") {
    // Round 19: the faces deliberately refuse to cold-start on a missing
    // index; this is the config spelling that BUILDS it. One ACON seeds
    // the minhash index from a corpus input (persisting __meta.json), a
    // second ACON runs streaming dedup against it with NO structural
    // options — parameters derive from the store's own meta.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val textX = "one two three four five six seven eight nine ten eleven"
    val idxLoc = tmpDir("seed-idx") + "/index"
    val sink = tmpDir("seed-sink") + "/clean"
    graft.algo.DataLoader.loadData(spark,
      s"""{
         |  "input_specs": [{
         |    "spec_id": "corpus", "read_type": "batch", "df_name": "docs"
         |  }],
         |  "output_specs": [{
         |    "spec_id": "seed", "input_id": "corpus",
         |    "data_format": "minhash_dedup", "write_type": "index_build",
         |    "options": {"index_location": "$idxLoc",
         |      "id_col": "doc_id", "text_col": "text",
         |      "num_bands": "8", "num_hashes": "32", "threshold": "0.5"}
         |  }]
         |}""".stripMargin,
      dfs = Map("docs" -> Seq((1L, textA)).toDF("doc_id", "text")))
    // the seeded store is self-describing
    val meta = graft.functions.MinhashIndex.readMeta(idxLoc)
    assert(meta.contains(graft.functions.MinhashIndex.Meta(3, 32, 8, 0.5)),
      s"seeded index meta: $meta")
    // second ACON: streaming dedup face, structural params DERIVED
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    mem.addData((100L, textA), (101L, textX)) // 100 near-dups the corpus
    graft.algo.DataLoader.loadData(spark,
      s"""{
         |  "input_specs": [{
         |    "spec_id": "src", "read_type": "streaming", "df_name": "docs"
         |  }],
         |  "output_specs": [{
         |    "spec_id": "out", "input_id": "src", "data_format": "minhash_dedup",
         |    "location": "$sink",
         |    "options": {
         |      "index_location": "$idxLoc",
         |      "checkpointLocation": "${tmpDir("seed-ckpt")}",
         |      "id_col": "doc_id", "text_col": "text"}
         |  }]
         |}""".stripMargin,
      dfs = Map("docs" -> mem.toDF().toDF("doc_id", "text")))
    assert(spark.read.parquet(sink).select("doc_id")
      .as[Long].collect().toSeq == Seq(101L))
    // a MISMATCHED structural option on the run face fails loudly
    // instead of silently missing every duplicate
    val err = intercept[Exception] {
      graft.streaming.StreamingFaces.writeBatch(spark,
        graft.spec.OutputSpec(specId = "bad", inputId = "x",
          dataFormat = Some("minhash_dedup"), location = Some(sink),
          options = Map("index_location" -> idxLoc, "num_bands" -> "4",
            "id_col" -> "doc_id", "text_col" -> "text")),
        Seq((200L, textX)).toDF("doc_id", "text"))
    }
    assert(err.getMessage.contains("num_bands"), err.getMessage)
    // chunk + IVFADC seeding: same spelling, index layouts verified
    val chunkIdx = tmpDir("seed-cidx") + "/index"
    graft.algo.DataLoader.loadData(spark,
      s"""{
         |  "input_specs": [{
         |    "spec_id": "corpus", "read_type": "batch", "df_name": "docs"
         |  }],
         |  "output_specs": [{
         |    "spec_id": "seed", "input_id": "corpus",
         |    "data_format": "chunk_dedup", "write_type": "index_build",
         |    "options": {"index_location": "$chunkIdx",
         |      "id_col": "doc_id", "text_col": "text", "chunk_tokens": "2"}
         |  }]
         |}""".stripMargin,
      dfs = Map("docs" -> Seq((1L, "a b c d")).toDF("doc_id", "text")))
    val cIdx = spark.read.parquet(chunkIdx)
    assert(cIdx.columns.toSeq == Seq("chunk_hash") && cIdx.count() == 2)
    def v(xs: Float*): Array[Float] = xs.toArray
    val pqIdx = tmpDir("seed-pidx") + "/store"
    graft.algo.DataLoader.loadData(spark,
      s"""{
         |  "input_specs": [{
         |    "spec_id": "corpus", "read_type": "batch", "df_name": "vecs"
         |  }],
         |  "output_specs": [{
         |    "spec_id": "seed", "input_id": "corpus",
         |    "data_format": "ivfadc_ingest", "write_type": "index_build",
         |    "options": {"index_location": "$pqIdx", "id_col": "vec_id",
         |      "vec_col": "embedding", "n_lists": "2", "pq_m": "2",
         |      "pq_ksub": "4"}
         |  }]
         |}""".stripMargin,
      dfs = Map("vecs" -> Seq(
        (1L, v(1f, 0f, 0f, 0f)), (2L, v(0f, 1f, 0f, 0f)),
        (3L, v(0f, 0f, 1f, 0f)), (4L, v(0f, 0f, 0f, 1f))
      ).toDF("vec_id", "embedding")))
    // reopenable from the location alone (the __meta model sibling) and
    // already in the cell-partitioned probe layout
    val reopened = graft.functions.IvfPq.open(spark, pqIdx)
    assert(reopened.codes.count() == 4)
    assert(spark.read.parquet(pqIdx).columns.sorted.toSeq
      == Seq("cell", "codes", "id"))
  }

  test("chunk index seeding persists chunk_tokens; run faces derive and validate it") {
    // Round 19 review: the chunk store is a bare hash set, so a
    // chunk_tokens drift between the seed ACON and the run ACON would
    // hash incoming chunks at a different granularity and silently miss
    // every duplicate — the same failure class the minhash __meta.json
    // closes. The seed now writes a sidecar; run faces derive the value
    // from it and reject a contradicting option.
    import spark.implicits._
    val idxLoc = tmpDir("cmeta-idx") + "/index"
    val sink = tmpDir("cmeta-sink") + "/clean"
    graft.streaming.StreamingFaces.writeBatch(spark,
      graft.spec.OutputSpec(specId = "seed", inputId = "c",
        dataFormat = Some("chunk_dedup"), writeType = "index_build",
        options = Map("index_location" -> idxLoc, "id_col" -> "doc_id",
          "text_col" -> "text", "chunk_tokens" -> "2")),
      Seq((1L, "a b c d")).toDF("doc_id", "text"))
    assert(graft.functions.ChunkIndex.readMeta(idxLoc)
      .contains(graft.functions.ChunkIndex.Meta(2)))
    // run face with NO chunk_tokens option: granularity derives from the
    // sidecar (2), so "a b" dedups and "x y" survives — under the
    // DEFAULT (5) the whole doc would be one unseen chunk and survive
    // verbatim
    graft.streaming.StreamingFaces.writeBatch(spark,
      graft.spec.OutputSpec(specId = "run", inputId = "s",
        dataFormat = Some("chunk_dedup"), location = Some(sink),
        options = Map("index_location" -> idxLoc, "id_col" -> "doc_id",
          "text_col" -> "text")),
      Seq((5L, "a b x y")).toDF("doc_id", "text"))
    assert(spark.read.parquet(sink).select("clean_text")
      .as[String].collect().toSeq == Seq("x y"))
    // a CONTRADICTING option fails loudly instead of missing duplicates
    val err = intercept[Exception] {
      graft.streaming.StreamingFaces.writeBatch(spark,
        graft.spec.OutputSpec(specId = "bad", inputId = "s",
          dataFormat = Some("chunk_dedup"), location = Some(sink),
          options = Map("index_location" -> idxLoc, "id_col" -> "doc_id",
            "text_col" -> "text", "chunk_tokens" -> "5")),
        Seq((6L, "p q")).toDF("doc_id", "text"))
    }
    assert(err.getMessage.contains("chunk_tokens"), err.getMessage)
  }

  test("the Scala chunk-dedup route also rejects a granularity contradicting the sidecar") {
    // the ACON face derives chunk_tokens from the sidecar; a Scala
    // caller passes an Int, so the drift guard must live on the shared
    // path-taking entry (dedupBatch) too
    import spark.implicits._
    val idxLoc = tmpDir("cmeta-scala") + "/index"
    graft.functions.DedupFunctions.chunkHashIndex(
        Seq((1L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text", 2)
      .write.parquet(idxLoc)
    graft.functions.ChunkIndex.writeMeta(
      spark.sparkContext.hadoopConfiguration, idxLoc,
      graft.functions.ChunkIndex.Meta(2))
    val batch = Seq((5L, "a b x y")).toDF("doc_id", "text")
    val err = intercept[Exception] {
      graft.streaming.StreamingChunkDedup.dedupBatch(
        batch, "doc_id", "text", idxLoc, chunkTokens = 5, _ => (), append = false)
    }
    assert(err.getMessage.contains("chunk_tokens=2"), err.getMessage)
    // the matching granularity proceeds and dedups at the seeded grain
    val ok = graft.streaming.StreamingChunkDedup.dedupBatch(
      batch, "doc_id", "text", idxLoc, chunkTokens = 2, _ => (), append = false)
    assert(ok.select("clean_text").as[String].collect().toSeq == Seq("x y"))
  }

  test("a torn index meta sidecar fails loudly with a recovery hint, never opaquely") {
    import spark.implicits._
    val idxLoc = tmpDir("torn-idx") + "/index"
    graft.functions.MinhashIndex.build(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), "doc_id", "text", idxLoc)
    // simulate a JVM killed mid-write of the sidecar (pre-r19 writeMeta
    // was a raw overwrite; it is now temp+rename, but a torn file can
    // still arrive from outside — it must not brick opens with a bare
    // Jackson error)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(idxLoc + "__meta.json"),
      """{"shingle_size":3,"num_ha""".getBytes("UTF-8"))
    val err = intercept[Exception] { graft.functions.MinhashIndex.open(idxLoc) }
    assert(err.getMessage.contains("unreadable") &&
      err.getMessage.contains("rebuild"), err.getMessage)
  }

  test("a threshold-only open works against a store built with non-default structure") {
    // Round 19 review: the old Int-typed open() validated its DEFAULT
    // arguments as if explicitly claimed, so open(loc, threshold=...)
    // hard-failed against any store built with non-default structural
    // parameters — exactly the query-time override API.md promises.
    import spark.implicits._
    val idxLoc = tmpDir("thr-idx") + "/index"
    graft.functions.MinhashIndex.build(
      Seq((1L, "a b c d e f")).toDF("doc_id", "text"), "doc_id", "text",
      idxLoc, numBands = 8, threshold = 0.5)
    val idx = graft.functions.MinhashIndex.open(idxLoc, threshold = Some(0.9))
    assert(idx.numBands == 8 && idx.shingleSize == 3 && idx.numHashes == 32,
      s"structural params must derive from the sidecar: ${idx.numBands}")
    assert(idx.threshold == 0.9, "a stated threshold wins over the persisted default")
    // a STATED structural parameter contradicting the sidecar still
    // fails loudly, naming the offending parameter
    val err = intercept[Exception] {
      graft.functions.MinhashIndex.open(idxLoc, numBands = Some(4))
    }
    assert(err.getMessage.contains("num_bands=4") &&
      err.getMessage.contains("num_bands=8"), err.getMessage)
    // and a pre-meta store falls back to the stated values / defaults
    java.nio.file.Files.delete(java.nio.file.Paths.get(idxLoc + "__meta.json"))
    val legacy = graft.functions.MinhashIndex.open(
      idxLoc, numBands = Some(8), threshold = Some(0.4))
    assert(legacy.numBands == 8 && legacy.threshold == 0.4 &&
      legacy.shingleSize == 3)
  }

  test("a failed re-seed leaves no stale sidecar: open(location) fails loudly") {
    // Round 19 review: build() previously overwrote the store BEFORE
    // rewriting the sidecar, so a crash in between left a valid-looking
    // new-parameter store described by the OLD parameters — open() would
    // silently mis-hash every probe while rejecting the correct values.
    // The stale sidecar is now dropped before the store overwrite: the
    // crash window's worst state is a LOUD missing-meta store.
    import spark.implicits._
    val boom = udf { (_: String) => sys.error("boom"): String }
    // minhash
    val mLoc = tmpDir("reseed-m") + "/index"
    graft.functions.MinhashIndex.build(
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), "doc_id", "text",
      mLoc, numBands = 4)
    intercept[Exception] {
      graft.functions.MinhashIndex.build(
        Seq((1L, "a b c d e")).toDF("doc_id", "text")
          .withColumn("text", boom(col("text"))),
        "doc_id", "text", mLoc, numBands = 8)
    }
    assert(graft.functions.MinhashIndex.readMeta(mLoc).isEmpty,
      "the stale 4-band sidecar must not survive a failed 8-band re-seed")
    val err = intercept[Exception] { graft.functions.MinhashIndex.open(mLoc) }
    assert(err.getMessage.contains("no minhash meta"), err.getMessage)
    // chunk
    val cLoc = tmpDir("reseed-c") + "/index"
    graft.functions.ChunkIndex.build(
      Seq((1L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text", cLoc, 2)
    assert(graft.functions.ChunkIndex.readMeta(cLoc)
      .contains(graft.functions.ChunkIndex.Meta(2)))
    intercept[Exception] {
      graft.functions.ChunkIndex.build(
        Seq((1L, "a b c d")).toDF("doc_id", "text")
          .withColumn("text", boom(col("text"))),
        "doc_id", "text", cLoc, 3)
    }
    assert(graft.functions.ChunkIndex.readMeta(cLoc).isEmpty,
      "the stale chunk_tokens=2 sidecar must not survive a failed re-seed")
    // a successful re-seed restores the self-describing store
    graft.functions.ChunkIndex.build(
      Seq((1L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text", cLoc, 3)
    assert(graft.functions.ChunkIndex.readMeta(cLoc)
      .contains(graft.functions.ChunkIndex.Meta(3)))
    // the atomic overwrite-rename leaves no temp residue
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(cLoc + "__meta.json.tmp")))
  }

  test("""ACON compact_every "files:N" keys the chunk face on the store's file count""") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.functions.DedupFunctions
    val idxLoc = tmpDir("fcc-idx") + "/index"
    val sink = tmpDir("fcc-sink") + "/clean"
    val ckpt = tmpDir("fcc-ckpt")
    DedupFunctions.chunkHashIndex(
        Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text", chunkTokens = 2)
      .write.parquet(idxLoc)
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val acon =
      s"""{
         |  "input_specs": [{
         |    "spec_id": "src", "read_type": "streaming", "df_name": "ingest"
         |  }],
         |  "output_specs": [{
         |    "spec_id": "out", "input_id": "src", "data_format": "chunk_dedup",
         |    "location": "$sink",
         |    "options": {
         |      "index_location": "$idxLoc", "checkpointLocation": "$ckpt",
         |      "compact_every": "files:3",
         |      "id_col": "doc_id", "text_col": "text", "chunk_tokens": "2"}
         |  }]
         |}""".stripMargin
    def drain(): Unit =
      graft.algo.DataLoader.loadData(spark, acon,
        dfs = Map("ingest" -> mem.toDF().toDF("doc_id", "text")))
    (0 until 6).foreach { i =>
      mem.addData((10L + i, s"w$i x$i y$i z$i"))
      drain()
      val (files, _) = graft.maintain.IndexMaintenance.stats(spark, idxLoc)
      assert(files <= 3, s"chunk index exceeded the file budget after batch $i: $files")
    }
    // every distinct chunk of every batch is indexed (a b + 2 per batch)
    assert(spark.read.parquet(idxLoc).distinct().count() == 1 + 12)
    assert(spark.read.parquet(sink).count() == 6)
  }
}
