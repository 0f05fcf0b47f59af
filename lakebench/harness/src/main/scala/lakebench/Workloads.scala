package lakebench

import graft.queries.{QueryCatalog, QueryDef}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.io.File

/** One timed operation: a catalog query or an ACON run. */
final case class Op(name: String, run: () => Unit)

/** A workload as the harness drives it: an untimed warm-up that also
  * writes the outputs the correctness check reads, then iterations of
  * timed operations. */
trait Workload {
  /** Untimed; returns (operations attempted, failures as (op, error)). */
  def warm(): (Int, Seq[(String, String)])
  def iteration(i: Int): Seq[Op]
  /** Called between operations, outside the timed region. */
  def afterOp(i: Int, op: Op): Unit = ()
  /** Correctness checks the harness runs itself, after the timed loop:
    * (outputs checked, one line per wrong output). */
  def check(): (Int, Seq[String]) = (0, Nil)
  /** Workload-specific numbers for the record. */
  def extra(iterations: Int, timed: Counters): Map[String, Any] = Map.empty
}

/** Catalog queries forced with the noop sink. The warm-up runs every query
  * once on the small check tables and writes its output as parquet for
  * the oracle check; timed iterations run on the full tables, in a seeded
  * permutation of the query order. */
final class QueryWorkload(
    spark: SparkSession, tracer: Tracer, dir: String, checkDir: String, work: String,
    queries: Seq[QueryDef], seed: Long) extends Workload {

  /** The warm-up runs the queries on WarmThreads threads: on a cold JVM
    * most of its time is single-threaded planning, code generation and
    * class loading, which overlap across queries. */
  def warm(): (Int, Seq[(String, String)]) = {
    val out = new File(work, "out")
    out.mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(QueryWorkload.WarmThreads)
    val pending = queries.map { q =>
      pool.submit(new java.util.concurrent.Callable[Option[(String, String)]] {
        def call(): Option[(String, String)] =
          try {
            q.run(spark, checkDir).write.mode("overwrite").parquet(new File(out, q.name).getPath)
            None
          } catch { case scala.util.control.NonFatal(e) => Some(q.name -> e.toString) }
      })
    }
    val failures = pending.flatMap(_.get())
    pool.shutdown()
    val oracles = queries.flatMap(q => q.oracle.map(q.name -> _)).toMap
    java.nio.file.Files.writeString(new File(out, "oracle_sql.json").toPath, Harness.json.writeValueAsString(oracles))
    (queries.size, failures)
  }

  def iteration(i: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + i).shuffle(queries).map { q =>
      Op(q.name, () => {
        val df = tracer.span("build")(q.run(spark, dir))
        tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
      })
    }
}

object QueryWorkload {
  val WarmThreads = 4

  /** catalog_sf01 runs every tenth catalog query, in catalog order: a
    * systematic sample that spans the operator families and fits the run
    * budget. */
  def catalogPanel: Seq[QueryDef] = QueryCatalog.all.zipWithIndex.collect {
    case (q, i) if i % 10 == 0 => q
  }

  val curationNames: Seq[String] = Seq(
    "q31_dedup_minhash", "q32_dedup_simhash", "q115_chunk_dedup", "q39_ann_lsh",
    "q50_ann_ivf", "q40_embedding_neardup", "q91_semantic_dedup", "q56_dedup_clusters",
    "q87_top_spans", "q112_span_cascade", "q110_edit_distance_pairs")

  def curation: Seq[QueryDef] = {
    val byName = QueryCatalog.all.map(q => q.name -> q).toMap
    curationNames.map(n => byName.getOrElse(n, sys.error(s"catalog has no query $n")))
  }
}

/** Lakehouse delta loads through the engine's ACON entry point. One
  * iteration: a full load of lineitem into a parquet target partitioned by
  * ship year, one CDC merge ACON per delta batch, and a final ACON that
  * compacts the target. Every iteration writes a fresh target; the warm-up
  * iteration (-1) runs on the small check inputs. */
final class AconWorkload(
    spark: SparkSession, tracer: Tracer, dir: String, checkDir: String, work: String,
    batches: Int) extends Workload {
  private val keyCols = Seq("l_orderkey", "l_linenumber")
  private def target(i: Int) = s"$work/acon/it$i/target"
  private def dqSink(i: Int) = s"$work/acon/it$i/dq_results"
  private def inputs(i: Int) = if (i < 0) checkDir else dir
  private def source(i: Int) = s"${inputs(i)}/lineitem.parquet"
  private def cdc(i: Int, b: Int) = s"${inputs(i)}/cdc_$b.parquet"
  /** Finished iterations: (iteration, CDC batches applied). */
  private val finished = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
  private val touched = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var filesWritten = 0L
  private var before: Map[String, (Long, Long)] = Map.empty

  val sourceBytes: Long =
    (source(0) +: (1 to batches).map(cdc(0, _))).map(p => Harness.treeBytes(new File(p))).sum

  // The target keeps the CDC columns, as the reference's delta loads do:
  // the merge's delete and insert predicates read them on both sides.
  private val withShipYear = """{"function": "with_expressions",
    |  "args": {"cols_and_exprs": {"ship_year": "year(l_shipdate)"}}}""".stripMargin
  private val withCdcColumns = """{"function": "with_expressions",
    |  "args": {"cols_and_exprs": {"record_mode": "'I'", "ext_ts": "cast(0 as bigint)",
    |    "ship_year": "year(l_shipdate)"}}}""".stripMargin

  def fullLoadAcon(i: Int): String =
    s"""{"input_specs": [{"spec_id": "lineitem", "read_type": "batch",
       |   "data_format": "parquet", "location": "${source(i)}"}],
       | "transform_specs": [{"spec_id": "shaped", "input_id": "lineitem",
       |   "transformers": [$withCdcColumns]}],
       | "output_specs": [{"spec_id": "target", "input_id": "shaped",
       |   "write_type": "overwrite", "data_format": "parquet",
       |   "location": "${target(i)}", "partitions": ["ship_year"]}]}""".stripMargin

  def deltaAcon(i: Int, b: Int): String =
    s"""{"input_specs": [{"spec_id": "cdc", "read_type": "batch",
       |   "data_format": "parquet", "location": "${cdc(i, b)}"}],
       | "transform_specs": [{"spec_id": "condensed", "input_id": "cdc",
       |   "transformers": [
       |     {"function": "condense_record_mode_cdc", "args": {
       |       "business_key": ["l_orderkey", "l_linenumber"],
       |       "ranking_key_desc": ["ext_ts"], "record_mode_col": "record_mode",
       |       "valid_record_modes": ["I", "U", "D"]}},
       |     $withShipYear]}],
       | "dq_specs": [{"spec_id": "checked", "input_id": "condensed", "dq_type": "validator",
       |   "dq_functions": [
       |     {"function": "expect_column_values_to_not_be_null", "args": {"column": "l_orderkey"}},
       |     {"function": "expect_column_values_to_be_between",
       |      "args": {"column": "l_quantity", "min_value": 1, "max_value": 50}},
       |     {"function": "expect_column_values_to_be_in_set",
       |      "args": {"column": "record_mode", "value_set": ["I", "U", "D"]}},
       |     {"function": "expect_table_row_count_to_be_between", "args": {"min_value": 1}}],
       |   "result_sink": {"spec_id": "dq_results", "input_id": "checked",
       |     "write_type": "append", "data_format": "parquet", "location": "${dqSink(i)}"}}],
       | "output_specs": [{"spec_id": "target", "input_id": "checked", "write_type": "merge",
       |   "data_format": "parquet", "location": "${target(i)}", "partitions": ["ship_year"],
       |   "merge_opts": {
       |     "merge_predicate": "current.l_orderkey = new.l_orderkey and current.l_linenumber = new.l_linenumber and current.ship_year = new.ship_year",
       |     "delete_predicate": "new.record_mode = 'D'",
       |     "insert_predicate": "new.record_mode <> 'D'"}}]}""".stripMargin

  def optimizeAcon(i: Int): String =
    s"""{"input_specs": [], "output_specs": [],
       | "terminate_specs": [{"function": "optimize_dataset",
       |   "args": {"location": "${target(i)}"}}]}""".stripMargin

  /** Untraced runs go through `Engine.loadData`; traced runs call the
    * DataLoader steps one by one, each inside its own span. */
  private def load(acon: String): Unit =
    if (!tracer.tracing) graft.Engine.loadData(spark, acon)
    else {
      val parsed = tracer.span("spec") {
        val a = graft.spec.Specs.parseAcon(acon)
        graft.spec.AconValidation.validate(a)
        a
      }
      val dl = new graft.algo.DataLoader(spark, parsed)
      tracer.span("io.read")(dl.read())
      tracer.span("transform")(dl.transform())
      tracer.span("dq")(dl.processDq())
      tracer.span("io.write")(dl.write())
      tracer.span("algo.terminate")(dl.terminate())
    }

  def iteration(i: Int): Seq[Op] = {
    Harness.deleteTree(new File(s"$work/acon/it$i"))
    (Op("full_load", () => load(fullLoadAcon(i))) +:
      (1 to batches).map(b => Op(s"delta_$b", () => load(deltaAcon(i, b))))) :+
      Op("optimize", () => load(optimizeAcon(i)))
  }

  /** One ACON of each kind, on the check inputs. */
  def warm(): (Int, Seq[(String, String)]) = {
    val ops = iteration(-1).filter(op => !op.name.startsWith("delta_") || op.name == "delta_1")
    val failures = ops.flatMap { op =>
      try { op.run(); None }
      catch { case scala.util.control.NonFatal(e) => Some(op.name -> e.toString) }
      finally Harness.release(spark)
    }
    finished += (-1 -> 1)
    (ops.size, failures)
  }

  /** Data files under the target, by path: (size, modification time). */
  private def listing(i: Int): Map[String, (Long, Long)] = {
    val root = new File(target(i))
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    if (!root.exists) Map.empty
    else walk(root).filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getPath -> (f.length, f.lastModified)).toMap
  }

  override def afterOp(i: Int, op: Op): Unit = {
    val now = listing(i)
    if (op.name.startsWith("delta_") && before.nonEmpty) {
      // a partition dir counts as rewritten when its file set changed
      def byDir(m: Map[String, (Long, Long)]) = m.groupBy { case (p, _) => new File(p).getParent }
      val old = byDir(before)
      val cur = byDir(now)
      val rewritten = old.filter { case (d, fs) => cur.get(d).forall(_ != fs) }
      touched += rewritten.values.flatMap(_.values.map(_._1)).sum.toDouble /
        math.max(1L, before.values.map(_._1).sum)
      filesWritten += now.keySet.diff(before.keySet).size
    } else if (op.name == "full_load") filesWritten += now.size
    before = now
    if (op.name == "optimize") finished += (i -> batches)
  }

  /** Last-write-wins over the full load plus the first `applied` CDC
    * batches, in plain Spark: the latest change per key wins, and a key
    * whose latest change is a delete is absent. */
  def reference(i: Int, applied: Int): org.apache.spark.sql.DataFrame = {
    val full = spark.read.parquet(source(i))
      .withColumn("record_mode", lit("I")).withColumn("ext_ts", lit(0L))
    val all = (1 to applied).map(b => spark.read.parquet(cdc(i, b))).foldLeft(full)(_ unionByName _)
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("ext_ts").desc)
    all.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("record_mode") =!= "D")
      .drop("rn")
      .withColumn("ship_year", year(col("l_shipdate")))
  }

  override def check(): (Int, Seq[String]) = {
    val results = finished.toSeq.map { case (i, applied) =>
      val ref = reference(i, applied)
      val got = spark.read.parquet(target(i)).select(ref.columns.toSeq.map(col): _*)
      val missing = ref.exceptAll(got).count()
      val extra = got.exceptAll(ref).count()
      i -> (missing, extra)
    }
    val wrong = results.collect { case (i, (m, e)) if m + e > 0 =>
      s"acon iteration $i: $m reference rows missing, $e unexpected rows" }
    (results.size, wrong)
  }

  override def extra(iterations: Int, timed: Counters): Map[String, Any] = {
    val n = math.max(1, iterations)
    Map(
      "source_bytes" -> sourceBytes,
      "write_amp" -> timed.outputBytes.toDouble / (n * sourceBytes),
      "io.write.touched_ratio" ->
        (if (touched.isEmpty) 0.0 else touched.sum / touched.size),
      "io.write.files" -> filesWritten.toDouble / n)
  }
}
