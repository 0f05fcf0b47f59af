package graft.tools

import graft.operators.ScaleOps
import graft.queries.QueryCatalog
import java.nio.file.{Files, Paths}

/** Dev tool: regenerate the per-query `## qNN_...` sections of PLANS.md
  * (pushdown, join strategy, shuffle count); everything above the first
  * of them is hand-written and kept. Run from the repository root. */
object PlanAudit {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // default: audit the whole catalog; pass names to restrict
    val names: String => Boolean =
      if (args.length > 1) args.drop(1).toSet else (_ => true)
    val spark = graft.exec.ExecEnv.getOrCreate("plan-audit", Some("local[16]"),
      Map("spark.sql.shuffle.partitions" -> "16", "spark.ui.enabled" -> "false"))
    // hand-written sections above the first per-query section are kept
    val plans = Paths.get("PLANS.md")
    val kept = Files.readString(plans).linesIterator
      .takeWhile(l => !l.matches("## q\\d+_.*")).mkString("\n").stripTrailing + "\n"
    val sb = new StringBuilder(kept)
    QueryCatalog.all.filter(q => names(q.name)).foreach { q =>
      val df = q.run(spark, sfDir)
      df.count() // let AQE finalize
      val plan = df.queryExecution.executedPlan.toString()
      val shuffles = ScaleOps.countShuffles(df)
      val joins = "(?m)^\\s*[+:]?[- ]*(\\w*Join\\w*)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq.distinct
      val pushed = "PushedFilters: \\[(.*?)\\]".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq
      val schemas = "ReadSchema: (struct<[^\\n]*)".r
        .findAllMatchIn(plan).map(_.group(1).take(120)).toSeq
      val aggs = "(?m)^\\s*[+:]?[- ]*(\\w*HashAggregate\\w*)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq.distinct
      val partialAggs = "partial_(\\w+)".r
        .findAllMatchIn(plan).map(_.group(1)).toSeq.distinct
      sb.append(s"\n## ${q.name}\n\n")
      sb.append(s"- shuffle exchanges: $shuffles\n")
      if (joins.nonEmpty) sb.append(s"- join strategies: ${joins.mkString(", ")}\n")
      if (aggs.nonEmpty) sb.append(s"- aggregate operators: ${aggs.mkString(", ")}" +
        (if (partialAggs.nonEmpty)
          s" (map-side partial: ${partialAggs.take(6).mkString(", ")})" else "") + "\n")
      pushed.zip(schemas).take(4).foreach { case (f, sch) =>
        sb.append(s"- scan: pushed=[${f.take(140)}] read=$sch\n")
      }
      sb.append("\n")
    }
    Files.writeString(plans, sb.toString)
    println("wrote PLANS.md")
    spark.stop()
  }
}
