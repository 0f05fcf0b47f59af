package graft.algo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Single source of the GAB calculated-metric WINDOW semantics
  * (reference `core/gab_manager.py:630-891`): the `last_cadence` lag,
  * the same-period-last-year lag (partitioned additionally by the
  * in-year position — month/day for sub-year cadences, ISO week for
  * WEEK) and the bounded `window_function` aggregate, rendered as Spark
  * SQL expression text. The run loop's view generator string-interpolates
  * these into CREATE VIEW bodies ([[GabChoreography]]) and
  * [[Gab.consumptionView]] compiles them with `expr()`, so a cadence/lag
  * semantics fix lands exactly once. */
object GabCalc {

  private def rnPart(snapshot: Boolean) = if (snapshot) ",rn" else ""

  /** `last_cadence`: previous-period value, 0 when absent. */
  def lagExpr(metric: String, lagN: String, partition: String,
      snapshot: Boolean): String =
    s"NVL(LAG($metric,$lagN) OVER(PARTITION BY $partition${rnPart(snapshot)}" +
      s" order by from_date),0)"

  /** `last_year_cadence`: same period last year (gab_manager.py:860-877).
    * The in-year position CASE yields NULL for a YEAR cadence — all YEAR
    * rows share one position partition, exactly as the reference's
    * generated SQL behaves. */
  def yearLagExpr(metric: String, lagN: String, partition: String,
      snapshot: Boolean): String =
    s"NVL(LAG($metric,$lagN) OVER(PARTITION BY $partition${rnPart(snapshot)}" +
      """,
        | case when cadence in ('DAY','MONTH','QUARTER')
        |  then struct(month(from_date), day(from_date))
        | when cadence in('WEEK') then struct(weekofyear(from_date+1),1)
        | end order by from_date),0)""".stripMargin

  /** `window_function`: bounded preceding-frame aggregate, 0 when empty. */
  def windowExpr(fn: String, metric: String, w0: String, w1: String,
      partition: String, snapshot: Boolean): String =
    s"NVL($fn($metric) OVER (PARTITION BY $partition" +
      s"${if (snapshot) " ,rn" else ""}" +
      s" order by from_date ROWS BETWEEN $w0 PRECEDING AND $w1 PRECEDING),0)"
}

/** Gold Asset Builder kernels: cadence aggregation as DataFrame
  * functions (the config-table run loop is [[GabChoreography]]). For a
  * use case, aggregate the source at each requested cadence
  * (DAY/WEEK/MONTH/QUARTER/YEAR), optionally as period-to-date
  * snapshots, union the cadences into one insights dataset and attach
  * computed metrics — formula-derived columns and window/lag metrics over
  * previous cadence periods (`core/gab_manager.py:630-838`);
  * [[consumptionView]] builds a view's calculated metrics over that
  * dataset.
  *
  * Scale shape: one shuffle per cadence (partial aggregation map-side),
  * cadence windows derived with `date_trunc` — no calendar-table join
  * needed for standard cadences; a custom calendar join (range BETWEEN)
  * is available via [[calendarJoin]] for fiscal variants.
  */
object Gab {

  /** One metric: output name -> aggregation expression over the source. */
  final case class Metric(name: String, agg: String, sourceCol: String)

  /** Formula metric computed over the aggregated row (any SQL expr). */
  final case class DerivedMetric(name: String, formula: String)

  /** Window metric over previous cadence periods per dimension group. */
  final case class WindowMetric(name: String, metric: String, agg: String,
      fromLag: Int, toLag: Int)

  final case class UseCase(
      name: String,
      dateCol: String,
      dimensions: Seq[String],
      metrics: Seq[Metric],
      cadences: Seq[String],
      derived: Seq[DerivedMetric] = Seq.empty,
      windows: Seq[WindowMetric] = Seq.empty,
      /** First day of the week for WEEK cadence: "MONDAY" (ISO, the
        * reference's `start_of_the_week = 'M'`) or "SUNDAY" ('S') —
        * `core/definitions.py:1433-1756` week_start axis. */
      weekStart: String = "MONDAY",
      /** Cadences producing SNAPSHOT rows (`snap_flag = 'Y'`): cadence ->
        * reconciliation granularity. A snapshot cadence emits one row per
        * (period, recon point inside the period) holding the
        * period-TO-DATE aggregate — e.g. WEEK with DAY recon yields 7
        * progressive rows per week. */
      snapshots: Map[String, String] = Map.empty)

  private def aggCol(m: Metric): Column = (m.agg.toLowerCase match {
    case "sum" => sum(col(m.sourceCol))
    case "avg" | "mean" => avg(col(m.sourceCol))
    case "min" => min(col(m.sourceCol))
    case "max" => max(col(m.sourceCol))
    case "count" => count(col(m.sourceCol))
    case "count_distinct" => countDistinct(col(m.sourceCol))
    case other => expr(s"$other(`${m.sourceCol}`)")
  }).as(m.name)

  /** Period start for a cadence, honoring the use case's week start.
    * Spark's `date_trunc('week', _)` is ISO (Monday); the Sunday variant
    * shifts by one day around the truncation — the same maneuver works in
    * any engine whose week-trunc is ISO, so oracles mirror it exactly. */
  def cadenceTrunc(dateCol: Column, cadence: String, weekStart: String = "MONDAY"): Column =
    cadence.toUpperCase match {
      case "DAY" => date_trunc("day", dateCol)
      case "WEEK" =>
        // week-start parsing is single-sourced in the choreography
        if (GabChoreography.weekStartDay(weekStart) == java.time.DayOfWeek.MONDAY)
          date_trunc("week", dateCol)
        else
          date_sub(date_trunc("week", date_add(dateCol, 1)).cast("date"), 1)
            .cast("timestamp")
      case "MONTH" => date_trunc("month", dateCol)
      case "QUARTER" => date_trunc("quarter", dateCol)
      case "YEAR" => date_trunc("year", dateCol)
      case other => sys.error(s"unknown cadence: $other")
    }

  /** Exclusive end of the cadence period starting at `fromDate`. */
  private def periodEnd(fromDate: Column, cadence: String): Column =
    cadence.toUpperCase match {
      case "DAY" => date_add(fromDate, 1)
      case "WEEK" => date_add(fromDate, 7)
      case "MONTH" => add_months(fromDate, 1)
      case "QUARTER" => add_months(fromDate, 3)
      case "YEAR" => add_months(fromDate, 12)
    }

  /** Aggregate one cadence; returns dims + cadence window + metrics. */
  def aggregateCadence(source: DataFrame, uc: UseCase, cadence: String): DataFrame = {
    val trunc = cadenceTrunc(col(uc.dateCol), cadence, uc.weekStart)
    val grouped = source
      .groupBy((uc.dimensions.map(col) :+ trunc.cast("date").as("from_date")): _*)
      .agg(aggCol(uc.metrics.head), uc.metrics.tail.map(aggCol): _*)
      .withColumn("cadence", lit(cadence.toUpperCase))
      .withColumn("to_date", periodEnd(col("from_date"), cadence))
    val withDerived = uc.derived.foldLeft(grouped)((df, d) =>
      df.withColumn(d.name, expr(d.formula)))
    applyWindowMetrics(withDerived, uc, extraPartition = Seq.empty)
  }

  /** Attach the use case's window/lag metrics; snapshot cadences pass the
    * snapshot rank as an extra partition so each lag compares same-rank
    * snapshots across periods (reference `gab_manager.py:838-877`). */
  private def applyWindowMetrics(
      df0: DataFrame, uc: UseCase, extraPartition: Seq[Column]): DataFrame =
    uc.windows.foldLeft(df0) { (df, w) =>
      val parts = (uc.dimensions :+ "cadence").map(col) ++ extraPartition
      val win = Window.partitionBy(parts: _*)
        .orderBy(col("from_date"))
        .rowsBetween(-w.fromLag, -w.toLag)
      val a = w.agg.toLowerCase match {
        case "sum" => sum(col(w.metric)).over(win)
        case "avg" | "mean" => avg(col(w.metric)).over(win)
        case "min" => min(col(w.metric)).over(win)
        case "max" => max(col(w.metric)).over(win)
        case "lag" => lag(col(w.metric), w.fromLag)
          .over(Window.partitionBy(parts: _*).orderBy(col("from_date")))
      }
      df.withColumn(w.name, a)
    }

  private val CadenceOrder = Seq("DAY", "WEEK", "MONTH", "QUARTER", "YEAR")

  private def reconStep(recon: String): Column = recon match {
    case "DAY" => expr("interval 1 day")
    case "WEEK" => expr("interval 7 day")
    case "MONTH" => expr("interval 1 month")
    case "QUARTER" => expr("interval 3 month")
  }

  /** Snapshot (period-to-date) aggregation for one cadence: one row per
    * (dims, cadence period, reconciliation point inside the period), each
    * holding the aggregate of the period's data UP TO that point —
    * `snap_flag = 'Y'` in the reference's combination matrix
    * (`core/definitions.py:1433-1756`), where e.g. WEEK cadence with DAY
    * reconciliation emits 7 progressive rows per week.
    *
    * Scale shape — deliberately NOT the reference's calendar x fact range
    * join (which multiplies the fact stream by the calendar): the corpus
    * is aggregated ONCE at reconciliation granularity (the only
    * corpus-sized shuffle, map-side combinable), and the snapshot
    * expansion + running accumulation happen on that small aggregate via
    * a dense generated frame and one cumulative window. Requires
    * decomposable aggregations (sum/count/min/max/avg).
    *
    * `to_date` is the exclusive end of the reconciliation slice, clipped
    * to the period end; the last snapshot of a completed period therefore
    * equals the plain cadence row. Snapshot points past `asOf` (default:
    * the source's max date) are not generated, mirroring the reference's
    * current-date clamp (`gab_manager.py:176-178`).
    */
  def aggregateCadenceSnapshots(
      source: DataFrame, uc: UseCase, cadence: String, recon: String,
      asOf: Option[java.sql.Date] = None): DataFrame = {
    val cad = cadence.toUpperCase
    val rec = recon.toUpperCase
    require(CadenceOrder.indexOf(rec) >= 0 && CadenceOrder.indexOf(cad) >= 0
        && CadenceOrder.indexOf(rec) < CadenceOrder.indexOf(cad),
      s"snapshot reconciliation $rec must be finer than cadence $cad")
    uc.metrics.foreach(m => require(
      Set("sum", "count", "min", "max", "avg", "mean")(m.agg.toLowerCase),
      s"snapshot cadence $cad needs a decomposable aggregation; " +
        s"got ${m.agg} for ${m.name}"))
    val dims = uc.dimensions.map(col)
    val partialCols = uc.metrics.flatMap { m =>
      m.agg.toLowerCase match {
        case "sum" => Seq(sum(col(m.sourceCol)).as(s"__s_${m.name}"))
        case "count" => Seq(count(col(m.sourceCol)).as(s"__c_${m.name}"))
        case "min" => Seq(min(col(m.sourceCol)).as(s"__mn_${m.name}"))
        case "max" => Seq(max(col(m.sourceCol)).as(s"__mx_${m.name}"))
        case "avg" | "mean" => Seq(
          sum(col(m.sourceCol)).as(s"__s_${m.name}"),
          count(col(m.sourceCol)).as(s"__c_${m.name}"))
      }
    } :+ count(lit(1)).as("__n")
    val partials = source.groupBy(
        (dims
          :+ cadenceTrunc(col(uc.dateCol), cad, uc.weekStart).cast("date").as("from_date")
          :+ cadenceTrunc(col(uc.dateCol), rec, uc.weekStart).cast("date").as("snap_start")): _*)
      .agg(partialCols.head, partialCols.tail: _*)
    val horizon = asOf.getOrElse(
      source.agg(max(col(uc.dateCol)).cast("date")).collect()(0).getDate(0))
    // Dense frame: every reconciliation slice of every observed period up
    // to the horizon. |periods x slices| rows — calendar-sized, not
    // corpus-sized. The first slice of a period may START before it
    // (Saturday month start under Monday weeks); it still accumulates
    // only the period's own data because partials group by from_date.
    val frame = partials.select((dims :+ col("from_date")): _*).distinct()
      .withColumn("snap_start", explode(sequence(
        cadenceTrunc(col("from_date"), rec, uc.weekStart).cast("date"),
        date_sub(periodEnd(col("from_date"), cad), 1),
        reconStep(rec))))
      .where(col("snap_start") <= lit(horizon))
    val joined = frame.join(partials, uc.dimensions :+ "from_date" :+ "snap_start", "left")
    val w = Window.partitionBy((dims :+ col("from_date")): _*)
      .orderBy(col("snap_start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val metricCols = uc.metrics.map { m =>
      (m.agg.toLowerCase match {
        case "sum" => sum(col(s"__s_${m.name}")).over(w)
        case "count" => sum(col(s"__c_${m.name}")).over(w)
        case "min" => min(col(s"__mn_${m.name}")).over(w)
        case "max" => max(col(s"__mx_${m.name}")).over(w)
        case "avg" | "mean" =>
          sum(col(s"__s_${m.name}")).over(w) / sum(col(s"__c_${m.name}")).over(w)
      }).as(m.name)
    }
    val base = joined
      .select((dims :+ col("from_date") :+ col("snap_start")
        :+ sum(col("__n")).over(w).as("__cum_n")) ++ metricCols: _*)
      // a snapshot exists once the period has ANY data up to it (the
      // reference's inner calendar join drops empty-prefix days)
      .where(col("__cum_n").isNotNull)
      .withColumn("cadence", lit(cad))
      .withColumn("to_date",
        least(periodEnd(col("snap_start"), rec), periodEnd(col("from_date"), cad)))
      .drop("snap_start", "__cum_n")
    val withDerived = uc.derived.foldLeft(base)((df, d) =>
      df.withColumn(d.name, expr(d.formula)))
    val withRn = withDerived.withColumn("__rn", row_number().over(
      Window.partitionBy((dims :+ col("from_date")): _*).orderBy(col("to_date"))))
    applyWindowMetrics(withRn, uc, extraPartition = Seq(col("__rn"))).drop("__rn")
  }

  /** Build the unified insights dataset: union of all cadences, snapshot
    * cadences (per `uc.snapshots`) expanded to period-to-date rows. */
  def buildInsights(source: DataFrame, uc: UseCase): DataFrame =
    uc.cadences.map { c =>
      uc.snapshots.get(c.toUpperCase).orElse(uc.snapshots.get(c)) match {
        case Some(recon) => aggregateCadenceSnapshots(source, uc, c, recon)
        case None => aggregateCadence(source, uc, c)
      }
    }.reduce(_ unionByName _)
      .withColumn("use_case", lit(uc.name))

  // ---------------------------------------------------------------------
  // Consumption views (reference `core/gab_manager.py:305-891`,
  // `core/gab_sql_generator.py:187-428`)
  // ---------------------------------------------------------------------

  /** `last_cadence` calculated metric: previous-period value. */
  final case class CalcLag(label: String, metric: String, lagN: Int = 1)
  /** `last_year_cadence` calculated metric: same period last year. */
  final case class CalcYearLag(label: String, metric: String, lagN: Int = 1)
  /** `window_function` calculated metric over previous periods. */
  final case class CalcWindow(label: String, metric: String, aggFunc: String,
      fromLag: Int, toLag: Int)

  /** One consumption view: dimension aliases, exposed metrics and the
    * calculated/derived metrics computed on read (the reference's
    * `mappings` config column). */
  final case class ViewMapping(
      name: String,
      dims: Map[String, String],
      metrics: Seq[String],
      lastCadence: Seq[CalcLag] = Seq.empty,
      lastYearCadence: Seq[CalcYearLag] = Seq.empty,
      windowFunctions: Seq[CalcWindow] = Seq.empty,
      derived: Seq[DerivedMetric] = Seq.empty,
      filter: Option[String] = None)

  /** Build a consumption view over the unified insights dataset: the
    * union of the non-snapshot branch (calculated metrics windowed by
    * cadence + dims over from_date) and the snapshot branch (windowed
    * additionally by the snapshot rank `rn`, so each lag compares
    * same-rank snapshots across periods) — the reference's
    * `_generate_consumption_view_statement` re-expressed as one
    * DataFrame. The result is calendar-sized (aggregates), so the rank
    * and lag windows are small; no corpus-scale work happens here.
    */
  def consumptionView(insights: DataFrame, uc: UseCase, m: ViewMapping): DataFrame = {
    val snapshotCads = uc.cadences.map(_.toUpperCase)
      .filter(c => uc.snapshots.contains(c) ||
        uc.snapshots.keys.exists(_.equalsIgnoreCase(c)))
    val scoped0 = insights.where(col("use_case") === uc.name)
    val scoped = m.filter.map(scoped0.where(_: String)).getOrElse(scoped0)
    val dimCols = m.dims.values.toSeq

    // calculated metrics compile the SHARED [[GabCalc]] SQL expressions —
    // the same text the run loop interpolates into its view DDLs —
    // so the lag/year-lag/window semantics exist exactly once. The
    // snapshot branch carries its rank as a column literally named `rn`
    // (the name the shared expressions partition by).
    def calc(df: DataFrame, snapshot: Boolean): DataFrame = {
      val partition = ("cadence" +: dimCols).mkString(",")
      val afterLag = m.lastCadence.foldLeft(df)((d, c) =>
        d.withColumn(c.label,
          expr(GabCalc.lagExpr(c.metric, c.lagN.toString, partition, snapshot))))
      val afterYear = m.lastYearCadence.foldLeft(afterLag)((d, c) =>
        d.withColumn(c.label,
          expr(GabCalc.yearLagExpr(c.metric, c.lagN.toString, partition, snapshot))))
      val afterWin = m.windowFunctions.foldLeft(afterYear)((d, c) =>
        d.withColumn(c.label, expr(GabCalc.windowExpr(
          c.aggFunc, c.metric, c.fromLag.toString, c.toLag.toString,
          partition, snapshot))))
      m.derived.foldLeft(afterWin)((d, c) => d.withColumn(c.name, expr(c.formula)))
    }

    val plainCads = uc.cadences.map(_.toUpperCase).filterNot(snapshotCads.contains)
    val outCols =
      (col("cadence") +: col("from_date") +: col("to_date") +:
        m.dims.toSeq.map { case (alias, c) => col(c).as(alias) }) ++
      m.metrics.map(col) ++
      (m.lastCadence.map(_.label) ++ m.lastYearCadence.map(_.label) ++
        m.windowFunctions.map(_.label) ++ m.derived.map(_.name)).map(col(_))
    val branches = Seq(
      if (plainCads.nonEmpty)
        Some(calc(scoped.where(col("cadence").isin(plainCads: _*)),
          snapshot = false).select(outCols: _*))
      else None,
      if (snapshotCads.nonEmpty)
        Some {
          val withRn = scoped.where(col("cadence").isin(snapshotCads: _*))
            .withColumn("rn", row_number().over(
              Window.partitionBy((col("cadence") +: dimCols.map(col))
                :+ col("from_date"): _*).orderBy(col("to_date"))))
          calc(withRn, snapshot = true).select(outCols: _*)
        }
      else None).flatten
    branches.reduce(_ unionByName _)
  }

  /** GAB-style calendar range join: attach cadence windows to fact rows
    * (`algorithms/gab.py:668-684`, semantics
    * `start <= date < end`).
    *
    * Day-grain windows (DATE-typed boundaries, the GAB shape) are first
    * EXPLODED into one row per covered day — a calendar-sized blow-up,
    * paid once on the broadcast side — and equi-joined on the fact's
    * date. That plans as a BroadcastHashJoin: one hash probe per fact
    * row, where the naive `BETWEEN` predicate plans as a
    * BroadcastNestedLoopJoin evaluating every window per fact row —
    * thousands of comparisons per row against a multi-year day-grain
    * calendar at 100x source scale.
    *
    * Non-day-grain (timestamp-keyed) windows can't be enumerated, so they
    * keep the BETWEEN path; the calendar side stays broadcast. */
  def calendarJoin(fact: DataFrame, dateCol: String, windows: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DateType
    val dayGrain = windows.schema("cadence_start_date").dataType == DateType &&
      windows.schema("cadence_end_date").dataType == DateType
    if (dayGrain) {
      val days = windows
        .where(col("cadence_end_date") > col("cadence_start_date"))
        .withColumn("__day", explode(sequence(col("cadence_start_date"),
          date_sub(col("cadence_end_date"), 1), expr("INTERVAL 1 DAY"))))
      fact.join(broadcast(days), col(dateCol).cast("date") === col("__day"))
        .drop("__day")
    } else
      fact.join(broadcast(windows),
        col(dateCol) >= col("cadence_start_date") && col(dateCol) < col("cadence_end_date"))
  }
}
