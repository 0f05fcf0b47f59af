package graft.algo

import java.time.{DayOfWeek, LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter
import java.time.temporal.TemporalAdjusters

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonParser
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.desc

/** The Gold Asset Builder run loop: the reference's `execute_gab`
  * (`algorithms/gab.py:32-939`), driven by the same `lkp_query_builder`
  * config table, templated stage SQL files and ACON shape, with its
  * cadence manager (`core/gab_manager.py:17-304`), view manager
  * (`gab_manager.py:306-891`), SQL generators
  * (`core/gab_sql_generator.py:46-545`) and utilities
  * (`utils/gab_utils.py:18-653`). [[graft.Engine.executeGab]] is its ACON
  * facade; the DataFrame kernels the catalog queries use are in [[Gab]].
  *
  * Scale note: every per-cadence run is one templated Spark SQL statement
  * over the source table (optionally broadcast-joined to the tiny
  * calendar), one bounded DELETE on the insights table and one INSERT —
  * the config/lookup tables are config-sized by construction, so the only
  * data-proportional work is the stage aggregation itself, which Catalyst
  * plans as a normal shuffle-aggregate.
  *
  * Deliberate divergences from the reference:
  *  - the insights DELETE executes through [[graft.maintain.TableManager
  *    .deleteWhere]] (staged parquet rewrite) instead of Delta SQL DELETE
  *    (no Delta jars in the build);
  *  - `gab_log_events` is read and appended through [[graft.io.TableRef]],
  *    so an interrupted commit of the log (an `optimize` of it, say) is
  *    settled first; a failing read of the log fails the run instead of
  *    reading as "never ran";
  *  - stage/log bookkeeping rows are appended with a typed DataFrame
  *    insert rather than a string-escaped `INSERT ... VALUES` — content is
  *    identical, quoting pitfalls are not reproduced;
  *  - week-start snapping honors the use case's `start_of_the_week` as the
  *    reference documents (pendulum's global week configuration), while
  *    `${config_week_start}` in the combined configuration is still
  *    replaced with the literal `Monday` exactly as
  *    `algorithms/gab.py:586` does.
  */
object GabChoreography {

  private val mapper = JsonMapper.builder()
    .enable(JsonParser.Feature.ALLOW_SINGLE_QUOTES).build()

  private val DateFmt = DateTimeFormatter.ISO_LOCAL_DATE

  /** ACON spec (`core/definitions.py:1281-1352`). */
  final case class RunSpec(
      queryLabelFilter: Seq[String],
      queueFilter: Seq[String],
      cadenceFilter: Seq[String],
      targetDatabase: String,
      startDate: LocalDate,
      endDate: LocalDate,
      rerunFlag: String,
      targetTable: String,
      sourceDatabase: String,
      gabBasePath: String,
      lookupTable: String,
      calendarTable: String,
      currentDate: LocalDateTime)

  def specFromAcon(json: String,
      currentDate: LocalDateTime = LocalDateTime.now()): RunSpec = {
    val n = mapper.readTree(json)
    def arr(k: String) = n.path(k).asScala.map(_.asText()).toSeq
    def str(k: String) = n.path(k).asText()
    val srcDb = str("source_database")
    RunSpec(
      queryLabelFilter = arr("query_label_filter"),
      queueFilter = arr("queue_filter"),
      cadenceFilter = arr("cadence_filter"),
      targetDatabase = str("target_database"),
      startDate = LocalDate.parse(str("start_date"), DateFmt),
      endDate = LocalDate.parse(str("end_date"), DateFmt),
      rerunFlag = str("rerun_flag"),
      targetTable = str("target_table"),
      sourceDatabase = srcDb,
      gabBasePath = str("gab_base_path"),
      lookupTable = srcDb + "." +
        (if (n.has("lookup_table")) str("lookup_table") else "lkp_query_builder"),
      calendarTable = srcDb + "." +
        (if (n.has("calendar_table")) str("calendar_table") else "dim_calendar"),
      currentDate = currentDate)
  }

  // ------------------------------------------------------------------
  // Cadence calendar math (core/gab_manager.py:17-304, pendulum-backed
  // in the reference; java.time here).
  // ------------------------------------------------------------------

  val cadenceOrder: Map[String, Int] =
    Map("DAY" -> 1, "WEEK" -> 2, "MONTH" -> 3, "QUARTER" -> 4, "YEAR" -> 5)

  private val orderedCadences = Seq("DAY", "WEEK", "MONTH", "QUARTER", "YEAR")

  def weekStartDay(startOfWeek: String): DayOfWeek =
    startOfWeek.trim.toUpperCase match {
      case "SUNDAY" | "S" => DayOfWeek.SUNDAY
      case "MONDAY" | "M" => DayOfWeek.MONDAY
      case other => throw new IllegalArgumentException(
        s"The requested $other is not implemented. " +
          "Supported `start_of_week` values: [MONDAY, SUNDAY]")
    }

  def startOfWeek(d: LocalDate, ws: DayOfWeek): LocalDate =
    d.`with`(TemporalAdjusters.previousOrSame(ws))

  def endOfWeek(d: LocalDate, ws: DayOfWeek): LocalDate =
    startOfWeek(d, ws).plusDays(6)

  private def firstOfQuarter(d: LocalDate): LocalDate =
    LocalDate.of(d.getYear, ((d.getMonthValue - 1) / 3) * 3 + 1, 1)

  /** `_get_cadence_calculated_date` (gab_manager.py:186-232). */
  def cadenceCalculatedDate(derived: String, base: LocalDate,
      isStart: Boolean, ws: DayOfWeek): LocalDate =
    derived.toUpperCase match {
      case "WEEK" => if (isStart) startOfWeek(base, ws) else endOfWeek(base, ws)
      case "MONTH" =>
        if (isStart) base.withDayOfMonth(1)
        else base.withDayOfMonth(base.lengthOfMonth)
      case "QUARTER" =>
        if (isStart) firstOfQuarter(base)
        else firstOfQuarter(base).plusMonths(3).minusDays(1)
      case "YEAR" =>
        if (isStart) LocalDate.of(base.getYear, 1, 1)
        else LocalDate.of(base.getYear, 12, 31)
      case _ => base // DAY
    }

  /** `get_cadence_start_end_dates` (gab_manager.py:121-185): snap to the
    * derived cadence, re-snap WEEK cadences, exclusive end (+1 day),
    * current-date cap, NAM +1. */
  def cadenceStartEndDates(cadence: String, derived: String,
      start: LocalDate, end: LocalDate, queryType: String,
      currentDate: LocalDateTime, ws: DayOfWeek): (LocalDateTime, LocalDateTime) = {
    var s = cadenceCalculatedDate(derived, start, isStart = true, ws)
    var e = cadenceCalculatedDate(derived, end, isStart = false, ws)
    if (cadence.equalsIgnoreCase("WEEK")) {
      s = startOfWeek(s, ws); e = endOfWeek(e, ws)
    }
    var eDt = e.plusDays(1).atStartOfDay
    if (!eDt.isBefore(currentDate)) eDt = currentDate
    if (queryType == "NAM") eDt = eDt.plusDays(1)
    (s.atStartOfDay, eDt)
  }

  /** `_get_reconciliation_cadence` (gab_manager.py:84-119). */
  def derivedReconCadence(rerun: String, cadence: String,
      recon: String, snapFlag: String): String = {
    val co = cadenceOrder
    if (rerun == "Y") {
      if (co(cadence) > co(recon)) cadence else recon
    } else {
      if ((co(cadence) > co(recon) && snapFlag == "Y") || co(cadence) < co(recon)) recon
      else if (co(cadence) > co(recon) && snapFlag == "N") cadence
      else recon
    }
  }

  /** `extended_window_calculator` (gab_manager.py:22-81):
    * (windowStart, windowEnd, filterStart, filterEnd). */
  def extendedWindowCalculator(cadence: String, recon: String,
      currentDate: LocalDateTime, start: LocalDate, end: LocalDate,
      queryType: String, rerun: String, snapFlag: String,
      ws: DayOfWeek): (LocalDateTime, LocalDateTime, LocalDateTime, LocalDateTime) = {
    val derived = derivedReconCadence(rerun, cadence, recon, snapFlag)
    val (bs, be) = cadenceStartEndDates(cadence, derived, start, end, queryType, currentDate, ws)
    val filterCad =
      if (cadenceOrder(cadence) < cadenceOrder(recon)) recon else cadence
    val (fs, fe) = cadenceStartEndDates(cadence, filterCad, start, end, queryType, currentDate, ws)
    (bs, be, fs, fe)
  }

  /** `get_cadence_configuration_at_end_date` (gab_utils.py:237-283):
    * which cadences conclude exactly on the end date. */
  def cadenceConfigurationAtEndDate(end: LocalDate, ws: DayOfWeek): Set[String] = {
    val b = Set.newBuilder[String]
    if (end == LocalDate.of(end.getYear, 12, 31)) b += "YEAR"
    if (end == firstOfQuarter(end).plusMonths(3).minusDays(1)) b += "QUARTER"
    if (end == end.withDayOfMonth(end.lengthOfMonth)) b += "MONTH"
    if (end == endOfWeek(end, ws)) b += "WEEK"
    b += "DAY"
    b.result()
  }

  /** `get_reconciliation_cadences` + helpers (gab_utils.py:285-470),
    * including the reference's with/without-snapshot tuple swap: the
    * WITH-snapshot map is scanned (first end-date hit wins), the
    * WITHOUT-snapshot map is merged wholesale, then everything is
    * filtered by the end-date configuration and ordered biggest-first. */
  def reconciliationCadences(cadence: String, selRecon: Map[String, String],
      endCfg: Set[String], rerun: String): Seq[(String, String)] = {
    val cfg = mutable.LinkedHashMap[String, String](cadence -> "N")
    orderedCadences.foreach(c => selRecon.get(c).foreach(s => cfg(c) = s))
    val desc = cfg.toSeq.sortBy(p => cadenceOrder(p._1)).reverse
    val withSnap = desc.filter(_._2 == "Y")
    val withoutSnap = desc.filter(_._2 != "Y")
    val by = mutable.LinkedHashMap[String, String]()
    withSnap.find(p => endCfg.contains(p._1)).foreach(p => by(p._1) = p._2)
    withoutSnap.foreach { case (c, f) => by(c) = f }
    if (by.isEmpty && endCfg.contains(cadence)) by(cadence) = "N"
    by.toSeq
      .filter { case (c, _) =>
        (cadenceOrder(cadence) > cadenceOrder(c) && rerun == "Y") ||
          endCfg.contains(c)
      }
      .sortBy(p => cadenceOrder(p._1)).reverse
  }

  // ------------------------------------------------------------------
  // Partition condition (gab_utils.py:487-653).
  // ------------------------------------------------------------------

  /** `GABPartitionUtils.get_partition_condition`: a year/month/day
    * predicate string spanning [start, end], built from the date strings
    * exactly as the reference slices them. */
  def partitionCondition(startDate: String, endDate: String): String = {
    if (startDate > endDate)
      throw new IllegalArgumentException(
        "Input Error: Invalid start_date and end_date. " +
          "Start_date is greater than end_date")
    val years = (startDate.take(4).toInt to endDate.take(4).toInt).map(_.toString)
    def month(d: String) = d.substring(5, 7)
    def day(d: String) = d.substring(8, 10)
    if (years.length > 1) {
      val (sm, sd) = (month(startDate), day(startDate))
      val (em, ed) = (month(endDate), day(endDate))
      val startPart =
        if (sm != "12")
          s"(year = ${years.head} and ((month = $sm and day between $sd and 31)" +
            s" or (month between ${sm.toInt + 1} and 12)))"
        else
          s"(year = ${years.head} and (month = $sm and day between $sd and 31))"
      val midPart =
        if (years.length == 3) s") or (year = ${years(1)}"
        else if (years.length > 3) s") or (year between ${years(1)} and ${years(years.length - 2)})"
        else ""
      val endPart =
        if (em != "01")
          s") or (year = ${years.last} and ((month between 01 and ${em.toInt - 1})" +
            s" or (month = $em and day between 1 and $ed)))"
        else
          s") or (year = ${years.last} and month = 1 and day between 01 and $ed)"
      // the reference embeds the inner closes inside the start fragment;
      // reproduce its exact parenthesis choreography
      val refStart =
        if (sm != "12")
          s"(year = ${years.head} and ((month = $sm and day between $sd and 31)" +
            s" or (month between ${sm.toInt + 1} and 12))"
        else
          s"(year = ${years.head} and (month = $sm and day between $sd and 31)"
      refStart + midPart + endPart
    } else {
      val (sy, sm, sd) = (startDate.take(4), month(startDate), day(startDate))
      val (em, ed) = (month(endDate), day(endDate))
      if (sm != em) {
        val months = (sm.toInt to em.toInt).toSeq
        val startPart = s"year = $sy and ((month=${months.head} and day between $sd and 31)"
        val mid =
          if (months.length == 2) startPart
          else if (months.length == 3) startPart + s" or (month = ${months(1)})"
          else startPart + s" or (month between ${months(1)} and ${months(months.length - 2)})"
        mid + s" or (month = $em and day between 1 and $ed))"
      } else {
        s"year = $sy and month = $em and day between $sd and $ed"
      }
    }
  }

  // ------------------------------------------------------------------
  // Combined configuration (core/definitions.py:1415-1760): 18 exhaustive
  // (cadence x reconciliation x week_start x snapshot) combinations, each
  // carrying the calendar-join select and projection start/end snippets.
  // ------------------------------------------------------------------

  final case class Combo(
      cadence: Set[String], recon: Set[String], weekStart: Set[String],
      snap: Set[String], joinSelect: String, projectStart: String,
      projectEnd: String)

  private val AllCads = Set("DAY", "WEEK", "MONTH", "QUARTER", "YEAR")
  private val AllWs = Set("S", "M")
  private val YN = Set("Y", "N")
  private val Trunc = "date(date_trunc('${cad}',${date_column}))"
  private val CalStart = "df_cal.cadence_start_date"
  private val CalEnd = "df_cal.cadence_end_date"

  private val weekStartCase =
    """case when '${config_week_start}' = 'Monday' then weekstart_mon
      | when '${config_week_start}' = 'Sunday' then weekstart_sun end""".stripMargin
  private val weekEndCase =
    """case when '${config_week_start}' = 'Monday' then weekend_mon
      | when '${config_week_start}' = 'Sunday' then weekend_sun end""".stripMargin

  private def capEnd(unit: String, months: Int, weekendCol: String) =
    s"""case when date(date_trunc('$unit',add_months(calendar_date, $months)))-1 < $weekendCol
       | then date(date_trunc('$unit',add_months(calendar_date, $months)))-1
       | else $weekendCol end""".stripMargin

  private def capEndGt(unit: String, months: Int, weekendCol: String) =
    s"""case when $weekendCol > date(date_trunc('$unit',add_months(calendar_date, $months)))-1
       | then date(date_trunc('$unit',add_months(calendar_date, $months)))-1
       | else $weekendCol end""".stripMargin

  val combinedConfiguration: Seq[Combo] = Seq(
    // 1: DAY x any recon
    Combo(Set("DAY"), AllCads, AllWs, YN, "", Trunc, Trunc),
    // 2: WEEK x DAY snapshot
    Combo(Set("WEEK"), Set("DAY"), AllWs, Set("Y"),
      s"select distinct $weekStartCase as cadence_start_date, calendar_date as cadence_end_date",
      CalStart, CalEnd),
    // 3: WEEK x {DAY,MONTH,QUARTER,YEAR}, Monday weeks
    Combo(Set("WEEK"), Set("DAY", "MONTH", "QUARTER", "YEAR"), Set("M"), YN,
      s"select distinct $weekStartCase as cadence_start_date, $weekEndCase as cadence_end_date",
      CalStart, CalEnd),
    // 4: MONTH x DAY snapshot
    Combo(Set("MONTH"), Set("DAY"), AllWs, Set("Y"),
      "select distinct month_start as cadence_start_date, calendar_date as cadence_end_date",
      CalStart, CalEnd),
    // 5/6: MONTH x WEEK snapshot, by week start
    Combo(Set("MONTH"), Set("WEEK"), Set("M"), Set("Y"),
      "select distinct month_start as cadence_start_date, " +
        capEnd("MONTH", 1, "weekend_mon") + " as cadence_end_date",
      CalStart, CalEnd),
    Combo(Set("MONTH"), Set("WEEK"), Set("S"), Set("Y"),
      "select distinct month_start as cadence_start_date, " +
        capEnd("MONTH", 1, "weekend_sun") + " as cadence_end_date",
      CalStart, CalEnd),
    // 7: MONTH x any
    Combo(Set("MONTH"), AllCads, AllWs, YN, "", Trunc,
      "date(date_trunc('MONTH',add_months(${date_column}, 1)))-1"),
    // 8: QUARTER x DAY snapshot
    Combo(Set("QUARTER"), Set("DAY"), AllWs, Set("Y"),
      "select distinct quarter_start as cadence_start_date, calendar_date as cadence_end_date",
      CalStart, CalEnd),
    // 9/10: QUARTER x WEEK snapshot, by week start
    Combo(Set("QUARTER"), Set("WEEK"), Set("M"), Set("Y"),
      "select distinct quarter_start as cadence_start_date, " +
        capEndGt("QUARTER", 3, "weekend_mon") + " as cadence_end_date",
      CalStart, CalEnd),
    Combo(Set("QUARTER"), Set("WEEK"), Set("S"), Set("Y"),
      "select distinct quarter_start as cadence_start_date, " +
        capEndGt("QUARTER", 3, "weekend_sun") + " as cadence_end_date",
      CalStart, CalEnd),
    // 11: QUARTER x MONTH snapshot
    Combo(Set("QUARTER"), Set("MONTH"), AllWs, Set("Y"),
      "select distinct quarter_start as cadence_start_date, month_end as cadence_end_date",
      CalStart, CalEnd),
    // 12/13: QUARTER without snapshot
    Combo(Set("QUARTER"), Set("YEAR"), AllWs, Set("N"), "", Trunc,
      "date(date_trunc('${cad}',add_months(date(date_trunc('${cad}',${date_column})), 3)))-1"),
    Combo(Set("QUARTER"), AllCads, AllWs, Set("N"), "", Trunc,
      "date(date_trunc('${cad}',add_months(date(date_trunc('${cad}',${date_column})), 3)))-1"),
    // 14/15: YEAR x WEEK snapshot, by week start
    Combo(Set("YEAR"), Set("WEEK"), Set("M"), Set("Y"),
      "select distinct year_start as cadence_start_date, " +
        capEndGt("YEAR", 12, "weekend_mon") + " as cadence_end_date",
      CalStart, CalEnd),
    Combo(Set("YEAR"), Set("WEEK"), Set("S"), Set("Y"),
      "select distinct year_start as cadence_start_date, " +
        capEndGt("YEAR", 12, "weekend_sun") + " as cadence_end_date",
      CalStart, CalEnd),
    // 16: YEAR without snapshot
    Combo(Set("YEAR"), AllCads, AllWs, Set("N"), "", Trunc,
      "date(date_trunc('${cad}',add_months(date(date_trunc('${cad}',${date_column})), 12)))-1"),
    // 17: YEAR x {DAY,MONTH,QUARTER} snapshot
    Combo(Set("YEAR"), Set("DAY", "MONTH", "QUARTER"), AllWs, Set("Y"),
      """select distinct year_start as cadence_start_date,
        |case when '${rec_cadence}' = 'DAY' then calendar_date
        | when '${rec_cadence}' = 'MONTH' then month_end
        | when '${rec_cadence}' = 'QUARTER' then quarter_end
        |end as cadence_end_date""".stripMargin,
      CalStart, CalEnd),
    // 18: catch-all
    Combo(AllCads, AllCads, AllWs, YN,
      """select distinct
        |case when '${cad}' = 'WEEK' and '${config_week_start}' = 'Monday' then weekstart_mon
        | when '${cad}' = 'WEEK' and '${config_week_start}' = 'Sunday' then weekstart_sun
        | else date(date_trunc('${cad}',calendar_date)) end as cadence_start_date,
        |case when '${cad}' = 'WEEK' and '${config_week_start}' = 'Monday' then weekend_mon
        | when '${cad}' = 'WEEK' and '${config_week_start}' = 'Sunday' then weekend_sun
        | when '${cad}' = 'DAY' then date(date_trunc('${cad}',calendar_date))
        | when '${cad}' = 'MONTH' then date(date_trunc('MONTH',add_months(date(date_trunc('${cad}',calendar_date)), 1)))-1
        | when '${cad}' = 'QUARTER' then date(date_trunc('QUARTER',add_months(date(date_trunc('${cad}',calendar_date)) , 3)))-1
        | when '${cad}' = 'YEAR' then date(date_trunc('YEAR',add_months(date(date_trunc('${cad}',calendar_date)), 12)))-1
        |end as cadence_end_date""".stripMargin,
      CalStart, CalEnd))

  /** First matching combination for (cadence, recon, snapshot, week
    * start), each field rendered with the run's values
    * (`gab.py:553-683`). `${config_week_start}` is replaced with the
    * literal `Monday` exactly as the reference does. */
  def cadenceConfiguration(cadence: String, recon: String, snapFlag: String,
      startOfWeekValue: String, projectCol: String, windowStart: String,
      partitionEnd: String): (Option[String], Option[String], Option[String]) = {
    val hit = combinedConfiguration.find(c =>
      c.cadence.contains(cadence) && c.recon.contains(recon) &&
        c.snap.contains(snapFlag) && c.weekStart.contains(startOfWeekValue))
    hit match {
      case None => (None, None, None)
      case Some(c) =>
        def render(s: String) = s
          .replace("${config_week_start}", "Monday")
          .replace("${rec_cadence}", recon)
          .replace("${cad}", cadence)
          .replace("${date_column}", projectCol)
        val from = render(c.projectStart)
        val to = render(c.projectEnd)
        val join =
          if (render(c.joinSelect).trim.isEmpty) None
          else Some(
            s""" inner join (
               |     ${render(c.joinSelect)} from df_cal
               |     where calendar_date between '$windowStart' and '$partitionEnd'
               | ) df_cal on date($projectCol)
               |     between df_cal.cadence_start_date and df_cal.cadence_end_date""".stripMargin)
        (Some(from), Some(to), join)
    }
  }

  // ------------------------------------------------------------------
  // Mini template renderer for the stage files. Handles the Jinja
  // constructs the reference stage files need:
  // `{{ var }}` substitution and the single conditional
  // `{% if LEFT == RIGHT %}A{% else %}B{% endif %}`, where LEFT is
  // either an integer literal (the choreography substitutes the offset
  // value textually BEFORE rendering, gab.py:188 — `{% if 0 == 0 %}`
  // must take the if-branch) or a template variable name (undefined
  // names compare unequal, Jinja's lenient default).
  // ------------------------------------------------------------------

  private val IfBlock =
    ("""(?s)\{%\s*if\s+(\S+)\s*==\s*(\S+)\s*%\}(.*?)""" +
      """(?:\{%\s*else\s*%\}(.*?))?\{%\s*endif\s*%\}""").r
  private val Var = """\{\{\s*(\w+)\s*\}\}""".r

  def renderTemplate(template: String, vars: Map[String, String]): String = {
    val afterIf = IfBlock.replaceAllIn(template, m => {
      val left = m.group(1)
      val want = m.group(2).stripPrefix("'").stripSuffix("'")
        .stripPrefix("\"").stripSuffix("\"")
      val leftVal =
        if (left.matches("-?\\d+")) Some(left) else vars.get(left)
      val branch =
        if (leftVal.contains(want)) m.group(3)
        else Option(m.group(4)).getOrElse("")
      java.util.regex.Matcher.quoteReplacement(branch)
    })
    Var.replaceAllIn(afterIf, m =>
      java.util.regex.Matcher.quoteReplacement(vars.getOrElse(m.group(1), "")))
  }

  // ------------------------------------------------------------------
  // Config-cell parsing (gab_utils.get_json_column_as_dict: the lookup
  // cells are single-quoted Python-literal pseudo-JSON).
  // ------------------------------------------------------------------

  def parseCell(cell: String): JsonNode = mapper.readTree(cell)

  /** Mapping column extraction (`gab_utils.extract_columns_from_mapping`).
    * Returns `value as name` select items for the insert generator. */
  def insertColumns(mapping: JsonNode): (String, String) = {
    val dims = mapping.path("dimensions")
    val dimItems = dims.properties().asScala.toSeq.map(e =>
      s"${e.getValue.asText()} as ${e.getKey}")
    val dimFilled = (dimItems.length - 1) until 41 map (i => s" null as d$i")
    val mets = mapping.path("metric")
    val metItems = mets.properties().asScala.toSeq.map(e =>
      s"${e.getValue.path("metric_name").asText()} as ${e.getKey}")
    val metFilled = (metItems.length + 1) until 41 map (i => s" null as m$i")
    ((dimItems ++ dimFilled).mkString(","), (metItems ++ metFilled).mkString(","))
  }

  // ------------------------------------------------------------------
  // Run state / logging
  // ------------------------------------------------------------------

  final case class RunLog(messages: mutable.Buffer[String] = mutable.Buffer.empty) {
    def info(msg: String): Unit = messages += msg
    def text: String = messages.mkString("\n")
  }

  private def tableLocation(spark: SparkSession, table: String): String = {
    val Array(db, t) = table.split("\\.", 2)
    spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db)))
      .location.toString
  }

  /** `GABUtils.logger` (gab_utils.py:23-88): one bookkeeping row per
    * stage into `gab_log_events`. */
  private def logStage(spark: SparkSession, spec: RunSpec,
      runStart: java.sql.Timestamp, windowStart: String, windowEnd: String,
      queryId: String, queryLabel: String, cadence: String, stageName: String,
      query: String, status: String, errorMessage: String): Unit = {
    val row = Row(
      runStart, new java.sql.Timestamp(System.currentTimeMillis()),
      java.sql.Timestamp.valueOf(windowStart + " 00:00:00"),
      java.sql.Timestamp.valueOf(windowEnd + " 00:00:00"),
      queryId, queryLabel, cadence, stageName, query, status, errorMessage)
    val log = logTable(spec)
    // reading settles an interrupted commit of the log before the append
    val schema = graft.io.TableRef.read(spark, log).get.schema
    spark.createDataFrame(java.util.List.of(row), schema)
      .write.mode("append").insertInto(log)
  }

  private def logTable(spec: RunSpec) = s"${spec.targetDatabase}.gab_log_events"

  // ------------------------------------------------------------------
  // Main run loop (gab.py:50-168)
  // ------------------------------------------------------------------

  def execute(spark: SparkSession, spec: RunSpec): RunLog = {
    val log = RunLog()
    val lookup = spark.table(spec.lookupTable)
    spark.table(spec.calendarTable).createOrReplaceTempView("df_cal")

    import org.apache.spark.sql.functions.{col, lit}
    val filtered = lookup.filter(
      col("query_label").isin(spec.queryLabelFilter: _*) &&
        col("queue").isin(spec.queueFilter: _*) &&
        col("is_active") =!= lit("N"))
    filtered.cache()
    try filtered.collect().foreach(uc => processUseCase(spark, spec, uc, log))
    finally filtered.unpersist()
    log
  }

  private def cellFor(row: Row, column: String): String =
    String.valueOf(row.get(row.fieldIndex(column)))

  /** One use case (gab.py:100-168). */
  private def processUseCase(spark: SparkSession, spec: RunSpec, useCase: Row,
      log: RunLog): Unit = {
    val queryLabel = cellFor(useCase, "query_label")
    val queryId = cellFor(useCase, "query_id")
    val recon = parseCell(cellFor(useCase, "recon_window"))
    val stages = parseCell(cellFor(useCase, "intermediate_stages"))
    val configuredCadences = recon.fieldNames.asScala.toSeq

    val cadences =
      if (spec.cadenceFilter.contains("All")) configuredCadences
      else spec.cadenceFilter.intersect(configuredCadences)
        .sortBy(c => cadenceOrder.getOrElse(c, Int.MaxValue))

    val latestRunDate = latestRunStart(spark, spec, queryId)
    val latestConfigDate = cellFor(useCase, "lh_created_on")

    // stage templates, with the textual offset substitution the reference
    // applies before Jinja rendering (gab.py:170-192)
    val offset = cellFor(useCase, "timezone_offset")
    val stageTemplates: Map[String, (String, String)] =
      (1 to stages.size).map { i =>
        val st = stages.get(i.toString)
        val full = spec.gabBasePath + st.path("file_path").asText()
        val text = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(full.stripPrefix("file://"))))
        i.toString -> (text.replace("replace_offset_value", offset), full)
      }.toMap

    val processed = cadences.map(cadence =>
      processCadence(spark, spec, cadence, recon, useCase, stages,
        stageTemplates, log))

    if (processed.nonEmpty) {
      if (latestConfigDate > latestRunDate)
        createUseCaseViews(spark, spec, useCase)
      else log.info(
        "View is not being re-created as there are no changes in the " +
          "configuration after the latest run")
    } else {
      log.info(s"Skipping use case $queryLabel. No cadence processed " +
        "for the use case.")
    }
  }

  /** `_get_latest_run_date` (gab.py:474-532): the start of the latest
    * successful Final Insert of the use case, as a string comparable with
    * its config row's `lh_created_on`. */
  private def latestRunStart(spark: SparkSession, spec: RunSpec,
      queryId: String): String =
    graft.io.TableRef.read(spark, logTable(spec)).get
      .where(s"query_id = $queryId AND stage_name = 'Final Insert' AND status = 'Success'")
      .select("run_start_time").orderBy(desc("run_start_time")).limit(1)
      .collect().headOption.map(r => String.valueOf(r.get(0)))
      .getOrElse("2020-01-01 00:00:00")

  /** One cadence of one use case (gab.py:194-252). */
  private def processCadence(spark: SparkSession, spec: RunSpec,
      cadence: String, recon: JsonNode, useCase: Row, stages: JsonNode,
      stageTemplates: Map[String, (String, String)], log: RunLog): Boolean = {
    val selectedCadence = recon.path(cadence)
    val selRecon: Map[String, String] =
      if (selectedCadence.isMissingNode || selectedCadence.isEmpty) Map.empty
      else {
        val rw = selectedCadence.path("recon_window")
        if (rw.isMissingNode) Map.empty
        else rw.properties().asScala
          .map(e => e.getKey -> e.getValue.path("snapshot").asText("N")).toMap
      }
    val startOfWeekName = cellFor(useCase, "start_of_the_week")
    val ws = weekStartDay(startOfWeekName)
    val endCfg = cadenceConfigurationAtEndDate(spec.endDate, ws)
    val reconCadences =
      reconciliationCadences(cadence, selRecon, endCfg, spec.rerunFlag)

    reconCadences.foreach { case (reconCadence, snapFlag) =>
      processReconciliationCadence(spark, spec, reconCadence, snapFlag,
        cadence, useCase, stages, stageTemplates, ws, log)
    }
    true
  }

  /** One reconciliation window of one cadence (gab.py:254-370). */
  private def processReconciliationCadence(spark: SparkSession, spec: RunSpec,
      reconCadence: String, snapFlag: String, cadence: String, useCase: Row,
      stages: JsonNode, stageTemplates: Map[String, (String, String)],
      ws: DayOfWeek, log: RunLog): Unit = {
    val queryId = cellFor(useCase, "query_id")
    val queryLabel = cellFor(useCase, "query_label")
    val queryType = cellFor(useCase, "query_type")
    val offset = cellFor(useCase, "timezone_offset").toInt

    val (winStart, winEnd, fStart0, fEnd0) = extendedWindowCalculator(
      cadence, reconCadence, spec.currentDate, spec.startDate, spec.endDate,
      queryType, spec.rerunFlag, snapFlag, ws)

    // `if use_case["timezone_offset"]:` — 0 is falsy in the reference
    val (fStart, fEnd) =
      if (offset != 0) (fStart0.plusHours(offset), fEnd0.plusHours(offset))
      else (fStart0, fEnd0)

    val fStartStr = fStart.toLocalDate.format(DateFmt)
    val fEndStr = fEnd.toLocalDate.format(DateFmt)
    val partitionEnd = winEnd.minusDays(1).toLocalDate.format(DateFmt)
    val winStartStr = winStart.toLocalDate.format(DateFmt)
    val winEndStr = winEnd.toLocalDate.format(DateFmt)
    val partFilter = partitionCondition(fStartStr, partitionEnd)

    var lastView: String = null
    val cached = mutable.Buffer[String]()
    (1 to stages.size).foreach { i =>
      val stage = stages.get(i.toString)
      val (templated, fullPath) = stageTemplates(i.toString)
      val rendered = renderStage(spec, templated, useCase, stage,
        reconCadence, cadence, snapFlag, winStartStr, partitionEnd,
        fStartStr, fEndStr, partFilter)
      lastView = createStageView(spark, spec, rendered, stage, winStartStr,
        winEndStr, queryId, queryLabel, cadence, fullPath)
      cached += lastView
    }

    generateViewStatement(spark, spec, queryId, cadence, lastView, useCase,
      winStartStr, winEndStr, queryLabel)

    cached.foreach(v => spark.sql(s"UNCACHE TABLE IF EXISTS $v"))
  }

  /** Render one stage file (gab.py:372-452 + 684-743): pick the combined
    * configuration, build the calendar-join condition, substitute the
    * template variables. */
  private def renderStage(spec: RunSpec, templated: String,
      useCase: Row, stage: JsonNode, reconCadence: String, cadence: String,
      snapFlag: String, windowStart: String, partitionEnd: String,
      filterStart: String, filterEnd: String, partitionFilter: String): String = {
    // the reference's "X" placeholder applies only when the KEY is
    // absent; an empty configured value stays empty (gab.py:409)
    val projectCol =
      if (!stage.has("project_date_column")) "X"
      else stage.get("project_date_column").asText()
    val filterCol = {
      val f = stage.path("filter_date_column").asText("")
      if (f.nonEmpty) f else stage.path("project_date_column").asText("")
    }
    val startOfWeekName = cellFor(useCase, "start_of_the_week")
    val wsValue = if (weekStartDay(startOfWeekName) == DayOfWeek.SUNDAY) "S" else "M"
    val (from, to, join) = cadenceConfiguration(cadence, reconCadence,
      snapFlag, wsValue, projectCol, windowStart, partitionEnd)
    val queryId = cellFor(useCase, "query_id")
    renderTemplate(templated, Map(
      "cadence" -> s"'$cadence' as cadence",
      "cadence_run" -> cadence,
      "week_start" -> startOfWeekName,
      "query_id" -> s"'$queryId' as query_id",
      "project_date_column" -> from.getOrElse(""),
      "target_table" -> spec.targetTable,
      "database" -> spec.sourceDatabase,
      "start_date" -> filterStart,
      "end_date" -> filterEnd,
      "filter_date_column" -> filterCol,
      "offset_value" -> cellFor(useCase, "timezone_offset"),
      "joins" -> join.getOrElse(""),
      "partition_filter" -> partitionFilter,
      "to_date" -> to.getOrElse("")))
  }

  /** Execute one stage and register its temp view (gab.py:745-830):
    * optional repartition, CACHE TABLE with the configured storage level,
    * bookkeeping row. */
  private def createStageView(spark: SparkSession, spec: RunSpec,
      rendered: String, stage: JsonNode, windowStart: String,
      windowEnd: String, queryId: String, queryLabel: String,
      cadence: String, stageFilePath: String): String = {
    val runStart = new java.sql.Timestamp(System.currentTimeMillis())
    val alias = stage.path("table_alias").asText()
    var status = "Success"
    var error = "NA"
    try {
      var df = spark.sql(rendered)
      val rep = stage.path("repartition")
      if (!rep.isMissingNode && rep.size() > 0) {
        val num =
          if (rep.has("numPartitions")) rep.get("numPartitions").asInt()
          else spark.conf.getOption(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism")
            .getOrElse("10000").toInt
        val keys = rep.path("keys").asScala.map(_.asText()).toSeq
        df =
          if (keys.nonEmpty)
            df.repartition(num, keys.map(org.apache.spark.sql.functions.col): _*)
          else df.repartition(num)
      }
      df.createOrReplaceTempView(alias)
      val storage = stage.path("storage_level").asText("")
      // eager: CACHE TABLE without LAZY materializes the view itself
      if (storage.nonEmpty)
        spark.sql(s"CACHE TABLE $alias OPTIONS ('storageLevel' '$storage')")
      alias
    } catch {
      case e: Exception => status = "Failed"; error = String.valueOf(e); throw e
    } finally {
      logStage(spark, spec, runStart, windowStart, windowEnd, queryId,
        queryLabel, cadence, stageFilePath, rendered, status, error)
    }
  }

  /** Delete + insert the cadence slice of the insights table
    * (gab.py:832-895, gab_sql_generator.py:46-185 and 419-545). */
  private def generateViewStatement(spark: SparkSession, spec: RunSpec,
      queryId: String, cadence: String, stageView: String, useCase: Row,
      windowStart: String, windowEnd: String, queryLabel: String): Unit = {
    val runStart = new java.sql.Timestamp(System.currentTimeMillis())
    val mappings = parseCell(cellFor(useCase, "mappings"))
    // the reference's generator loops over every view and keeps the LAST
    // one's dimensions/metrics (gab_sql_generator.py:96-111, 489-495)
    val lastMapping = mappings.properties().asScala.toSeq.last.getValue

    // ---- delete (GABDeleteGenerator) ----
    val dimFrom = lastMapping.path("dimensions").path("from_date").asText()
    val dimTo = lastMapping.path("dimensions").path("to_date").asText()
    val bounds = spark.sql(s"SELECT MIN($dimFrom), MAX($dimFrom), MIN($dimTo), " +
      s"MAX($dimTo) FROM $stageView").collect()(0)
    val Seq(minF, maxF, minT, maxT) = (0 until 4).map(i => Option(bounds.get(i)).map(String.valueOf))
    if (minF.isDefined && minT.isDefined) {
      val pred =
        s"query_id = $queryId AND cadence = '$cadence' AND " +
          s"from_date BETWEEN '${minF.get}' AND '${maxF.get}' AND " +
          s"to_date BETWEEN '${minT.get}' AND '${maxT.get}'"
      val target = s"${spec.targetDatabase}.${spec.targetTable}"
      new graft.maintain.TableManager(spark)
        .deleteWhere(tableLocation(spark, target), pred)
      spark.catalog.refreshTable(target)
    }

    // ---- insert (GABInsertGenerator) ----
    val (dims, mets) = insertColumns(lastMapping)
    val insert =
      s"""INSERT INTO ${spec.targetDatabase}.${spec.targetTable}
         |SELECT $queryId as query_id, '$cadence' as cadence,
         |$dims, $mets, current_timestamp() as lh_created_on
         |FROM $stageView""".stripMargin
    var status = "Success"
    var error = "NA"
    try spark.sql(insert)
    catch { case e: Exception => status = "Failed"; error = String.valueOf(e); throw e }
    finally logStage(spark, spec, runStart, windowStart, windowEnd, queryId,
      queryLabel, cadence, "Final Insert", insert, status, error)
  }

  // ------------------------------------------------------------------
  // Consumption views (gab_manager.py:306-891, gab_sql_generator.py
  // :187-417)
  // ------------------------------------------------------------------

  private def createUseCaseViews(spark: SparkSession, spec: RunSpec,
      useCase: Row): Unit = {
    val queryId = cellFor(useCase, "query_id")
    val recon = parseCell(cellFor(useCase, "recon_window"))
    // _get_cadence_snapshot_status: per cadence, 'Y' if ANY recon entry
    // has snapshot Y, else 'N'
    val snapshotStatus: Seq[(String, String)] =
      recon.properties().asScala.toSeq.map { e =>
        val rw = e.getValue.path("recon_window")
        val any = rw.properties().asScala.exists(
          _.getValue.path("snapshot").asText("N") == "Y")
        e.getKey -> (if (any) "Y" else "N")
      }
    val withSnap = snapshotStatus.filter(_._2 == "Y").map(_._1)
    val withoutSnap = snapshotStatus.filter(_._2 == "N").map(_._1)
    val mappings = parseCell(cellFor(useCase, "mappings"))
    mappings.properties().asScala.toSeq.foreach { e =>
      createUseCaseView(spark, spec, e.getKey, e.getValue, snapshotStatus,
        withSnap, withoutSnap, queryId)
    }
  }

  private def createUseCaseView(spark: SparkSession, spec: RunSpec,
      viewName: String, viewCfg: JsonNode,
      snapshotStatus: Seq[(String, String)], withSnap: Seq[String],
      withoutSnap: Seq[String], queryId: String): Unit = {
    val dimsNode = viewCfg.path("dimensions")
    val metsNode = viewCfg.path("metric")
    val customFilter = {
      val f = viewCfg.path("filter")
      if (f.isTextual && f.asText().nonEmpty) Some(f.asText()) else None
    }
    val viewFilter = customFilter.map(" AND " + _).getOrElse(" ")

    val dimKeys = dimsNode.fieldNames.asScala.toSeq
    // with alias: a.<key> as <value>; without alias: a.<key>
    val dimsWithAlias = dimsNode.properties().asScala.toSeq
      .map(e => s"a.${e.getKey} as ${e.getValue.asText()}")
    val dimsWithoutAlias = dimKeys.map(k => s"a.$k")
    // reference filters out the bare default names, which never match the
    // alias-prefixed entries — every dimension stays (gab_manager.py:469)
    val dimensions = dimsWithoutAlias
      .filterNot(d => d == "from_date" || d == "to_date").mkString(",")
    val metsWithAlias = metsNode.properties().asScala.toSeq
      .map(e => s"a.${e.getKey} as ${e.getValue.path("metric_name").asText()}")
    val metsWithoutAlias = metsNode.fieldNames.asScala.toSeq.map(k => s"a.$k")
    val dimsAndMetsWithAlias =
      dimsWithAlias.mkString(",") + "," + metsWithAlias.mkString(",")
    val dimsAndMets = dimensions + "," + metsWithoutAlias.mkString(",")

    // calculated + derived metric scripts (gab_manager.py:482-891)
    val dimPartition = "cadence," + dimKeys.drop(2).mkString(",")
    val anySnap = snapshotStatus.exists(_._2 == "Y")
    val calc = mutable.Buffer[String]()
    val calcSnap = mutable.Buffer[String]()
    val derived = mutable.Buffer[String]()
    // calculated-metric expressions come from the SHARED GabCalc core —
    // the same text Gab.consumptionView compiles with expr()
    metsNode.properties().asScala.toSeq.foreach { e =>
      val metricKey = e.getKey
      val cm = e.getValue.path("calculated_metric")
      def add(mk: Boolean => String, label: String): Unit = {
        calc += mk(false) + s" AS $label"
        if (anySnap) calcSnap += mk(true) + s" AS $label"
      }
      cm.path("last_cadence").asScala.foreach { n =>
        add(GabCalc.lagExpr(metricKey, n.path("window").asText(),
          dimPartition, _), n.path("label").asText())
      }
      cm.path("last_year_cadence").asScala.foreach { n =>
        add(GabCalc.yearLagExpr(metricKey, n.path("window").asText(),
          dimPartition, _), n.path("label").asText())
      }
      cm.path("window_function").asScala.foreach { n =>
        add(GabCalc.windowExpr(n.path("agg_func").asText(), metricKey,
          n.path("window").get(0).asText(), n.path("window").get(1).asText(),
          dimPartition, _), n.path("label").asText())
      }
      val dm = e.getValue.path("derived_metric")
      if (dm.isArray) dm.asScala.foreach { n =>
        derived += s"${n.path("formula").asText()} AS ${n.path("label").asText()}"
      }
    }
    def joined(parts: Seq[String]) =
      if (parts.nonEmpty) "," + parts.mkString(",") else ""
    val finalCalc = joined(calc.toSeq)
    val finalCalcSnap = joined(calcSnap.toSeq)
    val finalCols = if (derived.nonEmpty) "*," + derived.mkString(",") else "*"

    val withoutIn = withoutSnap.map(c => s""""$c"""").mkString(",")
    val withIn = withSnap.map(c => s""""$c"""").mkString(",")
    val target = s"${spec.targetDatabase}.${spec.targetTable}"

    val body =
      if (withSnap.nonEmpty && withoutSnap.nonEmpty)
        s"""WITH TEMP1 AS (
           | SELECT a.cadence, $dimsAndMetsWithAlias$finalCalc
           | FROM $target a
           | WHERE a.query_id = $queryId AND cadence IN ($withoutIn) $viewFilter
           |),
           |TEMP_RN AS (
           | SELECT a.cadence, a.from_date, a.to_date, $dimsAndMets,
           |  row_number() over(PARTITION BY a.cadence, $dimensions, a.from_date
           |   order by to_date) as rn
           | FROM $target a
           | WHERE a.query_id = $queryId AND cadence IN ($withIn) $viewFilter
           |),
           |TEMP2 AS (
           | SELECT a.cadence, $dimsAndMetsWithAlias$finalCalcSnap FROM TEMP_RN a
           |),
           |TEMP3 AS (SELECT * FROM TEMP1 UNION SELECT * from TEMP2)
           |SELECT $finalCols FROM TEMP3""".stripMargin
      else if (withoutSnap.nonEmpty)
        s"""WITH TEMP1 AS (
           | SELECT a.cadence, $dimsAndMetsWithAlias$finalCalc
           | FROM $target a
           | WHERE a.query_id = $queryId AND cadence IN ($withoutIn) $viewFilter
           |)
           |SELECT $finalCols FROM TEMP1""".stripMargin
      else
        s"""WITH TEMP_RN AS (
           | SELECT a.cadence, a.from_date, a.to_date, $dimsAndMets,
           |  row_number() over(PARTITION BY a.cadence, a.from_date, a.to_date,
           |   $dimensions, a.from_date order by to_date) as rn
           | FROM $target a
           | WHERE a.query_id = $queryId AND cadence IN ($withIn) $viewFilter
           |),
           |TEMP2 AS (
           | SELECT a.cadence, $dimsAndMetsWithAlias$finalCalcSnap FROM TEMP_RN a
           |)
           |SELECT $finalCols FROM TEMP2""".stripMargin

    spark.sql(
      s"CREATE OR REPLACE VIEW ${spec.targetDatabase}.$viewName AS $body")
  }
}
