package graft.queries

import graft.functions.{DedupFunctions, SimilarityFunctions, TextFunctions}
import graft.operators.{Condense, MergeOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One driver-checkable query: a Spark implementation plus (usually) an
  * equivalent DuckDB oracle SQL over the same parquet tables. */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** The operator-coverage catalog behind [[graft.SparkEntry]].
  *
  * Each entry exercises one operator family from SURVEY.md §2 (or a
  * parity-plus LLM-pipeline operator) on the driver test tables, with a
  * DuckDB oracle for hash-verified correctness. Conventions that keep the
  * hash compare honest:
  *   - every computed column is aliased identically on both sides;
  *   - integer-ish derived values are BIGINT on both sides;
  *   - floating aggregates are rounded on both sides;
  *   - every query ends with a deterministic total ORDER BY.
  */
object QueryCatalog {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    graft.io.ParquetSchema.load(s, Seq(s"$dir/$name.parquet"))

  /** events.ts has shipped in two testdata vintages: parquet
    * TIMESTAMP(NANOS) — which Spark surfaces as a nanosecond long under
    * `nanosAsLong` — and parquet timestamp[us] without timezone — which
    * Spark surfaces as TIMESTAMP_NTZ. DuckDB reads either as a timestamp,
    * so its `epoch_ns`/`epoch_us` oracles are vintage-agnostic; only the
    * Spark side needs normalizing. This helper inspects the live schema
    * and yields epoch **micros** as a BIGINT column either way (the
    * session timezone is pinned to UTC in [[graft.exec.ExecEnv]], so the
    * NTZ→timestamp cast is the identity on the wall clock). */
  private def tsMicros(df: DataFrame, c: String = "ts"): Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType => expr(s"$c div 1000")
      case _ => unix_micros(col(c).cast("timestamp"))
    }

  /** Same normalization, surfaced as a TimestampType column. */
  private def tsAsTimestamp(df: DataFrame, c: String = "ts"): Column =
    df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr(s"$c div 1000"))
      case _ => col(c).cast("timestamp")
    }

  // ---------------------------------------------------------------------
  // Relational core (reference §2.3–2.6 transformer/join/agg surface)
  // ---------------------------------------------------------------------

  private val q01 = QueryDef(
    "q01_pricing_agg",
    (s, dir) => T(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("2002-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_extendedprice")), 4).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus")),
    Some("""
      SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity), 2) AS sum_qty,
             round(sum(l_extendedprice), 2) AS sum_base_price,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             round(avg(l_quantity), 4) AS avg_qty,
             round(avg(l_extendedprice), 4) AS avg_price,
             round(avg(l_discount), 4) AS avg_disc,
             count(*) AS count_order
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '2002-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""))

  private val q02 = QueryDef(
    "q02_filter_project",
    (s, dir) => T(s, dir, "lineitem")
      .where(col("l_discount") >= 0.05 && col("l_quantity") < 25)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""
      SELECT l_orderkey, l_linenumber,
             l_extendedprice * (1 - l_discount) AS revenue,
             year(l_shipdate) AS ship_year
      FROM lineitem WHERE l_discount >= 0.05 AND l_quantity < 25
      ORDER BY l_orderkey, l_linenumber"""))

  private val q03 = QueryDef(
    "q03_topk_revenue",
    (s, dir) => {
      val cust = T(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
      val orders = T(s, dir, "orders")
      val li = T(s, dir, "lineitem")
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
    Some("""
      SELECT l_orderkey, o_orderdate,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, l_orderkey LIMIT 10"""))

  private val q04 = QueryDef(
    "q04_broadcast_join",
    (s, dir) => T(s, dir, "lineitem")
      .join(broadcast(T(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        count(lit(1)).as("n_lines"),
        round(sum(col("l_extendedprice")), 2).as("total_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"))
      .orderBy(col("p_brand")),
    Some("""
      SELECT p_brand, count(*) AS n_lines,
             round(sum(l_extendedprice), 2) AS total_price,
             round(avg(l_quantity), 4) AS avg_qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand"""))

  private val q05 = QueryDef(
    "q05_multi_join",
    (s, dir) => {
      val li = T(s, dir, "lineitem")
      val ord = T(s, dir, "orders")
      val cust = T(s, dir, "customer")
      val supp = T(s, dir, "supplier")
      val nat = T(s, dir, "nation")
      val reg = T(s, dir, "region")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
    Some("""
      SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY n_name ORDER BY revenue DESC, n_name"""))

  private val q06 = QueryDef(
    "q06_selective_filter",
    (s, dir) => T(s, dir, "lineitem")
      .where(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_rows")),
    Some("""
      SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
             count(*) AS n_rows
      FROM lineitem
      WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""))

  private val q07 = QueryDef(
    "q07_window_rank",
    (s, dir) => Condense.groupAndRank(
        T(s, dir, "orders"),
        Seq(col("o_custkey")),
        Seq(col("o_orderdate").desc, col("o_orderkey").desc))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice").as("totalprice"),
        col("lhe_rank").cast("long").as("lhe_rank"))
      .orderBy(col("o_custkey")),
    Some("""
      SELECT o_custkey, o_orderkey, o_orderdate,
             o_totalprice AS totalprice, lhe_rank
      FROM (SELECT *, row_number() OVER
              (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS lhe_rank
            FROM orders)
      WHERE lhe_rank = 1 ORDER BY o_custkey"""))

  private val q08 = QueryDef(
    "q08_condense_cdc",
    (s, dir) => Condense.condenseRecordModeCdc(
        T(s, dir, "events"),
        businessKey = Seq("user_id"),
        rankingDesc = Seq("ts", "event_id"),
        recordModeCol = Some("event_type"),
        validRecordModes = Seq("click", "purchase", "signup", "view"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .orderBy(col("user_id")),
    Some("""
      SELECT user_id, event_id, event_type, value
      FROM (SELECT *, row_number() OVER
              (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events)
      WHERE rn = 1 AND event_type IN ('click','purchase','signup','view')
      ORDER BY user_id"""))

  private val q09 = QueryDef(
    "q09_union_distinct",
    (s, dir) => {
      val o = T(s, dir, "orders")
      val a = o.where(col("o_totalprice") > 200000)
        .select(col("o_orderstatus").as("status"), col("o_orderpriority").as("priority"))
      val b = o.where(col("o_orderdate") >= lit("2003-01-01"))
        .select(col("o_orderstatus").as("status"), col("o_orderpriority").as("priority"))
      a.unionByName(b).distinct().orderBy(col("status"), col("priority"))
    },
    Some("""
      SELECT DISTINCT o_orderstatus AS status, o_orderpriority AS priority
      FROM (SELECT * FROM orders WHERE o_totalprice > 200000
            UNION ALL
            SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2003-01-01')
      ORDER BY status, priority"""))

  private val q10 = QueryDef(
    "q10_anti_join",
    (s, dir) => T(s, dir, "customer")
      .join(T(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      ORDER BY c_custkey"""))

  private val q11 = QueryDef(
    "q11_semi_join",
    (s, dir) => T(s, dir, "customer")
      .join(T(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      ORDER BY c_custkey"""))

  private val q12 = QueryDef(
    "q12_except",
    (s, dir) => {
      val all = T(s, dir, "orders").select(col("o_custkey").as("custkey")).distinct()
      val urgent = T(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey")).distinct()
      all.except(urgent).orderBy(col("custkey"))
    },
    Some("""
      SELECT DISTINCT o_custkey AS custkey FROM orders
      EXCEPT
      SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      ORDER BY custkey"""))

  private val q13 = QueryDef(
    "q13_max_value",
    (s, dir) => T(s, dir, "orders").agg(max(col("o_orderdate")).as("latest")),
    Some("SELECT max(o_orderdate) AS latest FROM orders"))

  private val q14 = QueryDef(
    "q14_incremental_filter",
    (s, dir) => {
      // Mirrors the reference's incremental_filter: derive the increment
      // from another DataFrame's single-row max (1-row driver collect),
      // then push it down as a literal filter.
      val ord = T(s, dir, "orders")
      val maxDate = ord.agg(max(col("o_orderdate"))).collect()(0)
        .getAs[java.time.LocalDateTime](0)
      ord.where(col("o_orderdate") > lit(maxDate.minusDays(90)))
        .agg(count(lit(1)).as("n_recent"),
          round(sum(col("o_totalprice")), 2).as("recent_value"))
    },
    Some("""
      SELECT count(*) AS n_recent, round(sum(o_totalprice), 2) AS recent_value
      FROM orders
      WHERE o_orderdate > (SELECT max(o_orderdate) - INTERVAL 90 DAY FROM orders)"""))

  private val q15 = QueryDef(
    "q15_date_hierarchy",
    (s, dir) => T(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("order_year"),
        quarter(col("o_orderdate")).cast("long").as("order_quarter"),
        month(col("o_orderdate")).cast("long").as("order_month"),
        dayofmonth(col("o_orderdate")).cast("long").as("order_day"))
      .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             year(o_orderdate) AS order_year,
             quarter(o_orderdate) AS order_quarter,
             month(o_orderdate) AS order_month,
             day(o_orderdate) AS order_day
      FROM orders ORDER BY o_orderkey"""))

  private val q16 = QueryDef(
    "q16_date_convert",
    (s, dir) => T(s, dir, "orders").select(
        col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        date_format(col("o_orderdate"), "yyyy-MM").as("order_month_str"))
      .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
             strftime(o_orderdate, '%Y-%m') AS order_month_str
      FROM orders ORDER BY o_orderkey"""))

  private val q17 = QueryDef(
    "q17_regex_extract",
    (s, dir) => T(s, dir, "customer").select(
        col("c_custkey"),
        regexp_extract(col("c_name"), "([0-9]+)", 1).as("cust_num"))
      .orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey, regexp_extract(c_name, '([0-9]+)', 1) AS cust_num
      FROM customer ORDER BY c_custkey"""))

  private val q18 = QueryDef(
    "q18_hash_mask",
    (s, dir) => T(s, dir, "customer").select(
        col("c_custkey"),
        sha2(col("c_name"), 256).as("name_sha256"),
        md5(col("c_name")).as("name_md5"))
      .orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey, sha256(c_name) AS name_sha256, md5(c_name) AS name_md5
      FROM customer ORDER BY c_custkey"""))

  private val q19 = QueryDef(
    "q19_null_handling",
    (s, dir) => T(s, dir, "customer")
      .withColumn("bal_or_null",
        when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")))
      .na.fill(Map("bal_or_null" -> 0.0))
      .select(col("c_custkey"), col("bal_or_null").as("bal_filled"))
      .orderBy(col("c_custkey")),
    Some("""
      SELECT c_custkey,
             coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END, 0.0)
               AS bal_filled
      FROM customer ORDER BY c_custkey"""))

  private val q20 = QueryDef(
    "q20_cast_literals",
    (s, dir) => T(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("long").as("qty_int"),
        lit("graft").as("engine_name"),
        lit(1L).as("spec_version"))
      .orderBy(col("l_orderkey"), col("l_linenumber")),
    Some("""
      SELECT l_orderkey, l_linenumber, CAST(l_quantity AS BIGINT) AS qty_int,
             'graft' AS engine_name, CAST(1 AS BIGINT) AS spec_version
      FROM lineitem ORDER BY l_orderkey, l_linenumber"""))

  private val q21 = QueryDef(
    "q21_explode_tokens",
    (s, dir) => T(s, dir, "documents")
      .where(col("doc_id") < 100)
      .select(col("doc_id"),
        explode(TextFunctions.whitespaceTokens(col("text"))).as("token"))
      .orderBy(col("doc_id"), col("token")),
    Some("""
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS token
      FROM documents WHERE doc_id < 100
      ORDER BY doc_id, token"""))

  private val q22 = QueryDef(
    "q22_json_extract",
    (s, dir) => T(s, dir, "events").select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k_val"))
      .orderBy(col("event_id")),
    Some("""
      SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
      FROM events ORDER BY event_id"""))

  private val q23 = QueryDef(
    "q23_to_json",
    (s, dir) => T(s, dir, "orders").select(
        col("o_orderkey"),
        to_json(struct(col("o_orderkey"), col("o_orderstatus"))).as("payload"))
      .orderBy(col("o_orderkey")),
    Some("""
      SELECT o_orderkey,
             to_json(struct_pack(o_orderkey := o_orderkey, o_orderstatus := o_orderstatus))
               AS payload
      FROM orders ORDER BY o_orderkey"""))

  private val q24 = QueryDef(
    "q24_flatten_struct",
    (s, dir) => {
      // Build a nested struct, then flatten it with the engine's
      // schema-flattening transformer (SURVEY §2.3 flatten_schema).
      val nested = T(s, dir, "orders").select(
        struct(col("o_orderkey").as("a"),
          struct(col("o_orderstatus").as("c")).as("b")).as("s"))
      graft.transform.SchemaTools.flatten(nested)
        .orderBy(col("s_a"))
    },
    Some("""
      SELECT o_orderkey AS s_a, o_orderstatus AS s_b_c
      FROM orders ORDER BY s_a"""))

  private val q25 = QueryDef(
    "q25_window_cadence",
    (s, dir) => {
      val monthly = T(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("status"),
          date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"))
      val w = Window.partitionBy(col("status")).orderBy(col("month"))
      monthly.select(col("status"), col("month"), col("revenue"),
          round(lag(col("revenue"), 1).over(w), 2).as("prev_revenue"),
          round(sum(col("revenue")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_revenue"))
        .orderBy(col("status"), col("month"))
    },
    Some("""
      WITH monthly AS (
        SELECT o_orderstatus AS status,
               strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1, 2)
      SELECT status, month, revenue,
             round(lag(revenue, 1) OVER (PARTITION BY status ORDER BY month), 2)
               AS prev_revenue,
             round(sum(revenue) OVER (PARTITION BY status ORDER BY month
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_revenue
      FROM monthly ORDER BY status, month"""))

  private val q26 = QueryDef(
    "q26_reconciliation",
    (s, dir) => {
      val truth = T(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(sum(col("o_totalprice")).as("truth_value"))
      val current = T(s, dir, "orders")
        .where(pmod(col("o_orderkey"), lit(100)) =!= 0)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(sum(col("o_totalprice")).as("current_value"))
      graft.algo.Reconciliator.diff(truth, current, Seq("status"),
          Seq("truth_value" -> "current_value"))
        .select(col("status"),
          round(col("truth_value"), 2).as("truth_value"),
          round(col("current_value"), 2).as("current_value"),
          round(col("absolute_diff"), 2).as("absolute_diff"),
          round(col("percentage_diff"), 6).as("percentage_diff"))
        .orderBy(col("status"))
    },
    Some("""
      WITH truth AS (
        SELECT o_orderstatus AS status, sum(o_totalprice) AS truth_value
        FROM orders GROUP BY 1),
      current AS (
        SELECT o_orderstatus AS status, sum(o_totalprice) AS current_value
        FROM orders WHERE o_orderkey % 100 <> 0 GROUP BY 1)
      SELECT coalesce(t.status, c.status) AS status,
             round(t.truth_value, 2) AS truth_value,
             round(c.current_value, 2) AS current_value,
             round(abs(coalesce(t.truth_value, 0) - coalesce(c.current_value, 0)), 2)
               AS absolute_diff,
             round(CASE WHEN coalesce(t.truth_value, 0) = 0 THEN NULL
                   ELSE abs(coalesce(t.truth_value, 0) - coalesce(c.current_value, 0))
                        / abs(coalesce(t.truth_value, 0)) END, 6) AS percentage_diff
      FROM truth t FULL JOIN current c ON t.status = c.status
      ORDER BY status"""))

  private val q27 = QueryDef(
    "q27_merge_upsert",
    (s, dir) => {
      val orders = T(s, dir, "orders")
      val target = orders.where(pmod(col("o_orderkey"), lit(3)) =!= 0)
      val source = orders.where(pmod(col("o_orderkey"), lit(2)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10.0)
      MergeOps.merge(target, source, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").as("totalprice"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH target AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
      source AS (SELECT o_orderkey, o_custkey, o_orderstatus,
                        o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority
                 FROM orders WHERE o_orderkey % 2 = 0)
      SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
             coalesce(s.o_orderstatus, t.o_orderstatus) AS o_orderstatus,
             coalesce(s.o_totalprice, t.o_totalprice) AS totalprice
      FROM target t FULL JOIN source s ON t.o_orderkey = s.o_orderkey
      ORDER BY o_orderkey"""))

  private val q28 = QueryDef(
    "q28_merge_clauses",
    (s, dir) => {
      val orders = T(s, dir, "orders")
      val target = orders.where(pmod(col("o_orderkey"), lit(3)) =!= 0)
      val source = orders.where(pmod(col("o_orderkey"), lit(2)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2.0)
      // Matched + source status F -> delete; matched otherwise -> update
      // only o_totalprice; not matched -> insert only status O rows.
      MergeOps.merge(target, source, Seq("o_orderkey"),
          updateSet = Map("o_totalprice" -> col("s.o_totalprice")),
          deleteCondition = Some(col("s.o_orderstatus") === "F"),
          insertCondition = Some(col("s.o_orderstatus") === "O"))
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").as("totalprice"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      WITH target AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
      source AS (SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice
                 FROM orders WHERE o_orderkey % 2 = 0)
      SELECT o_orderkey, o_orderstatus, totalprice FROM (
        SELECT t.o_orderkey AS o_orderkey, t.o_orderstatus AS o_orderstatus,
               CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                    ELSE t.o_totalprice END AS totalprice,
               CASE WHEN s.o_orderkey IS NOT NULL AND s.o_orderstatus = 'F'
                    THEN 1 ELSE 0 END AS deleted
        FROM target t LEFT JOIN source s ON t.o_orderkey = s.o_orderkey
        UNION ALL
        SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice, 0
        FROM source s LEFT JOIN target t ON t.o_orderkey = s.o_orderkey
        WHERE t.o_orderkey IS NULL AND s.o_orderstatus = 'O')
      WHERE deleted = 0 ORDER BY o_orderkey"""))

  private val q29 = QueryDef(
    "q29_gab_cadence",
    (s, dir) => {
      val uc = graft.algo.Gab.UseCase(
        name = "order_insights", dateCol = "o_orderdate",
        dimensions = Seq("o_orderstatus"),
        metrics = Seq(
          graft.algo.Gab.Metric("revenue", "sum", "o_totalprice"),
          graft.algo.Gab.Metric("n_orders", "count", "o_orderkey")),
        cadences = Seq("MONTH", "QUARTER"))
      graft.algo.Gab.buildInsights(T(s, dir, "orders"), uc)
        .select(col("use_case"), col("cadence"), col("o_orderstatus").as("status"),
          date_format(col("from_date"), "yyyy-MM-dd").as("from_date"),
          date_format(col("to_date"), "yyyy-MM-dd").as("to_date"),
          round(col("revenue"), 2).as("revenue"), col("n_orders"))
        .orderBy(col("cadence"), col("status"), col("from_date"))
    },
    Some("""
      WITH m AS (
        SELECT 'MONTH' AS cadence, o_orderstatus AS status,
               CAST(date_trunc('month', o_orderdate) AS DATE) AS from_date,
               round(sum(o_totalprice), 2) AS revenue, count(o_orderkey) AS n_orders
        FROM orders GROUP BY 2, 3),
      q AS (
        SELECT 'QUARTER' AS cadence, o_orderstatus AS status,
               CAST(date_trunc('quarter', o_orderdate) AS DATE) AS from_date,
               round(sum(o_totalprice), 2) AS revenue, count(o_orderkey) AS n_orders
        FROM orders GROUP BY 2, 3),
      u AS (SELECT * FROM m UNION ALL SELECT * FROM q)
      SELECT 'order_insights' AS use_case, cadence, status,
             strftime(from_date, '%Y-%m-%d') AS from_date,
             strftime(CAST(from_date + (CASE WHEN cadence = 'MONTH'
               THEN INTERVAL 1 MONTH ELSE INTERVAL 3 MONTH END) AS DATE),
               '%Y-%m-%d') AS to_date,
             revenue, n_orders
      FROM u ORDER BY cadence, status, from_date"""))

  private val q44 = QueryDef(
    "q44_range_join",
    (s, dir) => {
      val orders = T(s, dir, "orders")
      val windows = orders
        .select(date_trunc("quarter", col("o_orderdate")).cast("date").as("cadence_start_date"))
        .distinct()
        .withColumn("cadence_end_date", add_months(col("cadence_start_date"), 3))
      graft.algo.Gab.calendarJoin(orders, "o_orderdate", windows)
        .groupBy(date_format(col("cadence_start_date"), "yyyy-MM-dd").as("window_start"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("window_start"))
    },
    Some("""
      WITH windows AS (
        SELECT DISTINCT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS ws,
               CAST(date_trunc('quarter', o_orderdate) AS DATE) + INTERVAL 3 MONTH AS we
        FROM orders)
      SELECT strftime(ws, '%Y-%m-%d') AS window_start,
             count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      FROM orders JOIN windows ON o_orderdate >= ws AND o_orderdate < we
      GROUP BY ws ORDER BY window_start"""))

  // ---------------------------------------------------------------------
  // LLM-pipeline parity-plus operators (dedup / text / similarity)
  // ---------------------------------------------------------------------

  private val q30 = QueryDef(
    "q30_dedup_exact",
    (s, dir) => T(s, dir, "documents")
      .groupBy(TextFunctions.fingerprint(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("dup_count"))
      .orderBy(col("keeper_id")),
    Some("""
      SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
             min(doc_id) AS keeper_id, count(*) AS dup_count
      FROM documents GROUP BY 1 ORDER BY keeper_id"""))

  /** Shared oracle CTEs reproducing the MinHash pipeline exactly: token
    * hashes are md5-derived ([[graft.functions.Kernels.md5Hash60]] mod p),
    * shingle hashes the polynomial window fold, signatures the universal
    * hash mins over the spliced literal coefficients, and band buckets
    * the polynomial band fold — every step integer arithmetic both
    * engines compute identically. */
  private val minhashPairsCtes: String = {
    val (mhA, mhB) = DedupFunctions.minhashCoefficients(32)
    val aSql = mhA.mkString("[", ",", "]")
    val bSql = mhB.mkString("[", ",", "]")
    s"""toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents),
      th AS (
        SELECT doc_id, list_transform(tk,
          t -> CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) % 2147483647) AS hs
        FROM toks),
      sh AS (
        SELECT doc_id, list_distinct(CASE
            WHEN len(hs) >= 3 THEN list_transform(range(1, len(hs) - 1),
              i -> ((hs[i] * 1000003 + hs[i+1]) % 2147483647 * 1000003
                    + hs[i+2]) % 2147483647)
            WHEN len(hs) = 0 THEN [0]
            ELSE [list_reduce(hs, (a, b) -> (a * 1000003 + b) % 2147483647)]
          END) AS sh
        FROM th),
      sig AS (
        SELECT doc_id, sh,
               list_transform($aSql, (a, i) ->
                 list_min(list_transform(sh,
                   h -> (a * h + ($bSql)[i]) % 2147483647))) AS sig
        FROM sh),
      banded AS (
        SELECT doc_id, b AS band,
               list_reduce(sig[(b*8+1):(b*8+8)],
                 (a, v) -> (a * 1000003 + v) % 2147483647) AS bucket
        FROM sig, range(4) t(b)),
      cands AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id),
      verified AS (
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) AS inter,
               CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) AS szsum
        FROM cands c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b),
      pairs AS (
        SELECT id_a, id_b, inter / (szsum - inter) AS jaccard
        FROM verified WHERE inter / (szsum - inter) >= 0.4)"""
  }

  private val q31 = QueryDef(
    "q31_dedup_minhash",
    (s, dir) => DedupFunctions.minhashNearDuplicates(
        T(s, dir, "documents"), "doc_id", "text", threshold = 0.4)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""
      WITH $minhashPairsCtes
      SELECT id_a, id_b, jaccard FROM pairs ORDER BY id_a, id_b"""))

  private val q32 = QueryDef(
    "q32_dedup_simhash",
    (s, dir) => DedupFunctions.simhashNearDuplicates(
        T(s, dir, "documents"), "doc_id", "text", maxDistance = 3)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
      .orderBy(col("id_a"), col("id_b")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents),
      th AS (
        SELECT doc_id, list_transform(tk,
          t -> CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)) AS hs
        FROM toks),
      sims AS (
        SELECT doc_id, CAST(list_sum(list_transform(range(60), b ->
            CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1)) > len(hs)
                 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sim
        FROM th),
      blocks AS (
        SELECT doc_id, sim, b AS block, (sim >> (b*15)) & 32767 AS key
        FROM sims, range(4) t(b)),
      cands AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM blocks x JOIN blocks y
          ON x.block = y.block AND x.key = y.key AND x.doc_id < y.doc_id)
      SELECT c.id_a, c.id_b, CAST(bit_count(xor(sa.sim, sb.sim)) AS BIGINT) AS hamming
      FROM cands c
      JOIN sims sa ON sa.doc_id = c.id_a
      JOIN sims sb ON sb.doc_id = c.id_b
      WHERE bit_count(xor(sa.sim, sb.sim)) <= 3
      ORDER BY id_a, id_b"""))

  private val q33 = QueryDef(
    "q33_ngram_jaccard",
    (s, dir) => DedupFunctions.ngramJaccardPairs(
        T(s, dir, "documents").where(col("doc_id") < 300), "doc_id", "text",
        n = 2, threshold = 0.05)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents WHERE doc_id < 300),
      grams AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(tk) >= 2
                 THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                 ELSE [array_to_string(tk, ' ')] END) AS gs
        FROM toks),
      sized AS (SELECT doc_id, gs, len(gs) AS n_grams FROM grams),
      exploded AS (SELECT doc_id, n_grams, unnest(gs) AS g FROM sized)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             count(*) / CAST(a.n_grams + b.n_grams - count(*) AS DOUBLE) AS jaccard
      FROM exploded a JOIN exploded b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.n_grams, b.n_grams
      HAVING count(*) / CAST(a.n_grams + b.n_grams - count(*) AS DOUBLE) >= 0.05
      ORDER BY id_a, id_b"""))

  private val stopwordListSql =
    TextFunctions.EnglishStopwords.map(w => s"'$w'").mkString("[", ",", "]")

  private val q34 = QueryDef(
    "q34_text_quality",
    (s, dir) => T(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"),
        TextFunctions.avgTokenLen(col("text")).as("avg_token_len"),
        TextFunctions.digitRatio(col("text")).as("digit_ratio"),
        TextFunctions.stopwordRatio(col("text")).as("stopword_ratio"))
      .orderBy(col("doc_id")),
    Some(s"""
      WITH toks AS (
        SELECT doc_id, text,
               list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents)
      SELECT doc_id, len(text) AS n_chars,
             len(tk) AS n_tokens,
             len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
             CASE WHEN len(tk) > 0 THEN
               list_sum(list_transform(tk, t -> len(t))) / CAST(len(tk) AS DOUBLE)
               ELSE 0.0 END AS avg_token_len,
             CASE WHEN len(text) > 0 THEN
               len(regexp_replace(text, '[^0-9]', '', 'g')) / CAST(len(text) AS DOUBLE)
               ELSE 0.0 END AS digit_ratio,
             CASE WHEN len(tk) > 0 THEN
               len(list_filter(tk, t -> list_contains($stopwordListSql, lower(t))))
                 / CAST(len(tk) AS DOUBLE)
               ELSE 0.0 END AS stopword_ratio
      FROM toks ORDER BY doc_id"""))

  private val langCaseSql: String = {
    val scores = TextFunctions.LanguageMarkers.map { case (lang, re) =>
      lang -> s"len(regexp_extract_all(text, '$re'))"
    }
    val best = scores.map(_._2).mkString("greatest(", ", ", ")")
    val whens = scores.map { case (lang, s) =>
      s"WHEN $s > 0 AND $s = $best THEN '$lang'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  private val q35 = QueryDef(
    "q35_lang_id",
    (s, dir) => T(s, dir, "documents").select(
        col("doc_id"), col("lang"),
        TextFunctions.languageId(col("text")).as("lang_pred"))
      .orderBy(col("doc_id")),
    Some(s"""
      SELECT doc_id, lang, $langCaseSql AS lang_pred
      FROM documents ORDER BY doc_id"""))

  private val q36 = QueryDef(
    "q36_fingerprint",
    (s, dir) => T(s, dir, "documents").select(
        col("doc_id"), TextFunctions.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      FROM documents ORDER BY doc_id"""))

  private val cosineSql =
    """list_sum(list_transform(list_zip(qvec, cvec),
         p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
       / (sqrt(list_sum(list_transform(qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          * sqrt(list_sum(list_transform(cvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"""

  private val q38 = QueryDef(
    "q38_cosine_topk",
    (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      SimilarityFunctions.bruteForceTopK(
          emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("score"), 6).as("score"), col("rnk").cast("long").as("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings),
      scored AS (
        SELECT query_id, neighbor_id, $cosineSql AS score
        FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
      ranked AS (
        SELECT query_id, neighbor_id, score,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
                 AS rnk
        FROM scored)
      SELECT query_id, neighbor_id, round(score, 6) AS score, rnk
      FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** Oracle CTE producing the LSH hyperplane-signature per vector: the
    * plane matrix is derived from md5 in SQL exactly as
    * [[graft.functions.SimilarityFunctions.lshSignature]] derives it in
    * the kernel (low 24 md5 bits scaled to the EXACT dyadic rational
    * h/2^23 - 1), and the projection fold order matches the kernel's
    * ascending-dimension loop, so every sign bit is identical. */
  private def lshSigCtes(numBits: Int, dim: Int): String =
    s"""planes AS (
        SELECT list_transform(range($numBits), b ->
          list_transform(range($dim), j ->
            CAST(('0x' || substring(md5('plane-' || b || '-' || j), 1, 15)) AS BIGINT)
              % 16777216 / 8388608.0 - 1.0)) AS pm),
      sigs AS (
        SELECT vec_id, embedding,
               CAST(list_sum(list_transform(range($numBits), b ->
                 CASE WHEN list_sum(list_transform(embedding,
                        (x, j) -> CAST(x AS DOUBLE) * pm[b+1][j])) > 0
                      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig
        FROM embeddings, planes)"""

  private val q39 = QueryDef(
    "q39_ann_lsh",
    (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      SimilarityFunctions.lshTopK(
          emb, "vec_id", "embedding", queries, "vec_id", "embedding",
          dim = 64, k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("score"), 6).as("score"), col("rnk").cast("long").as("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(s"""
      WITH ${lshSigCtes(16, 64)},
      banded AS (
        SELECT vec_id, b AS band, (sig >> (b*4)) & 15 AS key
        FROM sigs, range(4) t(b)),
      cands AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM banded c JOIN banded q ON c.band = q.band AND c.key = q.key
        WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
      scored AS (
        SELECT query_id, neighbor_id, $cosineSql AS score
        FROM cands
        JOIN (SELECT vec_id, embedding AS qvec FROM embeddings) qq
          ON qq.vec_id = query_id
        JOIN (SELECT vec_id, embedding AS cvec FROM embeddings) cc
          ON cc.vec_id = neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, score,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
                 AS rnk
        FROM scored)
      SELECT query_id, neighbor_id, round(score, 6) AS score, rnk
      FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** Full-probe IVF: probing every cell makes the candidate set exactly
    * the corpus (each vector lives in one Voronoi cell), so the result is
    * hash-verifiable against the brute-force oracle while still
    * exercising the whole IVF machinery end-to-end — KMeans training,
    * cell assignment, per-cell candidate join, bounded top-k. The
    * recall/pruning trade of partial probes (centroids are not
    * SQL-reproducible) is covered by DedupAndSimilaritySpec's measured
    * recall assertions. */
  private val q50 = QueryDef(
    "q50_ann_ivf",
    (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") >= 10 && col("vec_id") < 20)
      SimilarityFunctions.ivfTopK(
          emb, "vec_id", "embedding", queries, "vec_id", "embedding",
          k = 7, nLists = 16, nProbe = 16)
        .select(col("query_id"), col("neighbor_id"),
          round(col("score"), 6).as("score"), col("rnk").cast("long").as("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(s"""
      WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
                 WHERE vec_id >= 10 AND vec_id < 20),
      c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings),
      scored AS (
        SELECT query_id, neighbor_id, $cosineSql AS score
        FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
      ranked AS (
        SELECT query_id, neighbor_id, score,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
                 AS rnk
        FROM scored)
      SELECT query_id, neighbor_id, round(score, 6) AS score, rnk
      FROM ranked WHERE rnk <= 7 ORDER BY query_id, rnk"""))

  /** Adaptive-width variant of [[lshSigCtes]]: the signature width is
    * DERIVED from the corpus count exactly as
    * [[graft.functions.SimilarityFunctions.adaptiveRows]] derives it —
    * rowsPerBand = clamp(ceilLog2(n) + 2, 4, 30).
    * ceil(log2) is computed integer-exactly: the FP log2 estimate is
    * corrected by one shift-compare step, so a libm that lands on either
    * side of a power of two cannot diverge from the JVM's
    * numberOfLeadingZeros derivation. Band keys are derived PER BAND
    * (band b packs the sign bits of planes [b*r, (b+1)*r) into its own
    * BIGINT), mirroring `lshBandKeys` — no packed-64-bit signature, so
    * the 16-row ceiling that re-opened the quadratic collision regime
    * past ~16k vectors is gone — and the BAND COUNT grows with the key
    * width exactly as `adaptiveBands` grows it (greatest(4, ceil(r/4)),
    * holding the S-curve catch point as the corpus scales). The gate
    * corpora derive 11-13 rows -> 4 bands, where per-band keys are
    * bit-identical to the old sliced form. */
  private def lshSigCtesAdaptive(dim: Int): String =
    s"""params AS (
        SELECT r, greatest(4, CAST(ceil(r / 4.0) AS INT)) AS nbands
        FROM (
          SELECT least(30, greatest(4, 2 +
            CASE WHEN (CAST(1 AS BIGINT) << r0) < n THEN r0 + 1
                 WHEN r0 > 0 AND (CAST(1 AS BIGINT) << (r0 - 1)) >= n THEN r0 - 1
                 ELSE r0 END)) AS r
          FROM (SELECT count(*) AS n,
                       CASE WHEN count(*) <= 1 THEN 0
                            ELSE CAST(ceil(log2(count(*))) AS INT) END AS r0
                FROM embeddings) t0) t1),
      planes AS (
        SELECT list_transform(range((SELECT r * nbands FROM params)), b ->
          list_transform(range($dim), j ->
            CAST(('0x' || substring(md5('plane-' || b || '-' || j), 1, 15)) AS BIGINT)
              % 16777216 / 8388608.0 - 1.0)) AS pm),
      sigs AS (
        -- params cross-joined in: DuckDB lambdas reject subqueries, but
        -- correlated COLUMNS (r, nbands) are fine
        SELECT vec_id, embedding,
               list_transform(range(nbands), b ->
                 CAST(list_sum(list_transform(range(r), j ->
                   CASE WHEN list_sum(list_transform(embedding,
                          (x, d) -> CAST(x AS DOUBLE) * pm[b * r + j + 1][d])) > 0
                        THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT)) AS keys
        FROM embeddings, planes, params)"""

  /** Adaptive-width banded CTE body shared by q40/q78: the per-band keys
    * computed in `sigs`, unnested with their band index (parallel
    * unnests of equal length zip positionally in DuckDB). */
  private val bandedAdaptiveSql =
    """banded AS (
        SELECT vec_id, unnest(range(len(keys))) AS band, unnest(keys) AS key
        FROM sigs)"""

  private val q40 = QueryDef(
    "q40_embedding_neardup",
    (s, dir) => SimilarityFunctions.embeddingNearDuplicates(
        T(s, dir, "embeddings"), "vec_id", "embedding", dim = 64, threshold = 0.3)
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("score"))
      .orderBy(col("id_a"), col("id_b")),
    Some(s"""
      WITH ${lshSigCtesAdaptive(64)},
      $bandedAdaptiveSql,
      cands AS (
        SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id),
      scored AS (
        SELECT id_a, id_b, $cosineSql AS score
        FROM cands
        JOIN (SELECT vec_id, embedding AS qvec FROM embeddings) a ON a.vec_id = id_a
        JOIN (SELECT vec_id, embedding AS cvec FROM embeddings) b ON b.vec_id = id_b)
      SELECT id_a, id_b, round(score, 6) AS score
      FROM scored WHERE score >= 0.3 ORDER BY id_a, id_b"""))

  /** Multi-probe LSH ANN: q39's banded search with probeBitFlips=1 — each
    * QUERY band key also probes its single-bit-flip neighbors. The oracle
    * mirrors the probe expansion exactly (xor over range(rowsPerBand)),
    * so the recall-improved path is hash-verified cross-engine, not just
    * asserted monotone in tests. */
  private val q79 = QueryDef(
    "q79_ann_multiprobe",
    (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val queries = emb.where(col("vec_id") < 10)
      SimilarityFunctions.lshTopK(
          emb, "vec_id", "embedding", queries, "vec_id", "embedding",
          dim = 64, k = 5, probeBitFlips = 1)
        .select(col("query_id"), col("neighbor_id"),
          round(col("score"), 6).as("score"), col("rnk").cast("long").as("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(s"""
      WITH ${lshSigCtes(16, 64)},
      banded AS (
        SELECT vec_id, b AS band, (sig >> (b*4)) & 15 AS key
        FROM sigs, range(4) t(b)),
      qb AS (
        SELECT vec_id, b AS band, (sig >> (b*4)) & 15 AS key0
        FROM sigs, range(4) t(b) WHERE vec_id < 10),
      qkeys AS (
        SELECT DISTINCT vec_id, band, key0 AS key FROM qb
        UNION
        SELECT DISTINCT vec_id, band, xor(key0, 1 << f) AS key
        FROM qb, range(4) r(f)),
      cands AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM banded c JOIN qkeys q ON c.band = q.band AND c.key = q.key
        WHERE c.vec_id <> q.vec_id),
      scored AS (
        SELECT query_id, neighbor_id, $cosineSql AS score
        FROM cands
        JOIN (SELECT vec_id, embedding AS qvec FROM embeddings) qq
          ON qq.vec_id = query_id
        JOIN (SELECT vec_id, embedding AS cvec FROM embeddings) cc
          ON cc.vec_id = neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, score,
               row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id)
                 AS rnk
        FROM scored)
      SELECT query_id, neighbor_id, round(score, 6) AS score, rnk
      FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  /** GraphX connected components over the EMBEDDING near-duplicate pairs
    * (q40's hyperplane-LSH candidate generator + exact cosine verify),
    * hash-verified against a recursive-CTE reachability closure — the
    * q56 pattern applied to the vector side of the corpus: resolve "these
    * embeddings are the same content" groups to a canonical id without
    * ever forming the all-pairs product. */
  private val q78 = QueryDef(
    "q78_embedding_clusters",
    (s, dir) =>
      // The fused cluster operator dedups verified pairs cross-band
      // before clustering, but on BARE (id_a, id_b) rows with no score
      // projection (the no-distinct multiset variant measured 2x WORSE —
      // see the SimilarityFunctions scaladoc), so the oracle's
      // DISTINCT-pair CTE is matched by construction.
      SimilarityFunctions.embeddingClusters(
        T(s, dir, "embeddings"), "vec_id", "embedding", dim = 64, threshold = 0.3)
        .orderBy(col("id")),
    Some(s"""
      WITH RECURSIVE ${lshSigCtesAdaptive(64)},
      $bandedAdaptiveSql,
      cands AS (
        SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id),
      scored AS (
        SELECT id_a, id_b, $cosineSql AS score
        FROM cands
        JOIN (SELECT vec_id, embedding AS qvec FROM embeddings) a ON a.vec_id = id_a
        JOIN (SELECT vec_id, embedding AS cvec FROM embeddings) b ON b.vec_id = id_b),
      pairs AS (SELECT id_a, id_b FROM scored WHERE score >= 0.3),
      edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      nodes AS (SELECT DISTINCT u AS id FROM edges),
      reach AS (
        SELECT id, id AS r FROM nodes
        UNION
        SELECT e.v AS id, reach.r FROM reach JOIN edges e ON e.u = reach.id)
      SELECT id, min(r) AS canonical_id FROM reach GROUP BY id ORDER BY id"""))

  private val q41 = QueryDef(
    "q41_event_hourly",
    (s, dir) => {
      val ev = T(s, dir, "events")
      // epoch_ns // 3.6e12 == epoch_us // 3.6e9 exactly (both sides of the
      // floor division scale by 1000), so the nanos oracle needs no change.
      ev.withColumn("ts_us", tsMicros(ev))
        .groupBy(expr("ts_us div 3600000000").as("hour_bucket"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("hour_bucket"), col("event_type"))
    },
    Some("""
      SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
             count(*) AS n_events, round(sum(value), 2) AS total_value
      FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type"""))

  private val q42 = QueryDef(
    "q42_quantiles",
    // ONE array-percentile aggregate instead of three scalar ones (r20):
    // exact `percentile` is an ObjectAggregate whose buffer is a hash map
    // of every distinct value — three separate calls built, serialized
    // and merged three copies of that map (the suite's slowest query once
    // the bench stopped count()-pruning it: 6.2 s). The array form
    // computes all three ranks from one map; identical interpolation,
    // identical values (oracle hash-verified).
    (s, dir) => T(s, dir, "lineitem")
      .agg(expr("percentile(l_extendedprice, array(0.5D, 0.9D, 0.99D))").as("__ps"))
      .select(
        round(col("__ps")(0), 2).as("p50"),
        round(col("__ps")(1), 2).as("p90"),
        round(col("__ps")(2), 2).as("p99")),
    Some("""
      SELECT round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
             round(quantile_cont(l_extendedprice, 0.9), 2) AS p90,
             round(quantile_cont(l_extendedprice, 0.99), 2) AS p99
      FROM lineitem"""))

  private val q43 = QueryDef(
    "q43_stats_summary",
    (s, dir) => T(s, dir, "orders").agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        round(avg(col("o_totalprice")), 2).as("avg_price")),
    Some("""
      SELECT count(*) AS n_orders,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers,
             round(min(o_totalprice), 2) AS min_price,
             round(max(o_totalprice), 2) AS max_price,
             round(avg(o_totalprice), 2) AS avg_price
      FROM orders"""))

  private val q45 = QueryDef(
    "q45_multimodal_meta",
    (s, dir) => graft.operators.Multimodal
      .withBinaryMetadata(T(s, dir, "documents"), col("text"), "content")
      .select(col("doc_id"), col("content_n_bytes"), col("content_md5"))
      .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS content_n_bytes,
             md5(text) AS content_md5
      FROM documents ORDER BY doc_id"""))

  private val q46 = QueryDef(
    "q46_rollup",
    (s, dir) => T(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first),
    Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  private val q47 = QueryDef(
    "q47_salted_join",
    (s, dir) => {
      // skew-mitigation join must produce byte-identical results to the
      // plain join (q04) — the oracle is the unsalted formulation
      val part = T(s, dir, "part").withColumnRenamed("p_partkey", "l_partkey")
      graft.operators.ScaleOps.saltedJoin(
          T(s, dir, "lineitem"), part, Seq("l_partkey"), salts = 4)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_lines"))
        .orderBy(col("p_brand"))
    },
    Some("""
      SELECT p_brand, count(*) AS n_lines
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand"""))

  private val q48 = QueryDef(
    "q48_snapshot_diff",
    (s, dir) => {
      val base = T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val prev = base.where(pmod(col("o_orderkey"), lit(10)) =!= 0)
      val cur = base.where(pmod(col("o_orderkey"), lit(7)) =!= 0)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(5)) === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
      graft.operators.ChangeCapture.snapshotDiff(prev, cur, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("_change_type"))
    },
    Some("""
      WITH prev AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        WHERE o_orderkey % 10 <> 0),
      cur AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 7 <> 0)
      SELECT * FROM (
        SELECT c.o_orderkey, c.o_orderstatus, c.o_totalprice,
               'insert' AS _change_type
        FROM cur c LEFT JOIN prev p ON c.o_orderkey = p.o_orderkey
        WHERE p.o_orderkey IS NULL
        UNION ALL
        SELECT p.o_orderkey, p.o_orderstatus, p.o_totalprice, 'delete'
        FROM prev p LEFT JOIN cur c ON c.o_orderkey = p.o_orderkey
        WHERE c.o_orderkey IS NULL
        UNION ALL
        SELECT p.o_orderkey, p.o_orderstatus, p.o_totalprice, 'update_preimage'
        FROM prev p JOIN cur c ON c.o_orderkey = p.o_orderkey
        WHERE p.o_totalprice <> c.o_totalprice OR p.o_orderstatus <> c.o_orderstatus
        UNION ALL
        SELECT c.o_orderkey, c.o_orderstatus, c.o_totalprice, 'update_postimage'
        FROM prev p JOIN cur c ON c.o_orderkey = p.o_orderkey
        WHERE p.o_totalprice <> c.o_totalprice OR p.o_orderstatus <> c.o_orderstatus)
      ORDER BY o_orderkey, _change_type"""))

  private val q49 = QueryDef(
    "q49_training_pipeline",
    (s, dir) => {
      // Flagship LLM-data curation run through the declarative engine:
      // quality-filter -> exact-dedup -> per-language counts.
      val acon =
        s"""{
           |  "input_specs": [{
           |    "spec_id": "docs", "read_type": "batch", "data_format": "parquet",
           |    "location": "$dir/documents.parquet"
           |  }],
           |  "transform_specs": [{
           |    "spec_id": "curated", "input_id": "docs",
           |    "transformers": [
           |      {"function": "temp_view", "args": {"name": "docs_v"}},
           |      {"function": "sql_transformation", "args": {"sql": "
           |        SELECT doc_id, lang,
           |               size(filter(split(text, ' '), t -> length(t) > 0)) AS n_tokens,
           |               md5(lower(trim(regexp_replace(text, '\\\\s+', ' ')))) AS fp
           |        FROM docs_v"}},
           |      {"function": "plan_barrier"},
           |      {"function": "temp_view", "args": {"name": "scored_v"}},
           |      {"function": "sql_transformation", "args": {"sql": "
           |        WITH filtered AS (SELECT * FROM scored_v WHERE n_tokens >= 10),
           |        deduped AS (
           |          SELECT min(doc_id) AS keeper_id, min(lang) AS lang,
           |                 min(n_tokens) AS n_tokens
           |          FROM filtered GROUP BY fp)
           |        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           |               CAST(sum(n_tokens) AS BIGINT) AS total_tokens
           |        FROM deduped GROUP BY lang ORDER BY lang"}}
           |    ]
           |  }],
           |  "output_specs": [{
           |    "spec_id": "result", "input_id": "curated", "data_format": "dataframe"
           |  }]
           |}""".stripMargin.replace("\n", " ")
      graft.algo.DataLoader.loadData(s, acon)("curated")
    },
    Some("""
      WITH scored AS (
        SELECT doc_id, lang,
               len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS n_tokens,
               md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        FROM documents),
      filtered AS (SELECT * FROM scored WHERE n_tokens >= 10),
      deduped AS (
        SELECT min(doc_id) AS keeper_id, min(lang) AS lang, min(n_tokens) AS n_tokens
        FROM filtered GROUP BY fp)
      SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM deduped GROUP BY lang ORDER BY lang"""))

  private val q51 = QueryDef(
    "q51_dq_summary",
    (s, dir) => {
      // DQ engine output is itself a queryable dataset: run a suite over
      // customer and emit the per-expectation summary (deterministic
      // columns only).
      val spec = graft.spec.DQSpec("cust", "cust",
        dqFunctions = Seq(
          graft.spec.DQFunctionSpec("expect_column_values_to_not_be_null",
            Map("column" -> "c_name")),
          graft.spec.DQFunctionSpec("expect_column_values_to_be_between",
            Map("column" -> "c_acctbal", "min_value" -> 0)),
          graft.spec.DQFunctionSpec("expect_column_values_to_match_regex",
            Map("column" -> "c_name", "regex" -> "^Customer#")),
          graft.spec.DQFunctionSpec("expect_column_values_to_be_unique",
            Map("column" -> "c_custkey"))),
        failOnError = false, maxPercentageFailure = Some(1.0))
      val result = graft.dq.DQEngine.run(s, T(s, dir, "customer"), spec)
      graft.dq.DQEngine.resultSinkDf(s, result, "cust")
        .select(col("expectation_type"), col("success"),
          col("element_count"), col("unexpected_count"))
        .orderBy(col("expectation_type"))
    },
    Some("""
      SELECT * FROM (
        SELECT 'expect_column_values_to_not_be_null' AS expectation_type,
               count(*) FILTER (WHERE c_name IS NULL) = 0 AS success,
               count(*) AS element_count,
               count(*) FILTER (WHERE c_name IS NULL) AS unexpected_count
        FROM customer
        UNION ALL
        SELECT 'expect_column_values_to_be_between',
               count(*) FILTER (WHERE NOT (c_acctbal >= 0)) = 0,
               count(*),
               count(*) FILTER (WHERE NOT (c_acctbal >= 0))
        FROM customer
        UNION ALL
        SELECT 'expect_column_values_to_match_regex',
               count(*) FILTER (WHERE NOT regexp_matches(c_name, '^Customer#')) = 0,
               count(*),
               count(*) FILTER (WHERE NOT regexp_matches(c_name, '^Customer#'))
        FROM customer
        UNION ALL
        SELECT 'expect_column_values_to_be_unique',
               coalesce((SELECT CAST(sum(n) AS BIGINT) FROM
                 (SELECT count(*) AS n FROM customer GROUP BY c_custkey HAVING count(*) > 1)), 0) = 0,
               count(*),
               coalesce((SELECT CAST(sum(n) AS BIGINT) FROM
                 (SELECT count(*) AS n FROM customer GROUP BY c_custkey HAVING count(*) > 1)), 0)
        FROM customer)
      ORDER BY expectation_type"""))

  private val q52 = QueryDef(
    "q52_cube",
    (s, dir) => T(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first),
    Some("""
      SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""))

  private val q53 = QueryDef(
    "q53_intersect",
    (s, dir) => {
      val urgent = T(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      val bigSpender = T(s, dir, "orders").where(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("custkey"))
      urgent.intersect(bigSpender).orderBy(col("custkey"))
    },
    Some("""
      SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT
      SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
      ORDER BY custkey"""))

  private val q54 = QueryDef(
    "q54_union_missing_cols",
    (s, dir) => {
      val a = T(s, dir, "orders").where(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val b = T(s, dir, "orders").where(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"), col("o_orderstatus"))
      a.unionByName(b, allowMissingColumns = true)
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL BY NAME
      SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 1
      ORDER BY o_orderkey"""))

  /** GraphX connected components over the minhash near-duplicate pairs,
    * hash-verified end-to-end: the pair generator is the cross-engine
    * minhash pipeline (same CTEs as q31) and the clustering is checked
    * against a recursive-CTE reachability closure (q57's pattern). */
  private val q56 = QueryDef(
    "q56_dedup_clusters",
    (s, dir) => {
      val pairs = DedupFunctions.minhashNearDuplicates(
        T(s, dir, "documents"), "doc_id", "text", threshold = 0.4)
      DedupFunctions.duplicateClusters(pairs.select("id_a", "id_b"))
        .orderBy(col("id"))
    },
    Some(s"""
      WITH RECURSIVE $minhashPairsCtes,
      edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      nodes AS (SELECT DISTINCT u AS id FROM edges),
      reach AS (
        SELECT id, id AS r FROM nodes
        UNION
        SELECT e.v AS id, reach.r FROM reach JOIN edges e ON e.u = reach.id)
      SELECT id, min(r) AS canonical_id FROM reach GROUP BY id ORDER BY id"""))

  private val q55 = QueryDef(
    "q55_sessionize",
    (s, dir) => {
      val ev = T(s, dir, "events")
      ev.withColumn("t", tsAsTimestamp(ev))
      .groupBy(session_window(col("t"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("session_start"))
    },
    Some("""
      WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, value FROM events),
      marked AS (
        SELECT *, CASE WHEN lag(t) OVER w IS NULL
                         OR t - lag(t) OVER w >= INTERVAL 30 MINUTE
                       THEN 1 ELSE 0 END AS new_session
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)),
      sess AS (
        SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM marked)
      SELECT user_id, strftime(min(t), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
             count(*) AS n_events, round(sum(value), 2) AS total_value
      FROM sess GROUP BY user_id, session_id
      ORDER BY user_id, session_start"""))

  // ---------------------------------------------------------------------
  // Training-data assembly (sampling/mixing, packing, distinctive terms,
  // oracle-verified duplicate clustering)
  // ---------------------------------------------------------------------

  /** Connected components over EXACT n-gram Jaccard pairs: the same
    * GraphX clustering as q56, but fed by an oracle-expressible pair
    * generator so the cluster assignment itself is hash-verified against
    * a DuckDB recursive-CTE reachability closure. */
  private val q57 = QueryDef(
    "q57_clusters_exact",
    (s, dir) => {
      val pairs = DedupFunctions.ngramJaccardPairs(
        T(s, dir, "documents").where(col("doc_id") < 300), "doc_id", "text",
        n = 2, threshold = 0.1)
      DedupFunctions.duplicateClusters(pairs.select("id_a", "id_b"))
        .orderBy(col("id"))
    },
    Some("""
      WITH RECURSIVE toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents WHERE doc_id < 300),
      grams AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(tk) >= 2
                 THEN list_transform(range(1, len(tk)),
                        i -> tk[i] || ' ' || tk[i+1])
                 ELSE [array_to_string(tk, ' ')] END) AS gs
        FROM toks),
      sized AS (SELECT doc_id, gs, len(gs) AS n_grams FROM grams),
      exploded AS (SELECT doc_id, n_grams, unnest(gs) AS g FROM sized),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM exploded a JOIN exploded b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id, a.n_grams, b.n_grams
        HAVING count(*) / CAST(a.n_grams + b.n_grams - count(*) AS DOUBLE) >= 0.1),
      edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                UNION SELECT id_b, id_a FROM pairs),
      nodes AS (SELECT DISTINCT u AS id FROM edges),
      reach AS (
        SELECT id, id AS r FROM nodes
        UNION
        SELECT e.v AS id, reach.r FROM reach JOIN edges e ON e.u = reach.id)
      SELECT id, min(r) AS canonical_id FROM reach GROUP BY id ORDER BY id"""))

  private val q58 = QueryDef(
    "q58_sequence_pack",
    (s, dir) => graft.operators.TrainingData.packSequences(
        T(s, dir, "documents"), "doc_id", "text", tokenBudget = 2048, nShards = 8)
      .orderBy(col("shard"), col("pack_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, doc_id % 8 AS shard,
               CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS BIGINT)
                 AS n_tokens
        FROM documents),
      packed AS (
        SELECT doc_id, shard, n_tokens,
               COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM toks)
      SELECT shard, CAST(cum_before // 2048 AS BIGINT) AS pack_id, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM packed GROUP BY 1, 2 ORDER BY shard, pack_id"""))

  private val q59 = QueryDef(
    "q59_source_mix",
    (s, dir) => {
      val docs = T(s, dir, "documents")
      graft.operators.TrainingData.mixSources(Seq(
          docs.where(col("lang") === "en") -> 0.8,
          docs.where(col("lang") =!= "en") -> 0.3), "doc_id")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source FROM documents WHERE lang = 'en'
          AND (doc_id * 2654435761) % 1000000 < 800000
        UNION ALL
        SELECT doc_id, lang, source FROM documents WHERE lang <> 'en'
          AND (doc_id * 2654435761) % 1000000 < 300000)
      ORDER BY doc_id"""))

  private val q60 = QueryDef(
    "q60_distinctive_terms",
    (s, dir) => graft.operators.TrainingData.distinctiveTerms(
        T(s, dir, "documents").where(col("doc_id") < 100), "doc_id", "text", k = 3)
      .orderBy(col("id"), col("rnk")),
    Some("""
      WITH terms AS (
        SELECT doc_id AS id,
               unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0)) AS term
        FROM documents WHERE doc_id < 100),
      tf AS (SELECT id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
      dfreq AS (SELECT term, count(DISTINCT id) AS df FROM terms GROUP BY 1),
      scored AS (
        SELECT tf.id, tf.term,
               tf.tf * (SELECT count(*) FROM documents WHERE doc_id < 100) / CAST(dfreq.df AS DOUBLE)
                 AS score
        FROM tf JOIN dfreq ON tf.term = dfreq.term),
      ranked AS (
        SELECT id, term, score,
               row_number() OVER (PARTITION BY id ORDER BY score DESC, term ASC) AS rnk
        FROM scored)
      SELECT id, term, score, rnk FROM ranked WHERE rnk <= 3 ORDER BY id, rnk"""))

  /** The stateful streaming condensation run in batch mode (Spark executes
    * flatMapGroupsWithState with empty initial state): latest event per
    * user, hash-verified against a window oracle. (user_id, ts) is unique
    * in the events table, so the winner is deterministic. */
  private val q61 = QueryDef(
    "q61_stateful_condense",
    // The oracle emits epoch-nanos (`epoch_ns`), so the Spark side emits
    // micros*1000 regardless of vintage: under the nanos-long vintage that
    // micro-truncates (DuckDB truncates parquet TIMESTAMP(NANOS) to micros
    // too, and (user_id, micro-ts) stays unique so the per-key winner is
    // identical); under the timestamp[us] vintage it is exact.
    (s, dir) => {
      val latest = graft.streaming.StatefulCondense
        .latestPerKey(T(s, dir, "events"), Seq("user_id"), "ts")
      latest
        .withColumn("ts", tsMicros(latest) * lit(1000L))
        .orderBy(col("user_id"))
    },
    Some("""
      SELECT event_id, epoch_ns(ts) AS ts, user_id, event_type, value, props
      FROM events
      QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) = 1
      ORDER BY user_id"""))

  private val q62 = QueryDef(
    "q62_frame_sample",
    (s, dir) => graft.operators.Multimodal
      .sampleFrames(T(s, dir, "documents"), "doc_id", "text", everyK = 256)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame_offset").cast("long").as("frame_offset"))
      .orderBy(col("doc_id"), col("frame_idx")),
    Some("""
      SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
             CAST(f * 256 AS BIGINT) AS frame_offset
      FROM (SELECT doc_id,
              unnest(range(0, greatest((octet_length(encode(text)) - 1) // 256, 0) + 1)) AS f
            FROM documents)
      ORDER BY doc_id, frame_idx"""))

  /** As-of (point-in-time) join: every event is joined to the same user's
    * most recent click at-or-before it. Spark lacks the operator;
    * [[graft.operators.AsofJoin]] realizes it as union + running window
    * (one shuffle, no row blow-up) and DuckDB's native ASOF JOIN is the
    * oracle. Times are micro-normalized (DuckDB truncates parquet nanos;
    * (user_id, micro-ts) is unique, so order is preserved). */
  private val q63 = QueryDef(
    "q63_asof_join",
    (s, dir) => {
      val evRaw = T(s, dir, "events")
      val ev = evRaw
        .withColumn("ts_us", tsMicros(evRaw))
        .select(col("user_id"), col("ts_us"), col("event_id"), col("event_type"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts_us").as("click_ts"),
          col("event_id").as("click_event_id"))
      graft.operators.AsofJoin.asofJoin(ev, clicks, Seq("user_id"), "ts_us", "click_ts")
        .orderBy(col("user_id"), col("ts_us"))
    },
    Some("""
      SELECT l.user_id, epoch_us(l.ts) AS ts_us, l.event_id, l.event_type,
             epoch_us(r.ts) AS asof_click_ts, r.event_id AS asof_click_event_id
      FROM events l ASOF LEFT JOIN
        (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') r
        ON l.user_id = r.user_id AND l.ts >= r.ts
      ORDER BY l.user_id, ts_us"""))

  /** Bloom-prefiltered semi-join: identical results to the plain
    * semi-join (the sketch only prunes; the exact join removes false
    * positives), so the oracle is the unsketched formulation — same
    * pattern as the salted-join parity check (q47). */
  private val q64 = QueryDef(
    "q64_bloom_semi",
    (s, dir) => {
      val bigOrders = T(s, dir, "orders").where(col("o_totalprice") > 150000)
        .select(col("o_orderkey"))
      graft.operators.ScaleOps.bloomSemiJoin(
          T(s, dir, "lineitem"), bigOrders, "l_orderkey", "o_orderkey",
          expectedItems = 100000)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice")), 2).as("revenue"))
        .orderBy(col("l_returnflag"))
    },
    Some("""
      SELECT l_returnflag, count(*) AS n_lines,
             round(sum(l_extendedprice), 2) AS revenue
      FROM lineitem WHERE l_orderkey IN
        (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000)
      GROUP BY l_returnflag ORDER BY l_returnflag"""))

  private val q65 = QueryDef(
    "q65_int8_quantize",
    (s, dir) => graft.operators.TrainingData
      .int8QuantizationStats(T(s, dir, "embeddings"), "vec_id", "embedding")
      .orderBy(col("vec_id")),
    Some("""
      WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127
                 AS scale
        FROM embeddings)
      SELECT vec_id, scale,
             list_max(list_transform(embedding, x ->
               abs(CAST(x AS DOUBLE) -
                   floor(CAST(x AS DOUBLE) / scale + 0.5) * scale))) AS max_abs_err
      FROM s WHERE scale > 0 ORDER BY vec_id"""))

  /** Benchmark decontamination: docs < 100 play the benchmark suite,
    * the rest the training corpus; shared trigram counts per corpus doc.
    * The benchmark gram set is broadcast — the corpus-sized work is one
    * map-side explode + one combinable per-doc count aggregation. */
  private val q66 = QueryDef(
    "q66_contamination",
    (s, dir) => {
      val docs = T(s, dir, "documents")
      graft.operators.TrainingData.contamination(
          docs.where(col("doc_id") >= 100), docs.where(col("doc_id") < 100),
          "doc_id", "text", n = 3)
        .orderBy(col("id"))
    },
    Some("""
      WITH tok AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents),
      grams AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(tk) >= 3
                 THEN list_transform(range(1, len(tk) - 1),
                        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                 ELSE [array_to_string(tk, ' ')] END) AS gs
        FROM tok),
      bench AS (SELECT DISTINCT unnest(gs) AS g FROM grams WHERE doc_id < 100),
      corpus AS (SELECT doc_id AS id, unnest(gs) AS g FROM grams WHERE doc_id >= 100)
      SELECT c.id, count(*) AS n_grams,
             CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS shared_grams,
             CAST(sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS contamination
      FROM corpus c LEFT JOIN bench b ON c.g = b.g
      GROUP BY c.id ORDER BY c.id"""))

  private val q67 = QueryDef(
    "q67_hash_split",
    (s, dir) => graft.operators.TrainingData.hashSplit(
        T(s, dir, "documents"), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"), col("lang")),
    Some("""
      SELECT CASE WHEN (doc_id * 2654435761) % 1000000 < 800000 THEN 'train'
                  WHEN (doc_id * 2654435761) % 1000000 < 900000 THEN 'val'
                  ELSE 'test' END AS split,
             lang, count(*) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM documents GROUP BY 1, 2 ORDER BY split, lang"""))

  /** SCD2 from a change log: orders as the per-customer version stream;
    * one validity interval per order, open-ended for the latest. */
  private val q68 = QueryDef(
    "q68_scd2",
    (s, dir) => graft.operators.Scd2.fromChangeLog(
        T(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
            col("o_totalprice")),
        Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")), "o_orderdate")
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
        col("is_current"))
      .orderBy(col("o_custkey"), col("o_orderkey")),
    Some("""
      SELECT o_custkey, o_orderkey,
             strftime(o_orderdate, '%Y-%m-%d') AS valid_from,
             strftime(lead(o_orderdate) OVER w, '%Y-%m-%d') AS valid_to,
             CAST(CASE WHEN lead(o_orderdate) OVER w IS NULL THEN 1 ELSE 0 END
               AS BIGINT) AS is_current
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey"""))

  private val q69 = QueryDef(
    "q69_vocabulary",
    (s, dir) => graft.operators.TrainingData.vocabulary(
        T(s, dir, "documents"), "doc_id", "text", k = 30)
      .orderBy(col("rnk")),
    Some("""
      WITH terms AS (
        SELECT doc_id AS id,
               unnest(list_filter(string_split(lower(text), ' '), t -> len(t) > 0))
                 AS term
        FROM documents),
      stats AS (
        SELECT term, count(*) AS n_occurrences, count(DISTINCT id) AS n_docs
        FROM terms GROUP BY 1),
      ranked AS (
        SELECT term, n_occurrences, n_docs,
               row_number() OVER (ORDER BY n_occurrences DESC, term ASC) AS rnk
        FROM stats)
      SELECT term, n_occurrences, n_docs, rnk FROM ranked
      WHERE rnk <= 30 ORDER BY rnk"""))

  /** PII redaction over a contact string derived from customer columns
    * (the synthetic tables carry no real emails/phones, so the query
    * derives one deterministically, then masks it — both sides run the
    * identical RE2-compatible regexes). */
  private val q70 = QueryDef(
    "q70_pii_redact",
    (s, dir) => {
      val contact = concat(lit("contact user"), col("c_custkey").cast("string"),
        lit("@example.com ref "), (col("c_custkey") * 7919).cast("string"))
      T(s, dir, "customer")
        .select(col("c_custkey"), contact.as("contact"),
          TextFunctions.redactPii(contact).as("redacted"))
        .orderBy(col("c_custkey"))
    },
    Some("""
      WITH c AS (
        SELECT c_custkey,
               'contact user' || CAST(c_custkey AS VARCHAR) || '@example.com ref '
                 || CAST(c_custkey * 7919 AS VARCHAR) AS contact
        FROM customer)
      SELECT c_custkey, contact,
             regexp_replace(
               regexp_replace(contact,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '[0-9]{4,}', '<NUM>', 'g') AS redacted
      FROM c ORDER BY c_custkey"""))

  private val q71 = QueryDef(
    "q71_stratified_sample",
    (s, dir) => graft.operators.TrainingData.stratifiedSample(
        T(s, dir, "documents"), Seq("lang"), col("doc_id"),
        nPerStratum = 20)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy(col("doc_id")),
    Some("""
      SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (PARTITION BY lang
                 ORDER BY (doc_id * 2654435761) % 1000000, doc_id) AS rn
        FROM documents) WHERE rn <= 20
      ORDER BY doc_id"""))

  // ---------------------------------------------------------------------
  // GAB configuration matrix: week-start variants, snapshot cadences,
  // consumption views (reference `core/definitions.py:1433-1756`,
  // `core/gab_manager.py:305-891`, `core/gab_sql_generator.py:187-428`)
  // ---------------------------------------------------------------------

  /** Sunday-start WEEK cadence with DAY-reconciliation SNAPSHOT rows
    * (combination 2 of the reference matrix): one period-to-date row per
    * (status, week, day), dense through each week up to the data
    * horizon. The oracle mirrors the snapshot expansion with a
    * per-period day frame + range-bounded aggregation. */
  private val q72 = QueryDef(
    "q72_gab_week_sunday_snapshot",
    (s, dir) => {
      val src = T(s, dir, "orders")
        .select(col("o_orderdate").cast("date").as("d"),
          col("o_orderstatus").as("st"), col("o_totalprice").as("v"))
        .where(col("d").between("1995-01-01", "1995-12-31"))
      val uc = graft.algo.Gab.UseCase("q72", "d", Seq("st"),
        Seq(graft.algo.Gab.Metric("n", "count", "v"),
          graft.algo.Gab.Metric("total", "sum", "v")),
        Seq("WEEK"), weekStart = "SUNDAY", snapshots = Map("WEEK" -> "DAY"))
      graft.algo.Gab.buildInsights(src, uc)
        .select(col("st"), col("from_date").cast("string").as("from_date"),
          col("to_date").cast("string").as("to_date"),
          col("n"), round(col("total"), 2).as("total"))
        .orderBy(col("st"), col("from_date"), col("to_date"))
    },
    Some("""
      WITH src AS (
        SELECT CAST(o_orderdate AS DATE) AS d, o_orderstatus AS st, o_totalprice AS v
        FROM orders
        WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'),
      p AS (
        SELECT st,
               CAST(date_trunc('week', d + INTERVAL 1 DAY) - INTERVAL 1 DAY AS DATE)
                 AS from_date,
               d, count(v) AS cnt, sum(v) AS sv
        FROM src GROUP BY 1, 2, 3),
      h AS (SELECT max(d) AS horizon FROM src),
      frame AS (
        SELECT DISTINCT st, from_date, from_date + CAST(i AS INTEGER) AS snap
        FROM p, range(7) t(i)),
      joined AS (
        SELECT f.st, f.from_date, f.snap,
               sum(p2.cnt) AS n, sum(p2.sv) AS total, count(p2.d) AS present
        FROM frame f
        JOIN h ON f.snap <= h.horizon
        LEFT JOIN p p2 ON p2.st = f.st AND p2.from_date = f.from_date AND p2.d <= f.snap
        GROUP BY 1, 2, 3)
      SELECT st, CAST(from_date AS VARCHAR) AS from_date,
             CAST(snap + 1 AS VARCHAR) AS to_date,
             CAST(n AS BIGINT) AS n, round(total, 2) AS total
      FROM joined WHERE present > 0
      ORDER BY st, from_date, to_date"""))

  /** Consumption view over a mixed snapshot/non-snapshot use case: WEEK
    * snapshots union a plain MONTH cadence, with a rank-aligned
    * last-cadence lag, a 3..1-preceding window sum, and a derived metric
    * (the reference's `_generate_consumption_view_statement` both-branches
    * case). Integer metric (count) so every calculated value is exact. */
  private val q73 = QueryDef(
    "q73_gab_consumption_view",
    (s, dir) => {
      val src = T(s, dir, "orders")
        .select(col("o_orderdate").cast("date").as("d"),
          col("o_orderstatus").as("st"), col("o_totalprice").as("v"))
        .where(col("d").between("1995-01-01", "1995-12-31"))
      val uc = graft.algo.Gab.UseCase("q73", "d", Seq("st"),
        Seq(graft.algo.Gab.Metric("n", "count", "v")),
        Seq("WEEK", "MONTH"), weekStart = "SUNDAY",
        snapshots = Map("WEEK" -> "DAY"))
      val insights = graft.algo.Gab.buildInsights(src, uc)
      graft.algo.Gab.consumptionView(insights, uc,
        graft.algo.Gab.ViewMapping("vw_q73", Map("g" -> "st"), Seq("n"),
          lastCadence = Seq(graft.algo.Gab.CalcLag("n_last", "n")),
          windowFunctions = Seq(graft.algo.Gab.CalcWindow("n_sum_3_1", "n", "sum", 3, 1)),
          derived = Seq(graft.algo.Gab.DerivedMetric("n_x2", "n * 2"))))
        .select(col("cadence"), col("g"),
          col("from_date").cast("string").as("from_date"),
          col("to_date").cast("string").as("to_date"),
          col("n"), col("n_last").cast("long").as("n_last"),
          col("n_sum_3_1").cast("long").as("n_sum_3_1"),
          col("n_x2").cast("long").as("n_x2"))
        .orderBy(col("cadence"), col("g"), col("from_date"), col("to_date"))
    },
    Some("""
      WITH src AS (
        SELECT CAST(o_orderdate AS DATE) AS d, o_orderstatus AS st, o_totalprice AS v
        FROM orders
        WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-01-01' AND DATE '1995-12-31'),
      p AS (
        SELECT st,
               CAST(date_trunc('week', d + INTERVAL 1 DAY) - INTERVAL 1 DAY AS DATE)
                 AS from_date,
               d, count(v) AS cnt
        FROM src GROUP BY 1, 2, 3),
      h AS (SELECT max(d) AS horizon FROM src),
      frame AS (
        SELECT DISTINCT st, from_date, from_date + CAST(i AS INTEGER) AS snap
        FROM p, range(7) t(i)),
      week_snap AS (
        SELECT f.st, f.from_date, f.snap + 1 AS to_date,
               CAST(sum(p2.cnt) AS BIGINT) AS n, count(p2.d) AS present
        FROM frame f
        JOIN h ON f.snap <= h.horizon
        LEFT JOIN p p2 ON p2.st = f.st AND p2.from_date = f.from_date AND p2.d <= f.snap
        GROUP BY 1, 2, 3),
      month_plain AS (
        SELECT st, CAST(date_trunc('month', d) AS DATE) AS from_date,
               CAST(date_trunc('month', d) + INTERVAL 1 MONTH AS DATE) AS to_date,
               count(v) AS n
        FROM src GROUP BY 1, 2, 3),
      snap_rn AS (
        SELECT st, from_date, to_date, n,
               row_number() OVER (PARTITION BY st, from_date ORDER BY to_date) AS rn
        FROM week_snap WHERE present > 0),
      snap_calc AS (
        SELECT 'WEEK' AS cadence, st, from_date, to_date, n,
               COALESCE(lag(n, 1) OVER (PARTITION BY st, rn ORDER BY from_date), 0)
                 AS n_last,
               COALESCE(sum(n) OVER (PARTITION BY st, rn ORDER BY from_date
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 0) AS n_sum_3_1
        FROM snap_rn),
      plain_calc AS (
        SELECT 'MONTH' AS cadence, st, from_date, to_date, n,
               COALESCE(lag(n, 1) OVER (PARTITION BY st ORDER BY from_date), 0)
                 AS n_last,
               COALESCE(sum(n) OVER (PARTITION BY st ORDER BY from_date
                 ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 0) AS n_sum_3_1
        FROM month_plain),
      unioned AS (SELECT * FROM snap_calc UNION ALL SELECT * FROM plain_calc)
      SELECT cadence, st AS g, CAST(from_date AS VARCHAR) AS from_date,
             CAST(to_date AS VARCHAR) AS to_date, n,
             CAST(n_last AS BIGINT) AS n_last,
             CAST(n_sum_3_1 AS BIGINT) AS n_sum_3_1,
             CAST(n * 2 AS BIGINT) AS n_x2
      FROM unioned
      ORDER BY cadence, g, from_date, to_date"""))

  /** Gopher-rule quality gate: word-count/mean-length/alpha-ratio bounds
    * plus type-token ratio, as a map-side projection. */
  private val q74 = QueryDef(
    "q74_quality_flags",
    (s, dir) => graft.operators.TrainingData.qualityFlags(
        T(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents),
      m AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE)
                 / len(tk) AS mean_word_len,
               CAST(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))
                 AS DOUBLE) / len(tk) AS alpha_word_ratio,
               CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
                 AS distinct_word_ratio
        FROM toks)
      SELECT doc_id, n_words, mean_word_len, alpha_word_ratio, distinct_word_ratio,
             (n_words BETWEEN 50 AND 100000
              AND mean_word_len BETWEEN 3.0 AND 10.0
              AND alpha_word_ratio >= 0.8) AS passes_gopher
      FROM m ORDER BY doc_id"""))

  /** Within-doc repetition screens: top n-gram share + duplicated-gram
    * fraction over the full bigram multiset. */
  private val q75 = QueryDef(
    "q75_repetition_metrics",
    (s, dir) => graft.operators.TrainingData.repetitionMetrics(
        T(s, dir, "documents"), "doc_id", "text", n = 2)
      .orderBy(col("id")),
    Some("""
      WITH toks AS (
        SELECT doc_id AS id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents),
      grams AS (
        SELECT id, CASE WHEN len(tk) >= 2
                 THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                 ELSE [array_to_string(tk, ' ')] END AS gs
        FROM toks),
      ex AS (SELECT id, unnest(gs) AS g FROM grams),
      counts AS (SELECT id, g, count(*) AS c FROM ex GROUP BY 1, 2),
      byd AS (
        SELECT id, CAST(sum(c) AS BIGINT) AS total_grams,
               CAST(max(c) AS BIGINT) AS top_c, count(*) AS n_distinct
        FROM counts GROUP BY 1)
      SELECT id, total_grams,
             CAST(top_c AS DOUBLE) / total_grams AS top_gram_share,
             CAST(total_grams - n_distinct AS DOUBLE) / total_grams
               AS dup_gram_fraction
      FROM byd ORDER BY id"""))

  /** Per-JVM, per-data-dir persisted-artifact cache (q76/q80/q116
    * indexes): the artifact lives under a run-unique temp dir (no
    * overwrite-vs-read race between concurrent runs over the same data
    * dir) and is built ONCE per data dir, so a repeated invocation —
    * e.g. the bench's min-of-N passes — times the incremental check, not
    * the one-off corpus index build. */
  private final class DirCache[A](prefix: String)(
      build: (SparkSession, String, String) => A) {
    private lazy val base =
      java.nio.file.Files.createTempDirectory(prefix).toString
    private val built = scala.collection.concurrent.TrieMap.empty[String, A]
    def forDir(s: SparkSession, dir: String): A =
      built.getOrElseUpdate(dir,
        build(s, dir, s"$base/${dir.replaceAll("[^a-zA-Z0-9]", "_")}"))
  }
  private def buildMhIdx(s: SparkSession, dir: String, path: String) =
    graft.functions.MinhashIndex.build(
      T(s, dir, "documents").where(col("doc_id") >= 100),
      "doc_id", "text", path, threshold = 0.4)
  private val MhIdx = new DirCache("graft-mhidx-")(buildMhIdx)
  // q80's own copy: even with append=false it must never share q76's
  // index files, so an accidental future append cannot cross-contaminate.
  private val MhIdx80 = new DirCache("graft-mhidx80-")(buildMhIdx)

  /** The streaming-ingest dedup semantics (StreamingDedup.dedupBatch) as
    * ONE hash-verified batch query: docs >= 100 are the indexed corpus,
    * docs < 100 the arriving micro-batch — drop batch docs near-dupping
    * the corpus, then drop within-batch near-dups keep-lowest-id, return
    * the survivors that a streaming sink would receive. Runs with
    * `append = false` (its own index copy would otherwise mutate between
    * bench passes, and appended re-runs drain to EMPTY by the replay
    * contract — see the dedupBatch scaladoc), so every evaluation is the
    * pure batch semantics the oracle mirrors with the q31/q76 CTE
    * family. */
  private val q80 = QueryDef(
    "q80_stream_dedup_batch",
    (s, dir) => {
      val docs = T(s, dir, "documents")
      val idx = MhIdx80.forDir(s, dir)
      graft.streaming.StreamingDedup.dedupBatch(
          docs.where(col("doc_id") < 100).select("doc_id", "text"),
          "doc_id", "text", idx, _ => (), append = false)
        .select(col("doc_id")).orderBy(col("doc_id"))
    },
    Some(s"""
      WITH $minhashPairsCtes,
      corpus_dup AS (
        SELECT DISTINCT y.doc_id
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bucket = y.bucket
        JOIN sh sa ON sa.doc_id = y.doc_id
        JOIN sh sb ON sb.doc_id = x.doc_id
        WHERE x.doc_id >= 100 AND y.doc_id < 100
          AND CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) /
              (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
              >= 0.4),
      fresh AS (
        SELECT doc_id FROM documents WHERE doc_id < 100
          AND doc_id NOT IN (SELECT doc_id FROM corpus_dup)),
      dropped AS (
        SELECT DISTINCT id_b AS doc_id FROM pairs
        WHERE id_a IN (SELECT doc_id FROM fresh)
          AND id_b IN (SELECT doc_id FROM fresh))
      SELECT doc_id FROM fresh
      WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
      ORDER BY doc_id"""))

  /** Incremental dedup: docs >= 100 are the indexed corpus, docs < 100 an
    * arriving batch checked against the persisted signature index. Same
    * cross-engine arithmetic as q31, so the oracle mirrors the pipeline
    * with the pair condition batch-vs-corpus instead of a < b. */
  private val q76 = QueryDef(
    "q76_incremental_dedup",
    (s, dir) => {
      val docs = T(s, dir, "documents")
      val idx = MhIdx.forDir(s, dir)
      idx.checkBatch(docs.where(col("doc_id") < 100), "doc_id", "text")
        .orderBy(col("batch_id"), col("corpus_id"))
    },
    Some(s"""
      WITH $minhashPairsCtes,
      xpairs AS (
        SELECT x.doc_id AS corpus_id, y.doc_id AS batch_id
        FROM banded x JOIN banded y
          ON x.band = y.band AND x.bucket = y.bucket
        WHERE x.doc_id >= 100 AND y.doc_id < 100),
      xverified AS (
        SELECT DISTINCT p.batch_id, p.corpus_id,
               CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) AS inter,
               CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) AS szsum
        FROM xpairs p
        JOIN sh sa ON sa.doc_id = p.batch_id
        JOIN sh sb ON sb.doc_id = p.corpus_id)
      SELECT batch_id, corpus_id, inter / (szsum - inter) AS jaccard
      FROM xverified WHERE inter / (szsum - inter) >= 0.4
      ORDER BY batch_id, corpus_id"""))

  /** Capstone: the full training-data curation pipeline as ONE composed,
    * hash-verified query — Gopher quality gate + type-token repetition
    * screen -> benchmark decontamination (broadcast gram set) -> exact
    * dedup (fingerprint, keep-first) -> fixed-budget sequence packing.
    * Every stage is the library operator; the oracle mirrors the whole
    * composition stage by stage. */
  private val q77 = QueryDef(
    "q77_curation_pipeline",
    (s, dir) => {
      val docs = T(s, dir, "documents")
      val bench = docs.where(col("doc_id") < 100)
      val corpus = docs.where(col("doc_id") >= 100)
      // Quality-gate with the text kept in-row (ONE corpus scan, no
      // self-join), then stage the qualified corpus once: contamination,
      // the clean join, dedup and packing all read the checkpoint instead
      // of re-scanning + re-tokenizing `documents` — at 100 TB the
      // repeated corpus scan is the dominant cost of the pipeline.
      val flags = graft.operators.TrainingData.qualityFlags(
        corpus, "doc_id", "text", minWords = 30, maxWords = 100000,
        minMeanWordLen = 1.0, maxMeanWordLen = 20.0, minAlphaRatio = 0.8,
        keep = Seq("text"))
      val qualified = flags
        .where(col("passes_gopher") && col("distinct_word_ratio") >= 0.35)
        .select("doc_id", "text")
        // lazy (r20): every consumer (contamination, clean join, dedup,
        // packing) lives in the one final plan — the first action
        // materializes the qualified corpus without a dedicated job
        .localCheckpoint(false)
      val cont = graft.operators.TrainingData.contamination(
        qualified, bench, "doc_id", "text", n = 3)
      val clean = qualified.join(
        cont.where(col("contamination") < 0.2)
          .select(col("id").as("doc_id")), Seq("doc_id"))
      val deduped = clean
        .withColumn("__fp", TextFunctions.fingerprint(col("text")))
        .withColumn("__rn", row_number().over(
          Window.partitionBy(col("__fp")).orderBy(col("doc_id"))))
        .where(col("__rn") === 1).drop("__fp", "__rn")
      graft.operators.TrainingData.packSequences(
          deduped, "doc_id", "text", tokenBudget = 1024, nShards = 4)
        .orderBy(col("shard"), col("pack_id"))
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id >= 100),
      toks AS (
        SELECT doc_id, text,
               list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM corpus),
      flags AS (
        SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(tk, t -> len(t))) AS DOUBLE)
                 / len(tk) AS mean_len,
               CAST(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))
                 AS DOUBLE) / len(tk) AS alpha,
               CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr
        FROM toks),
      qualified AS (
        SELECT t.doc_id, t.text, t.tk FROM toks t JOIN flags f USING (doc_id)
        WHERE f.n_words BETWEEN 30 AND 100000
          AND f.mean_len BETWEEN 1.0 AND 20.0
          AND f.alpha >= 0.8 AND f.ttr >= 0.35),
      bgrams AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(tk) >= 3
                 THEN list_transform(range(1, len(tk) - 1),
                        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                 ELSE [array_to_string(tk, ' ')] END) AS gs
        FROM (SELECT doc_id,
                list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
              FROM documents WHERE doc_id < 100)),
      bset AS (SELECT DISTINCT unnest(gs) AS g FROM bgrams),
      cgrams AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(tk) >= 3
                 THEN list_transform(range(1, len(tk) - 1),
                        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                 ELSE [array_to_string(tk, ' ')] END) AS gs
        FROM qualified),
      cont AS (
        SELECT c.doc_id, count(*) AS n_grams,
               sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS shared
        FROM (SELECT doc_id, unnest(gs) AS g FROM cgrams) c
        LEFT JOIN bset b ON c.g = b.g
        GROUP BY c.doc_id),
      clean AS (
        SELECT q.doc_id, q.text, q.tk FROM qualified q JOIN cont c USING (doc_id)
        WHERE CAST(c.shared AS DOUBLE) / c.n_grams < 0.2),
      deduped AS (
        SELECT doc_id, tk FROM (
          SELECT doc_id, tk, row_number() OVER (
            PARTITION BY md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))
            ORDER BY doc_id) AS rn
          FROM clean) WHERE rn = 1),
      sized AS (
        SELECT doc_id, doc_id % 4 AS shard, CAST(len(tk) AS BIGINT) AS n_tokens
        FROM deduped),
      packed AS (
        SELECT doc_id, shard, n_tokens,
               COALESCE(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM sized)
      SELECT shard, CAST(cum_before // 1024 AS BIGINT) AS pack_id,
             count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
             min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM packed GROUP BY 1, 2 ORDER BY shard, pack_id"""))

  /** Round-6 DQ aggregate families (quantile/unique/mode/set) emitted as
    * a queryable profile over `customer` and hash-verified against a
    * DuckDB mirror of each aggregate — the oracle evidence that the
    * single-scan implementations compute the same numbers a SQL engine
    * does (reference gallery: `core/definitions.py:739-877`). */
  private val q81 = QueryDef(
    "q81_dq_profile",
    (s, dir) => {
      import graft.spec.{DQFunctionSpec, DQSpec}
      val spec = DQSpec("cust", "cust",
        dqFunctions = Seq(
          DQFunctionSpec("expect_column_unique_value_count_to_be_between",
            Map("column" -> "c_nationkey", "min_value" -> 1, "max_value" -> 25)),
          DQFunctionSpec("expect_column_proportion_of_unique_values_to_be_between",
            Map("column" -> "c_custkey", "min_value" -> 0.999)),
          DQFunctionSpec("expect_column_most_common_value_to_be_in_set",
            Map("column" -> "c_mktsegment",
              "value_set" -> Seq("BUILDING", "FURNITURE", "MACHINERY"))),
          DQFunctionSpec("expect_column_distinct_values_to_contain_set",
            Map("column" -> "c_mktsegment",
              "value_set" -> Seq("BUILDING", "AUTOMOBILE"))),
          DQFunctionSpec("expect_column_distinct_values_to_equal_set",
            Map("column" -> "c_mktsegment", "value_set" ->
              Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))),
          DQFunctionSpec("expect_column_median_to_be_between",
            // accuracy 1e7: rank error n/accuracy stays < 1 row for any
            // verify scale, so the approximate sketch is EXACT and
            // matches DuckDB's quantile_disc deterministically
            Map("column" -> "c_acctbal", "min_value" -> -1000.0,
              "max_value" -> 10000.0, "accuracy" -> 10000000)),
          // distribution family (round 9): population skew/kurtosis
          // bounds, KL divergence and chi-square goodness-of-fit against
          // the uniform 5-segment partition
          DQFunctionSpec("expect_column_kurtosis_to_be_between",
            Map("column" -> "c_acctbal", "min_value" -> -3.0, "max_value" -> 3.0)),
          DQFunctionSpec("expect_column_skew_to_be_between",
            Map("column" -> "c_acctbal", "min_value" -> -1.0, "max_value" -> 1.0)),
          DQFunctionSpec("expect_column_kl_divergence_to_be_less_than",
            Map("column" -> "c_mktsegment", "threshold" -> 0.1,
              "partition_object" -> Map(
                "values" -> Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
                  "HOUSEHOLD", "MACHINERY"),
                "weights" -> Seq(0.2, 0.2, 0.2, 0.2, 0.2)))),
          DQFunctionSpec("expect_column_chisquare_test_p_value_to_be_greater_than",
            Map("column" -> "c_mktsegment", "p" -> 0.05,
              "partition_object" -> Map(
                "values" -> Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
                  "HOUSEHOLD", "MACHINERY"),
                "weights" -> Seq(0.2, 0.2, 0.2, 0.2, 0.2))))),
        failOnError = false, maxPercentageFailure = Some(1.0))
      val result = graft.dq.DQEngine.run(s, T(s, dir, "customer"), spec)
      graft.dq.DQEngine.resultSinkDf(s, result, "cust")
        .select(col("expectation_type"), col("success"),
          col("element_count"), col("unexpected_count"),
          // the chi-square observed value is a p-value (incomplete-gamma
          // CDF) DuckDB cannot compute — the oracle mirrors SUCCESS via
          // the equivalent critical-value comparison and both sides null
          // the observed column for that row
          when(isnan(col("observed_value")) || col("expectation_type") ===
              "expect_column_chisquare_test_p_value_to_be_greater_than", lit(null))
            .otherwise(round(col("observed_value"), 6)).as("observed"))
        .orderBy(col("expectation_type"))
    },
    Some("""
      WITH counts AS (
        SELECT c_mktsegment AS v, count(*) AS n FROM customer GROUP BY 1),
      modes AS (SELECT v FROM counts WHERE n = (SELECT max(n) FROM counts)),
      seg_contain AS (
        SELECT count(DISTINCT c_mktsegment) AS present FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')),
      seg_equal AS (
        SELECT count(DISTINCT CASE WHEN c_mktsegment IN
                 ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')
                 THEN c_mktsegment END) AS present,
               count(DISTINCT CASE WHEN c_mktsegment NOT IN
                 ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')
                 THEN c_mktsegment END) AS extra
        FROM customer),
      uniq AS (SELECT count(DISTINCT c_nationkey) AS d FROM customer),
      prop AS (SELECT count(DISTINCT c_custkey) AS u, count(c_custkey) AS n
               FROM customer),
      med AS (SELECT quantile_disc(c_acctbal, 0.5) AS m FROM customer),
      seg_n AS (
        SELECT count(CASE WHEN c_mktsegment='AUTOMOBILE' THEN 1 END) AS n0,
               count(CASE WHEN c_mktsegment='BUILDING' THEN 1 END) AS n1,
               count(CASE WHEN c_mktsegment='FURNITURE' THEN 1 END) AS n2,
               count(CASE WHEN c_mktsegment='HOUSEHOLD' THEN 1 END) AS n3,
               count(CASE WHEN c_mktsegment='MACHINERY' THEN 1 END) AS n4
        FROM customer),
      -- KL/chi terms summed in the same left-to-right bucket order as the
      -- engine's fold, so the doubles are bit-identical
      dist AS (
        SELECT t,
          (CASE WHEN n0>0 THEN (CAST(n0 AS DOUBLE)/t)*ln((CAST(n0 AS DOUBLE)/t)/0.2) ELSE 0 END
           + CASE WHEN n1>0 THEN (CAST(n1 AS DOUBLE)/t)*ln((CAST(n1 AS DOUBLE)/t)/0.2) ELSE 0 END
           + CASE WHEN n2>0 THEN (CAST(n2 AS DOUBLE)/t)*ln((CAST(n2 AS DOUBLE)/t)/0.2) ELSE 0 END
           + CASE WHEN n3>0 THEN (CAST(n3 AS DOUBLE)/t)*ln((CAST(n3 AS DOUBLE)/t)/0.2) ELSE 0 END
           + CASE WHEN n4>0 THEN (CAST(n4 AS DOUBLE)/t)*ln((CAST(n4 AS DOUBLE)/t)/0.2) ELSE 0 END) AS kl,
          ((n0-0.2*t)*(n0-0.2*t)/(0.2*t) + (n1-0.2*t)*(n1-0.2*t)/(0.2*t)
           + (n2-0.2*t)*(n2-0.2*t)/(0.2*t) + (n3-0.2*t)*(n3-0.2*t)/(0.2*t)
           + (n4-0.2*t)*(n4-0.2*t)/(0.2*t)) AS chi
        FROM (SELECT *, n0+n1+n2+n3+n4 AS t FROM seg_n)),
      mu AS (SELECT avg(CAST(c_acctbal AS DOUBLE)) AS m, count(*) AS n FROM customer),
      -- population central moments (Spark's skewness/kurtosis are the
      -- population g1 / excess g2 statistics, not sample-corrected)
      mom AS (
        SELECT sum((c_acctbal-m)*(c_acctbal-m))/max(n) AS m2,
               sum((c_acctbal-m)*(c_acctbal-m)*(c_acctbal-m))/max(n) AS m3,
               sum((c_acctbal-m)*(c_acctbal-m)*(c_acctbal-m)*(c_acctbal-m))/max(n) AS m4
        FROM customer, mu)
      SELECT * FROM (
        SELECT 'expect_column_distinct_values_to_contain_set' AS expectation_type,
               present = 2 AS success, CAST(2 AS BIGINT) AS element_count,
               CAST(2 - present AS BIGINT) AS unexpected_count,
               CAST(NULL AS DOUBLE) AS observed
        FROM seg_contain
        UNION ALL
        SELECT 'expect_column_distinct_values_to_equal_set',
               (5 - present) + extra = 0, CAST(5 + extra AS BIGINT),
               CAST((5 - present) + extra AS BIGINT), CAST(NULL AS DOUBLE)
        FROM seg_equal
        UNION ALL
        SELECT 'expect_column_median_to_be_between',
               m BETWEEN -1000.0 AND 10000.0, CAST(1 AS BIGINT),
               CASE WHEN m BETWEEN -1000.0 AND 10000.0 THEN 0 ELSE 1 END,
               round(m, 6)
        FROM med
        UNION ALL
        SELECT 'expect_column_most_common_value_to_be_in_set',
               EXISTS (SELECT 1 FROM modes
                       WHERE v IN ('BUILDING','FURNITURE','MACHINERY')),
               (SELECT count(*) FROM modes),
               CASE WHEN EXISTS (SELECT 1 FROM modes
                 WHERE v IN ('BUILDING','FURNITURE','MACHINERY')) THEN 0 ELSE 1 END,
               CAST(NULL AS DOUBLE)
        UNION ALL
        SELECT 'expect_column_proportion_of_unique_values_to_be_between',
               CAST(u AS DOUBLE) / n >= 0.999, n,
               CASE WHEN CAST(u AS DOUBLE) / n >= 0.999 THEN 0 ELSE 1 END,
               round(CAST(u AS DOUBLE) / n, 6)
        FROM prop
        UNION ALL
        SELECT 'expect_column_unique_value_count_to_be_between',
               d BETWEEN 1 AND 25, d,
               CASE WHEN d BETWEEN 1 AND 25 THEN 0 ELSE 1 END,
               round(CAST(d AS DOUBLE), 6)
        FROM uniq
        UNION ALL
        -- success mirrored via the critical value chi2inv(0.95, 4):
        -- p > 0.05 <=> stat < 9.487729036781154; observed (the p-value)
        -- is nulled on both sides (no incomplete gamma in SQL)
        SELECT 'expect_column_chisquare_test_p_value_to_be_greater_than',
               chi < 9.487729036781154, t,
               CASE WHEN chi < 9.487729036781154 THEN 0 ELSE 1 END,
               CAST(NULL AS DOUBLE)
        FROM dist
        UNION ALL
        SELECT 'expect_column_kl_divergence_to_be_less_than',
               kl < 0.1, t, CASE WHEN kl < 0.1 THEN 0 ELSE 1 END,
               round(kl, 6)
        FROM dist
        UNION ALL
        SELECT 'expect_column_kurtosis_to_be_between',
               (m4/(m2*m2) - 3) BETWEEN -3.0 AND 3.0, CAST(1 AS BIGINT),
               CASE WHEN (m4/(m2*m2) - 3) BETWEEN -3.0 AND 3.0 THEN 0 ELSE 1 END,
               round(m4/(m2*m2) - 3, 6)
        FROM mom
        UNION ALL
        SELECT 'expect_column_skew_to_be_between',
               (m3/pow(m2, 1.5)) BETWEEN -1.0 AND 1.0, CAST(1 AS BIGINT),
               CASE WHEN (m3/pow(m2, 1.5)) BETWEEN -1.0 AND 1.0 THEN 0 ELSE 1 END,
               round(m3/pow(m2, 1.5), 6)
        FROM mom)
      ORDER BY expectation_type"""))

  /** Streaming vector-ingest batch semantics, hash-verified: one
    * micro-batch through [[graft.streaming.StreamingVectorIngest
    * .ingestBatch]] in its EXACT configuration (nProbe == nLists = full
    * probe, so the IVF screen and the within-batch pass reduce to exact
    * cosine — SQL-expressible), evaluated side-effect-free
    * (append = false). Survivors = batch vectors with no corpus match
    * >= t and not the higher id of a within-batch pair >= t — the
    * embedding analogue of q80's text-dedup contract. */
  private val q82 = QueryDef(
    "q82_vector_ingest_batch",
    (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") >= 20)
      val batch = emb.where(col("vec_id") < 20)
      val index = graft.functions.IvfIndex.build(
        corpus, "vec_id", "embedding", nLists = 4, trainSampleSize = 10000)
      val (fresh, _) = graft.streaming.StreamingVectorIngest.ingestBatch(
        batch, "vec_id", "embedding", index,
        indexLocation = "", sink = _ => (),
        dedupThreshold = Some(0.35), nProbe = 4, append = false)
      fresh.select(col("vec_id")).orderBy(col("vec_id"))
    },
    Some(s"""
      WITH corpus AS (
        SELECT vec_id, embedding AS cvec FROM embeddings WHERE vec_id >= 20),
      batch AS (
        SELECT vec_id, embedding AS qvec FROM embeddings WHERE vec_id < 20),
      vs_corpus AS (
        SELECT DISTINCT b.vec_id
        FROM batch b JOIN corpus c ON $cosineSql >= 0.35),
      fresh AS (
        SELECT vec_id, qvec FROM batch
        WHERE vec_id NOT IN (SELECT vec_id FROM vs_corpus)),
      inner_dups AS (
        SELECT DISTINCT y.vec_id
        FROM (SELECT vec_id, qvec FROM fresh) x
        JOIN (SELECT vec_id, qvec AS cvec FROM fresh) y
          ON x.vec_id < y.vec_id
         AND list_sum(list_transform(list_zip(x.qvec, y.cvec),
               p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(x.qvec,
                  v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
                * sqrt(list_sum(list_transform(y.cvec,
                  v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) >= 0.35)
      SELECT vec_id FROM fresh
      WHERE vec_id NOT IN (SELECT vec_id FROM inner_dups)
      ORDER BY vec_id"""))

  /** Sliding-window chunking of long documents (chunk 64 tokens,
    * overlap 16): the bounded-context preparation step, hash-verified
    * token-for-token against a DuckDB list-slicing mirror. */
  private val q83 = QueryDef(
    "q83_chunk_documents",
    (s, dir) => graft.operators.TrainingData.chunkDocuments(
        T(s, dir, "documents").where(col("doc_id") < 200),
        "doc_id", "text", chunkTokens = 64, overlapTokens = 16)
      .orderBy(col("doc_id"), col("chunk_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents WHERE doc_id < 200),
      sized AS (SELECT doc_id, tk, len(tk) AS n FROM toks),
      counted AS (
        SELECT doc_id, tk, n,
               greatest(1, CAST(ceil((n - 16) / 48.0) AS BIGINT)) AS chunks
        FROM sized),
      exploded AS (
        SELECT doc_id, tk, n, unnest(range(chunks)) AS chunk_id FROM counted)
      SELECT doc_id, chunk_id,
             array_to_string(tk[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ')
               AS chunk_text,
             least(64, n - chunk_id * 48) AS n_tokens
      FROM exploded ORDER BY doc_id, chunk_id"""))

  private val q84 = QueryDef(
    "q84_image_decode",
    (s, dir) => {
      import s.implicits._
      // real PNG encode -> javax.imageio decode, oracle-checked: the pixel
      // field is ImageCodec.formulaRgb, which the SQL below recomputes
      // exactly (PNG is lossless, so decoded channel sums equal the
      // generative sums bit-for-bit)
      val imgs = T(s, dir, "documents").where(col("doc_id") < 300)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = 8 + (id % 24).toInt
          val h = 8 + ((id * 3) % 24).toInt
          (id, graft.operators.ImageCodec.encodePng(
            w, h, graft.operators.ImageCodec.formulaRgb(id)))
        }.toDF("doc_id", "payload")
      graft.operators.Multimodal.extractFeatures(imgs, "doc_id", "payload")
        .select(col("id").as("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sum_r"), col("sum_g"), col("sum_b"),
          (col("sum_r").cast("double") / (col("width") * col("height"))).as("mean_r"),
          (col("sum_g").cast("double") / (col("width") * col("height"))).as("mean_g"),
          (col("sum_b").cast("double") / (col("width") * col("height"))).as("mean_b"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id * 3) % 24 AS h
        FROM documents WHERE doc_id < 300),
      px AS (
        SELECT doc_id, w, h,
               ((doc_id + 1) * (x + 3) * (y + 7) + (doc_id // 5) * (x + 2 * y)) % 256 AS r,
               ((doc_id + 2) * (x + 5) * (y + 11) + (doc_id // 7) * (2 * x + y)) % 256 AS g,
               ((doc_id + 3) * (x + 7) * (y + 13) + (doc_id // 3) * (x + y)) % 256 AS b
        FROM docs, range(0, 32) tx(x), range(0, 32) ty(y)
        WHERE x < w AND y < h)
      SELECT doc_id,
             CAST(max(w) AS BIGINT) AS width,
             CAST(max(h) AS BIGINT) AS height,
             CAST(sum(r) AS BIGINT) AS sum_r,
             CAST(sum(g) AS BIGINT) AS sum_g,
             CAST(sum(b) AS BIGINT) AS sum_b,
             CAST(sum(r) AS DOUBLE) / (max(w) * max(h)) AS mean_r,
             CAST(sum(g) AS DOUBLE) / (max(w) * max(h)) AS mean_g,
             CAST(sum(b) AS DOUBLE) / (max(w) * max(h)) AS mean_b
      FROM px GROUP BY doc_id ORDER BY doc_id"""))

  private val q85 = QueryDef(
    "q85_image_neardup",
    (s, dir) => {
      import s.implicits._
      // 300 noise-field PNGs; every id % 10 == 0 gets a sibling (id+1)
      // identical except a bump confined to one dHash grid cell, so the
      // sibling's hash is within 2 bits and everything else is ~32 bits
      // apart (P[random 64-bit pair <= 3] ~ 2e-15) — the expected pair set
      // is exactly the planted siblings, derivable from id arithmetic
      val imgs = T(s, dir, "documents").where(col("doc_id") < 300)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val baseId = if (id % 10 == 1) id - 1 else id
          (id, graft.operators.ImageCodec.fixtureImage(
            baseId, 32, 24, perturbTopLeft = id % 10 == 1))
        }.toDF("doc_id", "payload")
      graft.operators.Multimodal
        .imageNearDuplicates(imgs, "doc_id", "payload", maxDistance = 3)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"))
    },
    Some("""
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 10 = 0 AND b.doc_id < 300
      ORDER BY id_a"""))

  private val q86 = QueryDef(
    "q86_repeated_spans",
    (s, dir) => DedupFunctions.repeatedSpanStats(
        T(s, dir, "documents"), "doc_id", "text", k = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents),
      wins AS (
        SELECT doc_id, unnest(CASE WHEN len(tk) >= 8
          THEN list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))
          ELSE [array_to_string(tk, ' ')] END) AS w
        FROM toks),
      cnt AS (SELECT w, count(*) AS c FROM wins GROUP BY w)
      SELECT doc_id,
             count(*) AS n_windows,
             CAST(sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows,
             sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE) AS dup_frac,
             CAST(max(c) AS BIGINT) AS max_repeat
      FROM wins JOIN cnt USING (w)
      GROUP BY doc_id ORDER BY doc_id"""))

  private val q87 = QueryDef(
    "q87_top_spans",
    (s, dir) => DedupFunctions.topRepeatedSpans(
        T(s, dir, "documents"), "doc_id", "text", k = 8, topN = 20),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents),
      wins AS (
        SELECT doc_id, unnest(CASE WHEN len(tk) >= 8
          THEN list_transform(range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))
          ELSE [array_to_string(tk, ' ')] END) AS w
        FROM toks),
      per AS (SELECT w AS span, doc_id, count(*) AS c FROM wins GROUP BY w, doc_id)
      SELECT span, CAST(sum(c) AS BIGINT) AS n_occ, CAST(count(*) AS BIGINT) AS n_docs
      FROM per GROUP BY span HAVING sum(c) >= 2
      ORDER BY n_occ DESC, span LIMIT 20"""))

  private val q88 = QueryDef(
    "q88_remove_spans",
    (s, dir) => DedupFunctions.removeRepeatedSpans(
        T(s, dir, "documents"), "doc_id", "text", k = 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents),
      wins AS (
        SELECT doc_id, u.pos AS pos, u.w AS w FROM (
          SELECT doc_id, unnest(CASE WHEN len(tk) >= 8
            THEN list_transform(range(1, len(tk) - 6), i -> {'pos': i, 'w': array_to_string(tk[i:i+7], ' ')})
            ELSE [{'pos': CAST(1 AS BIGINT), 'w': array_to_string(tk, ' ')}] END) AS u
          FROM toks)),
      marked AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY w) AS c,
               row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
        FROM wins),
      drops AS (
        SELECT doc_id, list_sort(list(pos)) AS ps FROM marked
        WHERE c >= 2 AND rn >= 2 GROUP BY doc_id),
      fin AS (
        SELECT t.doc_id, tk,
          list_filter(tk, (tok, ti) -> len(list_filter(coalesce(ps, CAST([] AS BIGINT[])),
            s -> ti >= s AND ti < s + least(8, len(tk)))) = 0) AS kept
        FROM toks t LEFT JOIN drops d USING (doc_id))
      SELECT doc_id,
             coalesce(array_to_string(kept, ' '), '') AS clean_text,
             CAST(len(tk) - len(kept) AS BIGINT) AS n_removed
      FROM fin ORDER BY doc_id"""))

  /** Z-order curve key (reference `terminators/dataset_optimizer.py:
    * 115-143` `optimize_zorder_col_list`): the Morton interleave that
    * [[graft.maintain.ZOrder]] clusters rewrites on, hash-verified
    * against the identical magic-mask arithmetic in DuckDB. Pure
    * whole-stage-codegen column math — the layout rewrite's key is as
    * cheap as a projection at any scale. */
  private val q89 = QueryDef(
    "q89_zorder_key",
    (s, dir) => {
      val xa = col("o_custkey") % lit(65536L)
      val xb = col("o_orderkey") % lit(65536L)
      T(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          graft.maintain.ZOrder.zValue(Seq(xa, xb)).as("zval"))
        .orderBy(col("zval"), col("o_orderkey"))
        .limit(100)
    },
    Some("""
      WITH t0 AS (
        SELECT o_orderkey, o_custkey,
               o_custkey % 65536 AS a, o_orderkey % 65536 AS b
        FROM orders),
      t1 AS (SELECT *, ((a | (a << 8)) & 16711935) AS a1,
                       ((b | (b << 8)) & 16711935) AS b1 FROM t0),
      t2 AS (SELECT *, ((a1 | (a1 << 4)) & 252645135) AS a2,
                       ((b1 | (b1 << 4)) & 252645135) AS b2 FROM t1),
      t3 AS (SELECT *, ((a2 | (a2 << 2)) & 858993459) AS a3,
                       ((b2 | (b2 << 2)) & 858993459) AS b3 FROM t2),
      t4 AS (SELECT *, ((a3 | (a3 << 1)) & 1431655765) AS a4,
                       ((b3 | (b3 << 1)) & 1431655765) AS b4 FROM t3)
      SELECT o_orderkey, o_custkey, (a4 | (b4 << 1)) AS zval
      FROM t4 ORDER BY zval, o_orderkey LIMIT 100"""))

  /** Corpus-unigram LM perplexity scores (CCNet-style quality filtering,
    * Wenzek et al. 2020): token count table → score join → per-doc mean
    * NLL. Exercises [[TextFunctions.unigramNll]]; the DuckDB oracle
    * rebuilds the same unigram model. */
  private val q90 = QueryDef(
    "q90_lm_perplexity",
    (s, dir) => TextFunctions.unigramNll(
        T(s, dir, "documents"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
        FROM documents),
      cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cnt)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             round(-avg(ln(CAST(c AS DOUBLE) / n)), 4) AS nll
      FROM toks JOIN cnt USING (tok), tot
      GROUP BY doc_id ORDER BY doc_id"""))

  /** SemDeDup semantic dedup (Abbas et al. 2023) over deterministic
    * hyperplane cells: centroid per cell, keep the least-central member
    * of every near-duplicate relation. The oracle rebuilds cells,
    * centroids and the dominance rule in SQL, so the keep/drop set is
    * hash-verified cross-engine. */
  private val q91 = QueryDef(
    "q91_semantic_dedup",
    (s, dir) => SimilarityFunctions.semanticDedup(
        T(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, numBits = 8, simThreshold = 0.3)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("vec_id")),
    Some(s"""
      WITH ${lshSigCtes(8, 64)},
      memb AS (SELECT vec_id, embedding, sig AS cell FROM sigs),
      cent AS (
        SELECT cell, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS cv
        FROM memb, range(1, 65) r(i) GROUP BY cell, i),
      cvecs AS (SELECT cell, list(cv ORDER BY i) AS cvec FROM cent GROUP BY cell),
      csim AS (
        SELECT m.vec_id, m.cell,
               round(
                 list_sum(list_transform(list_zip(m.embedding, c.cvec),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                 / (sqrt(list_sum(list_transform(m.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                    * sqrt(list_sum(list_transform(c.cvec,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                 6) AS centroid_sim
        FROM memb m JOIN cvecs c USING (cell)),
      nbr AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM memb a JOIN memb b
          ON a.cell = b.cell AND a.vec_id <> b.vec_id
        WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
                p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
              / (sqrt(list_sum(list_transform(a.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(b.embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
              >= 0.3),
      dropped AS (
        SELECT DISTINCT n.id_a AS vec_id
        FROM nbr n
        JOIN csim sa ON sa.vec_id = n.id_a
        JOIN csim sb ON sb.vec_id = n.id_b
        WHERE sb.centroid_sim < sa.centroid_sim
           OR (sb.centroid_sim = sa.centroid_sim AND n.id_b < n.id_a))
      SELECT vec_id, cell, centroid_sim FROM csim
      WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
      ORDER BY vec_id"""))

  /** Weighted sampling without replacement (Efraimidis-Spirakis keys),
    * k per language, weight = document length. Exercises
    * [[graft.operators.TrainingData.weightedSample]] — the k-bounded
    * aggregator path — against a rank-window oracle over the identical
    * md5-derived keys. */
  private val q92 = QueryDef(
    "q92_weighted_sample",
    (s, dir) => graft.operators.TrainingData.weightedSample(
        T(s, dir, "documents"), "doc_id", "lang", col("n_chars"), k = 10)
      .withColumnRenamed("strata", "lang")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("lang"), col("rnk")),
    Some("""
      WITH scored AS (
        SELECT lang, doc_id,
               ln((CAST(('0x' || substring(md5('ws-' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
                  / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS es_key
        FROM documents),
      r AS (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rnk
        FROM scored)
      SELECT lang, doc_id, CAST(rnk AS BIGINT) AS rnk
      FROM r WHERE rnk <= 10 ORDER BY lang, rnk"""))

  /** Temperature-scaled source mixing rates (count^alpha rebalancing,
    * Conneau et al. 2020): one count aggregation, driver-free rate
    * derivation. Exercises
    * [[graft.operators.TrainingData.temperatureMixRates]]. */
  private val q93 = QueryDef(
    "q93_temperature_mix",
    (s, dir) => graft.operators.TrainingData.temperatureMixRates(
        T(s, dir, "documents"), "source", alpha = 0.5, nTarget = 300L)
      .select(col("source"), col("n_rows"),
        round(col("weight"), 6).as("weight"),
        round(col("rate"), 6).as("rate"))
      .orderBy(col("source")),
    Some("""
      WITH c AS (
        SELECT source, count(*) AS n_rows FROM documents GROUP BY source),
      t AS (SELECT sum(pow(CAST(n_rows AS DOUBLE), 0.5)) AS tot FROM c)
      SELECT source, n_rows,
             round(pow(CAST(n_rows AS DOUBLE), 0.5) / tot, 6) AS weight,
             round(least(1.0, 300.0 * (pow(CAST(n_rows AS DOUBLE), 0.5) / tot)
                              / n_rows), 6) AS rate
      FROM c, t ORDER BY source"""))

  /** Chained CTEs replaying [[graft.functions.Kernels.hilbertIndex]]'s
    * quadrant-rotation steps in SQL, one per bit level: each stage
    * computes the next (x, y, d) from the previous stage's columns —
    * linear SQL, where the equivalent Column tree would explode
    * exponentially under projection collapse. */
  private def hilbertCtes(bits: Int): String = {
    val n = 1 << bits
    val steps = (bits - 1 to 0 by -1).map(1 << _)
    val init =
      s"""h0 AS (
        SELECT o_orderkey, o_custkey,
               o_custkey % $n AS x, o_orderkey % $n AS y,
               CAST(0 AS BIGINT) AS d
        FROM orders)"""
    val chain = steps.zipWithIndex.map { case (s, i) =>
      s"""h${i + 1} AS (
        SELECT o_orderkey, o_custkey,
          CASE WHEN (y & $s) = 0
               THEN (CASE WHEN (x & $s) > 0 THEN ${n - 1} - y ELSE y END)
               ELSE x END AS x,
          CASE WHEN (y & $s) = 0
               THEN (CASE WHEN (x & $s) > 0 THEN ${n - 1} - x ELSE x END)
               ELSE y END AS y,
          d + $s * $s * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
                            (CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)) AS d
        FROM h$i)"""
    }
    (init +: chain).mkString(",\n      ")
  }

  /** Hilbert curve key (the locality-optimal layout curve behind
    * `ZOrder.rewrite(..., curve = "hilbert")`), hash-verified against the
    * step-by-step SQL replay. */
  private val q94 = QueryDef(
    "q94_hilbert_key",
    (s, dir) => T(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        graft.functions.Kernels.hilbertIndex(
          col("o_custkey") % lit(256L), col("o_orderkey") % lit(256L),
          bits = 8).as("hkey"))
      .orderBy(col("hkey"), col("o_orderkey"))
      .limit(100),
    Some(s"""
      WITH ${hilbertCtes(8)}
      SELECT o_orderkey, o_custkey, d AS hkey
      FROM h8 ORDER BY hkey, o_orderkey LIMIT 100"""))

  /** CCNet head/middle/tail perplexity buckets per language (rank-based
    * terciles over the q90 scores). Exercises
    * [[TextFunctions.perplexityBuckets]]. */
  private val q95 = QueryDef(
    "q95_ccnet_buckets",
    (s, dir) => TextFunctions.perplexityBuckets(
        T(s, dir, "documents"), "doc_id", "lang", "text", buckets = 3)
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("strata", "lang")
      .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
        FROM documents),
      cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cnt),
      sc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               round(-avg(ln(CAST(c AS DOUBLE) / n)), 4) AS nll
        FROM toks JOIN cnt USING (tok), tot
        GROUP BY doc_id)
      SELECT d.doc_id, d.lang, sc.n_tokens, sc.nll,
             CAST(ntile(3) OVER (PARTITION BY d.lang
                                 ORDER BY sc.nll, d.doc_id) AS BIGINT) AS bucket
      FROM sc JOIN documents d USING (doc_id)
      ORDER BY d.doc_id"""))

  /** Asymmetric n-gram containment pairs (the excerpt detector; ordered,
    * inter / |grams(A)|). Exercises
    * [[DedupFunctions.ngramContainmentPairs]] against the q33-style
    * inverted-index oracle. */
  private val q96 = QueryDef(
    "q96_containment",
    (s, dir) => DedupFunctions.ngramContainmentPairs(
        T(s, dir, "documents").where(col("doc_id") < 300), "doc_id", "text",
        n = 2, threshold = 0.3)
      .select(col("id_a"), col("id_b"), col("containment"))
      .orderBy(col("id_a"), col("id_b")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents WHERE doc_id < 300),
      grams AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(tk) >= 2
                 THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
                 ELSE [array_to_string(tk, ' ')] END) AS gs
        FROM toks),
      sized AS (SELECT doc_id, gs, len(gs) AS n_grams FROM grams),
      exploded AS (SELECT doc_id, n_grams, unnest(gs) AS g FROM sized)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             count(*) / CAST(a.n_grams AS DOUBLE) AS containment
      FROM exploded a JOIN exploded b ON a.g = b.g AND a.doc_id <> b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.n_grams
      HAVING count(*) / CAST(a.n_grams AS DOUBLE) >= 0.3
      ORDER BY id_a, id_b"""))

  /** Bigram conditional LM scores — the order-2 extension of q90.
    * Exercises [[TextFunctions.bigramNll]]. */
  private val q97 = QueryDef(
    "q97_bigram_lm",
    (s, dir) => TextFunctions.bigramNll(
        T(s, dir, "documents"), "doc_id", "text")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents),
      flat AS (
        SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(tk)),
                   i -> {'w1': tk[i], 'w2': tk[i+1]})) AS u
          FROM toks WHERE len(tk) >= 2)),
      c2 AS (SELECT w1, w2, count(*) AS c2 FROM flat GROUP BY w1, w2),
      c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1)
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(-avg(ln(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE))), 4) AS nll
      FROM flat JOIN c2 USING (w1, w2) JOIN c1 USING (w1)
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Curation pipeline v2 — the round's curation stages composed end to
    * end: exact dedup (keep lowest id per text) → corpus LM rebuilt over
    * the SURVIVORS → CCNet head+middle filter → weighted sample (5 per
    * language, weight = length). Every stage feeds the next, so the
    * oracle must replay the whole chain — a single hash compare locks the
    * full integration. */
  private val q98 = QueryDef(
    "q98_curation_v2",
    (s, dir) => {
      val docs = T(s, dir, "documents")
      // Materialized: the survivor set feeds the LM build, the bucket
      // join and the sampling stage — without this the dedup window
      // re-runs per consumer.
      val surv = DedupFunctions.dedupExact(docs, Seq("text"), Seq(col("doc_id")))
        // lazy (r20): the LM build's corpus-total job is the first action
        // and materializes the survivor blocks in the same pass
        .localCheckpoint(false)
      val keep = TextFunctions.perplexityBuckets(surv, "doc_id", "lang", "text")
        .where(col("bucket") <= 2).select(col("id").as("doc_id"))
      val filtered = surv.join(keep, Seq("doc_id"))
      graft.operators.TrainingData.weightedSample(
          filtered, "doc_id", "lang", col("n_chars"), k = 5)
        .withColumnRenamed("strata", "lang")
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("lang"), col("rnk"))
    },
    Some("""
      WITH keep1 AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
      surv AS (SELECT d.* FROM documents d JOIN keep1 USING (doc_id)),
      toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
        FROM surv),
      cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cnt),
      sc AS (
        SELECT doc_id, round(-avg(ln(CAST(c AS DOUBLE) / n)), 4) AS nll
        FROM toks JOIN cnt USING (tok), tot GROUP BY doc_id),
      bucketed AS (
        SELECT s.doc_id, d.lang, d.n_chars,
               ntile(3) OVER (PARTITION BY d.lang ORDER BY s.nll, s.doc_id) AS bucket
        FROM sc s JOIN surv d USING (doc_id)),
      keep2 AS (SELECT * FROM bucketed WHERE bucket <= 2),
      scored AS (
        SELECT lang, doc_id,
               ln((CAST(('0x' || substring(md5('ws-' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
                  / 1152921504606846976.0) / CAST(n_chars AS DOUBLE) AS es_key
        FROM keep2),
      r AS (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang ORDER BY es_key DESC, doc_id) AS rnk
        FROM scored)
      SELECT lang, doc_id, CAST(rnk AS BIGINT) AS rnk
      FROM r WHERE rnk <= 5 ORDER BY lang, rnk"""))

  /** Per-source KL divergence from the corpus unigram distribution (the
    * mixture diagnostic). Exercises [[TextFunctions.sourceDivergence]]. */
  private val q99 = QueryDef(
    "q99_source_divergence",
    (s, dir) => TextFunctions.sourceDivergence(
        T(s, dir, "documents"), "source", "text")
      .orderBy(col("source")),
    Some("""
      WITH st AS (
        SELECT source, tok, count(*) AS cs FROM (
          SELECT source,
                 unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
          FROM documents)
        GROUP BY source, tok),
      corpus AS (SELECT tok, CAST(sum(cs) AS BIGINT) AS cc FROM st GROUP BY tok),
      totals AS (SELECT source, CAST(sum(cs) AS BIGINT) AS ns FROM st GROUP BY source),
      n AS (SELECT CAST(sum(cc) AS DOUBLE) AS n FROM corpus)
      SELECT source, CAST(max(ns) AS BIGINT) AS n_tokens,
             round(sum((CAST(cs AS DOUBLE) / ns) *
                       ln((CAST(cs AS DOUBLE) / ns) / (CAST(cc AS DOUBLE) / n))), 4) AS kl
      FROM st JOIN corpus USING (tok) JOIN totals USING (source), n
      GROUP BY source ORDER BY source"""))

  /** Per-label embedding centroids and their pairwise cosine matrix —
    * the embedding-space mixture diagnostic (which label clusters
    * overlap?). Centroid aggregation is the q91 shape; the label x label
    * theta join is over the tiny centroid table (10 labels here, always
    * #labels rows), the legitimate broadcast-nested-loop case. */
  private val q100 = QueryDef(
    "q100_label_centroids",
    (s, dir) => {
      // Centroids as ONE label-keyed hash aggregate with 64 avg columns
      // (the r17 semanticDedup shape, applied here in r19): the
      // posexplode/(label, pos) formulation shuffled a dim-fold row
      // stream and needed a second collect_list aggregation to
      // reassemble. Same values averaged, order-insensitive after the
      // 6-decimal round (the tolerance the cross-engine oracle already
      // relies on).
      val cavgs = (0 until 64).map(i =>
        round(avg(col("embedding")(i).cast("double")), 6).as(s"__c$i"))
      val cent = graft.util.PlanBarrier.fence(T(s, dir, "embeddings")
        .groupBy(col("label"))
        .agg(cavgs.head, cavgs.tail: _*)
        .select(col("label"),
          array((0 until 64).map(i => col(s"__c$i")): _*).as("cvec")))
        // lazy (r20): the self-join's broadcast build is the first action
        // and materializes the centroid table in the same job
        .localCheckpoint(false)
      val a = cent.select(col("label").cast("long").as("label_a"), col("cvec").as("va"))
      val b = cent.select(col("label").cast("long").as("label_b"), col("cvec").as("vb"))
      a.join(b, col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          round(SimilarityFunctions.dot(col("va"), col("vb")) /
            (SimilarityFunctions.l2Norm(col("va")) *
             SimilarityFunctions.l2Norm(col("vb"))), 6).as("cos"))
        .orderBy(col("label_a"), col("label_b"))
    },
    Some("""
      WITH cent AS (
        SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS cv
        FROM embeddings, range(1, 65) r(i) GROUP BY label, i),
      cvecs AS (SELECT label, list(cv ORDER BY i) AS cvec FROM cent GROUP BY label)
      SELECT CAST(a.label AS BIGINT) AS label_a, CAST(b.label AS BIGINT) AS label_b,
             round(list_sum(list_transform(list_zip(a.cvec, b.cvec),
                     p -> p[1] * p[2]))
                   / (sqrt(list_sum(list_transform(a.cvec, x -> x * x)))
                      * sqrt(list_sum(list_transform(b.cvec, x -> x * x)))), 6) AS cos
      FROM cvecs a JOIN cvecs b ON a.label < b.label
      ORDER BY label_a, label_b"""))

  /** Word-level vocab encoding (token → frequency-ranked id, OOV = 0).
    * Exercises [[TextFunctions.vocabEncode]]. */
  private val q101 = QueryDef(
    "q101_vocab_encode",
    (s, dir) => TextFunctions.vocabEncode(
        T(s, dir, "documents"), "doc_id", "text", vocabSize = 40, maxTokens = 16)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, u.tok AS tok, u.pos AS pos FROM (
          SELECT doc_id,
                 unnest(list_transform(
                   list_filter(string_split(text, ' '), t -> len(t) > 0),
                   (t, i) -> {'tok': t, 'pos': i})) AS u
          FROM documents)),
      cnt AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
      vocab AS (
        SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS vid
        FROM cnt ORDER BY c DESC, tok LIMIT 40),
      enc AS (
        SELECT t.doc_id, t.pos, coalesce(v.vid, 0) AS vid
        FROM toks t LEFT JOIN vocab v USING (tok))
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             array_to_string(list(CAST(vid AS VARCHAR) ORDER BY pos)[1:16], '-') AS ids
      FROM enc GROUP BY doc_id ORDER BY doc_id"""))

  /** Pivot: per-source document counts spread across language columns
    * (`RelationalGroupedDataset.pivot` with an explicit value list —
    * the deterministic, no-discovery-scan form; the oracle mirrors with
    * portable conditional sums). */
  private val q102 = QueryDef(
    "q102_pivot",
    (s, dir) => T(s, dir, "documents")
      .groupBy(col("source"))
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("source")),
    Some("""
      SELECT source,
             CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
             CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
             CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
             CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
      FROM documents GROUP BY source ORDER BY source"""))

  /** Unpivot/melt (`Dataset.unpivot`, the inverse of q102): wide metric
    * columns to (key, metric, value) rows; oracle = UNION ALL. */
  private val q103 = QueryDef(
    "q103_unpivot",
    (s, dir) => T(s, dir, "lineitem")
      .where(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("l_quantity"),
        col("l_discount").cast("double").as("l_discount"),
        col("l_tax").cast("double").as("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("metric")),
    Some("""
      WITH base AS (
        SELECT l_orderkey, l_linenumber,
               CAST(l_quantity AS DOUBLE) AS l_quantity,
               CAST(l_discount AS DOUBLE) AS l_discount,
               CAST(l_tax AS DOUBLE) AS l_tax
        FROM lineitem WHERE l_orderkey < 100)
      SELECT l_orderkey, l_linenumber, metric, value FROM (
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM base
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM base
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM base)
      ORDER BY l_orderkey, l_linenumber, metric"""))

  /** GROUPING SETS (completes the rollup q46 / cube q52 family with the
    * arbitrary-sets form). Null group markers are coalesced to 'ALL' on
    * both sides (the grouped columns are non-null in the data). */
  private val q104 = QueryDef(
    "q104_grouping_sets",
    (s, dir) => {
      T(s, dir, "lineitem").createOrReplaceTempView("q104_lineitem")
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               round(sum(l_extendedprice), 2) AS revenue,
               count(*) AS n
        FROM q104_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY rf, ls""")
    },
    Some("""
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             round(sum(l_extendedprice), 2) AS revenue,
             CAST(count(*) AS BIGINT) AS n
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      ORDER BY rf, ls"""))

  /** DSIR importance weights (Xie et al. 2023): hashed-unigram bag
    * likelihood ratio of the target domain (lang = 'en') vs the raw
    * corpus, add-one smoothed over 256 md5-derived buckets. The oracle
    * rebuilds the bucket grid, both distributions and the log-ratio sum
    * in SQL, so the weights are hash-verified cross-engine. */
  private val q105 = QueryDef(
    "q105_importance_weights",
    (s, dir) => TextFunctions.importanceWeights(
        T(s, dir, "documents"), "doc_id", "text", col("lang") === "en",
        buckets = 256)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, lang = 'en' AS is_tgt,
               unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
        FROM documents),
      grid AS (
        SELECT doc_id, is_tgt,
               CAST(('0x' || substring(md5(tok), 1, 15)) AS BIGINT) % 256 AS bucket,
               count(*) AS n
        FROM toks GROUP BY 1, 2, 3),
      dist AS (
        SELECT bucket, sum(n) AS cr,
               sum(CASE WHEN is_tgt THEN n ELSE 0 END) AS ct
        FROM grid GROUP BY bucket),
      tot AS (SELECT CAST(sum(cr) AS DOUBLE) AS nr,
                     CAST(sum(ct) AS DOUBLE) AS nt FROM dist)
      SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
             round(sum(n * (ln((ct + 1.0) / (nt + 256.0))
                          - ln((cr + 1.0) / (nr + 256.0)))), 4) AS log_weight
      FROM grid JOIN dist USING (bucket), tot
      GROUP BY doc_id ORDER BY doc_id"""))

  /** BPE training round-1 pair statistics (Sennrich et al. 2016): the
    * weighted adjacent-symbol-pair counts over the corpus vocabulary that
    * every merge round argmaxes over — on the initial character symbols,
    * where a SQL oracle can rebuild them positionally. Exercises the
    * corpus-collapse + pair-stream stages of [[graft.functions.Bpe]];
    * the iterative rewrite rounds are golden-tested in BpeSpec. */
  private val q106 = QueryDef(
    "q106_bpe_pair_stats",
    (s, dir) => graft.functions.Bpe.initialPairCounts(
        T(s, dir, "documents"), "text")
      .orderBy(col("pair_count").desc, col("l"), col("r"))
      .limit(50),
    Some("""
      WITH toks AS (
        SELECT unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS w
        FROM documents),
      wc AS (SELECT w, count(*) AS c FROM toks WHERE len(w) <= 64 GROUP BY w),
      pos AS (
        SELECT w, c, unnest(range(1, len(w) + 1)) AS i FROM wc),
      pairs AS (
        SELECT substring(w, i, 1) AS l,
               CASE WHEN i < len(w) THEN substring(w, i + 1, 1)
                    ELSE '</w>' END AS r,
               c
        FROM pos)
      SELECT l, r, CAST(sum(c) AS BIGINT) AS pair_count
      FROM pairs GROUP BY l, r
      ORDER BY pair_count DESC, l, r LIMIT 50"""))

  /** Product-quantization ADC top-k (Jégou et al. 2011) through the
    * generic [[graft.functions.PqIndex]] encode/table/scan machinery, on
    * the rank-1 uniform-grid codebook instance whose centroids a SQL
    * oracle derives in closed form (exact dyadic grid over [-1, 1]) — so
    * code assignment, the per-query distance tables and the ADC scan are
    * all hash-verified cross-engine. KMeans codebooks (not
    * SQL-derivable) are covered by PqSpec's recall/error laws. */
  private val q107 = QueryDef(
    "q107_pq_adc",
    (s, dir) => {
      val emb = T(s, dir, "embeddings")
      val idx = graft.functions.PqIndex.fromCodebooks(
        emb, "vec_id", "embedding",
        graft.functions.PqIndex.uniformCodebooks(-1.0, 1.0, dim = 64, m = 8, ksub = 16))
      idx.adcSearch(emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some("""
      WITH d AS (
        SELECT vec_id, embedding,
               list_transform(range(8), mi ->
                 list_transform(range(16), j ->
                   list_sum(list_transform(range(8), i ->
                     (CAST(embedding[mi * 8 + i + 1] AS DOUBLE) - (-1.0 + (j + 0.5) * 0.125))
                     * (CAST(embedding[mi * 8 + i + 1] AS DOUBLE) - (-1.0 + (j + 0.5) * 0.125))))))
                 AS dd
        FROM embeddings),
      codes AS (
        SELECT vec_id,
               list_transform(dd, ds -> list_position(ds, list_min(ds)) - 1) AS cs
        FROM d),
      qtab AS (SELECT vec_id AS query_id, dd AS qdd FROM d WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(range(8), mi ->
                 q.qdd[mi + 1][c.cs[mi + 1] + 1])) AS adc_dist
        FROM codes c CROSS JOIN qtab q WHERE c.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rnk
        FROM scored)
      SELECT query_id, neighbor_id, round(adc_dist, 6) AS adc_dist,
             CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  /** IVFADC (Jégou et al. 2011 §5) through the generic
    * [[graft.functions.IvfPqIndex]]: coarse cells + product-quantized
    * RESIDUALS, searched by per-(query, cell) distance tables. This
    * instance is fully SQL-derivable — hyperplane-LSH cells (q39's
    * md5-dyadic planes), rounded per-cell mean centroids (q91's), the
    * uniform-grid residual codebook (q107's), exact-match single-probe —
    * so cell assignment, residuals, codes, tables and the ADC ranking
    * are hash-verified end-to-end. The KMeans-cell/KMeans-codebook
    * path is covered by IvfPqSpec recall laws. Bounded collects: the
    * centroid grid (≤ 2^4 cells × 64 dims) and the 5 query vectors. */
  private val q108 = QueryDef(
    "q108_ivfpq_adc",
    (s, dir) => {
      import graft.functions.{IvfPq, PqIndex, SimilarityFunctions}
      val emb = T(s, dir, "embeddings")
      // Staged lazily (r20): the centroid collect below is the first
      // action and materializes (id, vec, cell) once; without the
      // checkpoint the scan + signature UDF re-ran in the collect AND in
      // the search query's code-build branches.
      val tagged = emb.select(col("vec_id"), col("embedding"),
        SimilarityFunctions.lshSignature(col("embedding"), 64, 4).as("cell"))
        .localCheckpoint(false)
      // One cell-keyed aggregate with 64 avg columns instead of the
      // posexplode/(cell, pos) dim-fold (r19 — the r17 semanticDedup
      // shape); same values after the 6-decimal round, one collect of
      // (cells x 1) rows instead of (cells x 64).
      val cavgs = (0 until 64).map(i =>
        round(avg(col("embedding")(i).cast("double")), 6).as(s"__c$i"))
      val centroids: Map[Long, Array[Double]] = tagged
        .groupBy(col("cell"))
        .agg(cavgs.head, cavgs.tail: _*)
        .collect()
        .map(r => r.getLong(0) -> Array.tabulate(64)(i => r.getDouble(i + 1)))
        .toMap
      val idx = IvfPq.fromAssignments(tagged, "vec_id", "embedding", "cell",
        centroids, PqIndex.uniformCodebooks(-1.0, 1.0, dim = 64, m = 8, ksub = 16))
      val planes = SimilarityFunctions.lshPlanes(64, 4)
      idx.search(emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10,
          probe = v => Seq(SimilarityFunctions.lshSignatureOf(v, planes)))
        .select(col("query_id"), col("neighbor_id"),
          round(col("adc_dist"), 6).as("adc_dist"), col("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    },
    Some(s"""
      WITH ${lshSigCtes(4, 64)},
      memb AS (SELECT vec_id, embedding, sig AS cell FROM sigs),
      cent AS (
        SELECT cell, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS cv
        FROM memb, range(1, 65) r(i) GROUP BY cell, i),
      cvecs AS (SELECT cell, list(cv ORDER BY i) AS cvec FROM cent GROUP BY cell),
      resid AS (
        SELECT m.vec_id, m.cell,
               list_transform(range(64), i ->
                 CAST(CAST(m.embedding[i + 1] AS DOUBLE) - c.cvec[i + 1] AS FLOAT)) AS res
        FROM memb m JOIN cvecs c USING (cell)),
      d AS (
        SELECT vec_id, cell,
               list_transform(range(8), mi ->
                 list_transform(range(16), j ->
                   list_sum(list_transform(range(8), i ->
                     (CAST(res[mi * 8 + i + 1] AS DOUBLE) - (-1.0 + (j + 0.5) * 0.125))
                     * (CAST(res[mi * 8 + i + 1] AS DOUBLE) - (-1.0 + (j + 0.5) * 0.125))))))
                 AS dd
        FROM resid),
      codes AS (
        SELECT vec_id, cell,
               list_transform(dd, ds -> list_position(ds, list_min(ds)) - 1) AS cs
        FROM d),
      qt AS (SELECT vec_id AS query_id, cell, dd AS qdd FROM d WHERE vec_id < 5),
      scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               list_sum(list_transform(range(8), mi ->
                 q.qdd[mi + 1][c.cs[mi + 1] + 1])) AS adc_dist
        FROM codes c JOIN qt q USING (cell) WHERE c.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rnk
        FROM scored)
      SELECT query_id, neighbor_id, round(adc_dist, 6) AS adc_dist,
             CAST(rnk AS BIGINT) AS rnk
      FROM ranked WHERE rnk <= 10 ORDER BY query_id, rnk"""))

  /** Analytic-window completeness: lag/lead, percent_rank/cume_dist and
    * framed aggregates (running total, 3-row sliding mean) in one pass —
    * the §2.5 surface beyond row_number/rank. Frame sums accumulate in
    * DECIMAL (engine-exact regardless of the window aggregator's
    * summation tree) and only the final value casts to double. */
  private val q109 = QueryDef(
    "q109_window_suite",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val dec = col("o_totalprice").cast("decimal(18,2)")
      T(s, dir, "orders").where(col("o_custkey") < 500)
        .select(
          col("o_custkey"), col("o_orderkey"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"),
          lead(col("o_orderkey"), 1).over(w).as("next_orderkey"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          round(sum(dec).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"), 2).as("running"),
          round((sum(dec).over(w.rowsBetween(-2, 0)).cast("double") /
            count(lit(1)).over(w.rowsBetween(-2, 0))), 4).as("avg3"))
        .orderBy(col("o_orderkey"))
    },
    Some("""
      SELECT o_custkey, o_orderkey,
             lag(o_totalprice, 1) OVER w AS prev_price,
             lead(o_orderkey, 1) OVER w AS next_orderkey,
             round(percent_rank() OVER w, 6) AS pr,
             round(cume_dist() OVER w, 6) AS cd,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
               AS running,
             round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
               / count(*) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS avg3
      FROM orders WHERE o_custkey < 500
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_orderkey"""))

  /** Edit-distance-verified near-dup pairs: q32's SimHash banding for
    * candidates, char-level Levenshtein on the survivors only (text
    * joins in by id AFTER banding — full text never rides the banding
    * shuffle). Both stages mirror in SQL, so candidate generation AND
    * the verify filter are hash-verified. */
  private val q110 = QueryDef(
    "q110_edit_distance_pairs",
    (s, dir) => DedupFunctions.editDistancePairs(
        T(s, dir, "documents"), "doc_id", "text",
        simhashMaxDistance = 3, maxEdits = 10)
      .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"),
        col("edits"))
      .orderBy(col("id_a"), col("id_b")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents),
      th AS (
        SELECT doc_id, list_transform(tk,
          t -> CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT)) AS hs
        FROM toks),
      sims AS (
        SELECT doc_id, CAST(list_sum(list_transform(range(60), b ->
            CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1)) > len(hs)
                 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sim
        FROM th),
      blocks AS (
        SELECT doc_id, sim, b AS block, (sim >> (b*15)) & 32767 AS key
        FROM sims, range(4) t(b)),
      cands AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM blocks x JOIN blocks y
          ON x.block = y.block AND x.key = y.key AND x.doc_id < y.doc_id)
      SELECT c.id_a, c.id_b, CAST(bit_count(xor(sa.sim, sb.sim)) AS BIGINT) AS hamming,
             CAST(levenshtein(da.text, db.text) AS BIGINT) AS edits
      FROM cands c
      JOIN sims sa ON sa.doc_id = c.id_a
      JOIN sims sb ON sb.doc_id = c.id_b
      JOIN documents da ON da.doc_id = c.id_a
      JOIN documents db ON db.doc_id = c.id_b
      WHERE bit_count(xor(sa.sim, sb.sim)) <= 3
        AND levenshtein(da.text, db.text) <= 10
      ORDER BY id_a, id_b"""))

  /** Generic numeric band join ([[graft.operators.RangeJoin]]): events of
    * the same user within a 20-minute window, as a bucketed equi-join
    * (never BNLJ — the plan gate enforces it). The oracle is the naive
    * theta join, so the bucketing's exactly-once match property is
    * hash-verified. Vintage-safe through [[tsMicros]]. */
  private val q111 = QueryDef(
    "q111_band_join",
    (s, dir) => {
      val ev = T(s, dir, "events").where(col("user_id") < 30)
      val a = ev.select(col("user_id"), col("event_id").as("id_a"),
        tsMicros(ev).as("us_a"))
      val b = ev.select(col("user_id"), col("event_id").as("id_b"),
        tsMicros(ev).as("us_b"))
      graft.operators.RangeJoin.bandJoin(
          a, col("us_a"), b, col("us_b"), Seq("user_id"), 1200000000L)
        .where(col("id_a") < col("id_b"))
        .select(col("user_id"), col("id_a"), col("id_b"),
          abs(col("us_b") - col("us_a")).as("dt_us"))
        .orderBy(col("user_id"), col("id_a"), col("id_b"))
    },
    Some("""
      WITH e AS (
        SELECT event_id, user_id, epoch_us(ts) AS us
        FROM events WHERE user_id < 30)
      SELECT a.user_id AS user_id, a.event_id AS id_a, b.event_id AS id_b,
             abs(b.us - a.us) AS dt_us
      FROM e a JOIN e b
        ON a.user_id = b.user_id AND a.event_id < b.event_id
       AND abs(a.us - b.us) <= 1200000000
      ORDER BY a.user_id, id_a, id_b"""))

  /** Variable-length repeated-span removal: the longest-first multi-k
    * cascade ([[graft.functions.DedupFunctions.removeRepeatedSpansCascade]])
    * at ks = (8, 4) — stage 1 is exactly q88's transform, stage 2
    * re-windows the CLEANED text at k=4. The oracle composes the q88 SQL
    * twice, so the cascade's stage chaining (tokens, first-occurrence
    * keeps, removal accounting) is hash-verified end-to-end. */
  private val q112 = QueryDef(
    "q112_span_cascade",
    (s, dir) => DedupFunctions.removeRepeatedSpansCascade(
        T(s, dir, "documents"), "doc_id", "text", ks = Seq(8, 4))
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id")),
    Some("""
      WITH toks1 AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents),
      wins1 AS (
        SELECT doc_id, u.pos AS pos, u.w AS w FROM (
          SELECT doc_id, unnest(CASE WHEN len(tk) >= 8
            THEN list_transform(range(1, len(tk) - 6), i -> {'pos': i, 'w': array_to_string(tk[i:i+7], ' ')})
            ELSE [{'pos': CAST(1 AS BIGINT), 'w': array_to_string(tk, ' ')}] END) AS u
          FROM toks1)),
      marked1 AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY w) AS c,
               row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
        FROM wins1),
      drops1 AS (
        SELECT doc_id, list_sort(list(pos)) AS ps FROM marked1
        WHERE c >= 2 AND rn >= 2 GROUP BY doc_id),
      fin1 AS (
        SELECT t.doc_id, tk,
          list_filter(tk, (tok, ti) -> len(list_filter(coalesce(ps, CAST([] AS BIGINT[])),
            s -> ti >= s AND ti < s + least(8, len(tk)))) = 0) AS kept
        FROM toks1 t LEFT JOIN drops1 d USING (doc_id)),
      toks2 AS (
        SELECT doc_id, kept AS tk, CAST(len(tk) - len(kept) AS BIGINT) AS removed1
        FROM fin1),
      wins2 AS (
        SELECT doc_id, u.pos AS pos, u.w AS w FROM (
          SELECT doc_id, unnest(CASE WHEN len(tk) >= 4
            THEN list_transform(range(1, len(tk) - 2), i -> {'pos': i, 'w': array_to_string(tk[i:i+3], ' ')})
            ELSE [{'pos': CAST(1 AS BIGINT), 'w': array_to_string(tk, ' ')}] END) AS u
          FROM toks2)),
      marked2 AS (
        SELECT doc_id, pos,
               count(*) OVER (PARTITION BY w) AS c,
               row_number() OVER (PARTITION BY w ORDER BY doc_id, pos) AS rn
        FROM wins2),
      drops2 AS (
        SELECT doc_id, list_sort(list(pos)) AS ps FROM marked2
        WHERE c >= 2 AND rn >= 2 GROUP BY doc_id),
      fin2 AS (
        SELECT t.doc_id, removed1, tk,
          list_filter(tk, (tok, ti) -> len(list_filter(coalesce(ps, CAST([] AS BIGINT[])),
            s -> ti >= s AND ti < s + least(4, len(tk)))) = 0) AS kept
        FROM toks2 t LEFT JOIN drops2 d USING (doc_id))
      SELECT doc_id,
             coalesce(array_to_string(kept, ' '), '') AS clean_text,
             CAST(removed1 + len(tk) - len(kept) AS BIGINT) AS n_removed
      FROM fin2 ORDER BY doc_id"""))

  /** Streaming IVFADC ingest, batch face
    * ([[graft.streaming.StreamingPqIngest.ingestBatch]]): one micro-batch
    * screened against a deterministic IVFADC store (LSH cells + uniform
    * grid codebooks, as q108) — store-identical (cell, codes) dropped,
    * within-batch quantization-identical collapsed to the lowest id —
    * and the survivors' PQ-coded landing rows returned. The oracle
    * recomputes centroids, nearest-centroid assignment, residual codes
    * and both dedup passes in SQL, so the whole ingest path (assignment
    * tie-break, residual arithmetic, code argmin, screen semantics) is
    * hash-verified. */
private val q114 = QueryDef(
    "q114_prisma_rules",
    (s, dir) => {
      // PRISMA rules-from-table e2e (reference `utils/dq_utils.py:18-284`):
      // rules govern as DATA — filtered by execution point AND target
      // table, de-duplicated on (function, arguments), resolved with
      // their meta, evaluated over `customer` through the prisma spec
      // pipeline, and read back from the EXPLODED sink layout. rule_1b
      // (same function+args as rule_1), rule_4 (in_motion) and rule_5
      // (another table) must all drop out of the resolution.
      import s.implicits._
      Seq(
        ("rule_1", "expect_column_values_to_not_be_null", "at_rest", "tpch",
          "customer", "c_name", """{"column": "c_name"}""", "completeness"),
        ("rule_1b", "expect_column_values_to_not_be_null", "at_rest", "tpch",
          "customer", "c_name", """{"column": "c_name"}""", "completeness"),
        ("rule_2", "expect_column_min_to_be_between", "at_rest", "tpch",
          "customer", "c_acctbal",
          """{"column": "c_acctbal", "min_value": -1000.0, "max_value": 0.0}""",
          "validity"),
        ("rule_3", "expect_table_row_count_to_be_between", "at_rest", "tpch",
          "customer", null, """{"min_value": 1, "max_value": 1}""", "volume"),
        ("rule_4", "expect_column_values_to_not_be_null", "in_motion", "tpch",
          "customer", "c_name", """{"column": "c_name"}""", "completeness"),
        ("rule_5", "expect_column_values_to_not_be_null", "at_rest", "tpch",
          "orders", "o_clerk", """{"column": "o_clerk"}""", "completeness"))
        .toDF("dq_rule_id", "dq_tech_function", "execution_point", "schema",
          "table", "column", "arguments", "dimension")
        .withColumn("filters", lit(null).cast("string"))
        .createOrReplaceTempView("q114_rules")
      val dq = graft.spec.DQSpec("dq_customer", "cust", dqType = "prisma",
        dqDbTable = Some("q114_rules"), dqTableTableFilter = Some("customer"),
        dataProductName = Some("q114"), unexpectedRowsPk = Seq("c_custkey"))
      val resolved = graft.dq.Prisma.resolve(s, dq, "at_rest")
      val (result, _) = graft.dq.DQEngine.runOutcome(s, T(s, dir, "customer"), resolved)
      graft.dq.DQEngine.resultSinkExploded(s, resolved, result)
        .select(col("meta.dq_rule_id").as("dq_rule_id"),
          col("expectation_type"), col("expectation_success"))
        .orderBy(col("dq_rule_id"))
    },
    Some("""
      SELECT * FROM (
        SELECT 'rule_1' AS dq_rule_id,
               'expect_column_values_to_not_be_null' AS expectation_type,
               count(*) FILTER (WHERE c_name IS NULL) = 0 AS expectation_success
        FROM customer
        UNION ALL
        SELECT 'rule_2', 'expect_column_min_to_be_between',
               min(c_acctbal) BETWEEN -1000.0 AND 0.0
        FROM customer
        UNION ALL
        SELECT 'rule_3', 'expect_table_row_count_to_be_between',
               count(*) BETWEEN 1 AND 1
        FROM customer)
      ORDER BY dq_rule_id"""))

  /** Exact substring dedup at CHUNK granularity (the RefinedWeb /
    * "Deduplicating Training Data Makes Language Models Better"
    * preprocessing step, applied at a fixed token window because the
    * corpus has no line structure): each document splits into
    * consecutive 5-token chunks, a chunk occurring anywhere earlier in
    * the corpus (global first-occurrence by (doc_id, pos)) is dropped,
    * and the survivors reassemble in position order. 100 TB shape: the
    * only wide exchange is the chunk-hash window shuffle — chunk text
    * rides it ONCE (it IS the payload being deduped, exactly like the
    * fingerprint dedup family) — plus the per-document reassembly
    * aggregation; no self-joins, no driver-side state. */
  /** q116's chunk-hash index: the cache stores the persisted PATH (the
    * artifact is a plain parquet of hashes), read fresh per invocation. */
  private val ChunkIdx = new DirCache("graft-chunkidx-")(
    (s: SparkSession, dir: String, path: String) => {
      graft.functions.DedupFunctions.chunkHashIndex(
        T(s, dir, "documents").where(col("doc_id") >= 100),
        "doc_id", "text", chunkTokens = 5)
        .write.mode("overwrite").parquet(path)
      path
    })

  /** Incremental chunk dedup: docs >= 100 are the corpus whose chunk
    * hashes are the PERSISTED index (hash-only artifact — corpus text
    * never lands in it), docs < 100 an arriving batch whose chunks drop
    * when indexed or seen earlier in the batch. The continuous-ingest
    * shape of q115, same pattern as q76's minhash index check. */
  private val q116 = QueryDef(
    "q116_chunk_dedup_incremental",
    (s, dir) =>
      graft.functions.DedupFunctions.chunkDedupAgainstIndex(
        T(s, dir, "documents").where(col("doc_id") < 100),
        s.read.parquet(ChunkIdx.forDir(s, dir)), "doc_id", "text", chunkTokens = 5)
        .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents),
      chunks AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(tk[((i-1)*5+1):((i-1)*5+5)], ' ') AS chunk
        FROM toks, unnest(range(1, CAST(ceil(len(tk)/5.0) AS BIGINT) + 1)) AS u(i)
        WHERE len(tk) > 0),
      idx AS (SELECT DISTINCT chunk FROM chunks WHERE doc_id >= 100),
      fresh AS (
        SELECT c.doc_id, c.pos, c.chunk FROM chunks c
        WHERE c.doc_id < 100
          AND c.chunk NOT IN (SELECT chunk FROM idx)),
      kept AS (
        SELECT doc_id, pos, chunk FROM (
          SELECT *, row_number() OVER (
            PARTITION BY chunk ORDER BY doc_id, pos) AS rn
          FROM fresh) WHERE rn = 1),
      reassembled AS (
        SELECT doc_id,
               string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
               CAST(count(*) AS BIGINT) AS kept_chunks
        FROM kept GROUP BY doc_id)
      SELECT r.doc_id, r.clean_text, r.kept_chunks,
             CAST(ceil(len(t.tk)/5.0) AS BIGINT) AS total_chunks
      FROM reassembled r JOIN toks t USING (doc_id)
      ORDER BY doc_id"""))

  private val q115 = QueryDef(
    "q115_chunk_dedup",
    (s, dir) =>
      graft.functions.DedupFunctions.chunkDedup(
        T(s, dir, "documents"), "doc_id", "text", chunkTokens = 5)
        .orderBy(col("doc_id")),
    Some("""
      WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
        FROM documents),
      chunks AS (
        SELECT doc_id, i - 1 AS pos,
               array_to_string(tk[((i-1)*5+1):((i-1)*5+5)], ' ') AS chunk
        FROM toks, unnest(range(1, CAST(ceil(len(tk)/5.0) AS BIGINT) + 1)) AS u(i)
        WHERE len(tk) > 0),
      kept AS (
        SELECT doc_id, pos, chunk FROM (
          SELECT *, row_number() OVER (
            PARTITION BY md5(chunk) ORDER BY doc_id, pos) AS rn
          FROM chunks) WHERE rn = 1),
      reassembled AS (
        SELECT doc_id,
               string_agg(chunk, ' ' ORDER BY pos) AS clean_text,
               CAST(count(*) AS BIGINT) AS kept_chunks
        FROM kept GROUP BY doc_id)
      SELECT r.doc_id, r.clean_text, r.kept_chunks,
             CAST(ceil(len(t.tk)/5.0) AS BIGINT) AS total_chunks
      FROM reassembled r JOIN toks t USING (doc_id)
      WHERE len(t.tk) > 0
      ORDER BY doc_id"""))

  private val q113 = QueryDef(
    "q113_pq_ingest_batch",
    (s, dir) => {
      import graft.functions.{IvfPq, PqIndex, SimilarityFunctions}
      val emb = T(s, dir, "embeddings")
      val corpus = emb.where(col("vec_id") >= 20)
      val batch = emb.where(col("vec_id") < 20)
      // staged lazily (r20): same argument as q108 — the centroid collect
      // materializes the tagged corpus once for the store build
      val tagged = corpus.select(col("vec_id"), col("embedding"),
        SimilarityFunctions.lshSignature(col("embedding"), 64, 4).as("cell"))
        .localCheckpoint(false)
      // One cell-keyed aggregate with 64 avg columns instead of the
      // posexplode/(cell, pos) dim-fold (r19 — the r17 semanticDedup
      // shape); same values after the 6-decimal round, one collect of
      // (cells x 1) rows instead of (cells x 64).
      val cavgs = (0 until 64).map(i =>
        round(avg(col("embedding")(i).cast("double")), 6).as(s"__c$i"))
      val centroids: Map[Long, Array[Double]] = tagged
        .groupBy(col("cell"))
        .agg(cavgs.head, cavgs.tail: _*)
        .collect()
        .map(r => r.getLong(0) -> Array.tabulate(64)(i => r.getDouble(i + 1)))
        .toMap
      val cbs = PqIndex.uniformCodebooks(-1.0, 1.0, dim = 64, m = 8, ksub = 16)
      val idx = IvfPq.fromAssignments(tagged, "vec_id", "embedding", "cell",
        centroids, cbs)
      val (fresh, _) = graft.streaming.StreamingPqIngest.ingestBatch(
        batch, "vec_id", "embedding", idx, indexLocation = "", sink = _ => (),
        dedup = true, append = false)
      val ftag = fresh.select(col("vec_id").cast("long").as("id"),
          col("embedding").as("vec"),
          IvfPq.nearestCellUdf(centroids)(col("embedding")).as("cell"))
        .withColumn("res", IvfPq.residualUdf(centroids)(col("vec"), col("cell")))
      PqIndex.encode(ftag, "id", "res", cbs)
        .join(ftag.select(col("id"), col("cell")), Seq("id"))
        .select(col("id").as("vec_id"), col("cell"),
          concat_ws(" ", col("codes")).as("codes_str"))
        .orderBy(col("vec_id"))
    },
    Some(s"""
      WITH ${lshSigCtes(4, 64)},
      memb AS (SELECT vec_id, embedding, sig AS cell FROM sigs WHERE vec_id >= 20),
      cent AS (
        SELECT cell, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS cv
        FROM memb, range(1, 65) r(i) GROUP BY cell, i),
      cvecs AS (SELECT cell, list(cv ORDER BY i) AS cvec FROM cent GROUP BY cell),
      cres AS (
        SELECT m.vec_id, m.cell,
               list_transform(range(64), i ->
                 CAST(CAST(m.embedding[i + 1] AS DOUBLE) - c.cvec[i + 1] AS FLOAT)) AS res
        FROM memb m JOIN cvecs c USING (cell)),
      cd AS (
        SELECT vec_id, cell,
               list_transform(range(8), mi ->
                 list_transform(range(16), j ->
                   list_sum(list_transform(range(8), i ->
                     (CAST(res[mi * 8 + i + 1] AS DOUBLE) - (-1.0 + (j + 0.5) * 0.125))
                     * (CAST(res[mi * 8 + i + 1] AS DOUBLE) - (-1.0 + (j + 0.5) * 0.125))))))
                 AS dd
        FROM cres),
      ccodes AS (
        SELECT vec_id, cell,
               list_transform(dd, ds -> list_position(ds, list_min(ds)) - 1) AS cs
        FROM cd),
      batch AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
      bdist AS (
        SELECT b.vec_id, c.cell,
               list_sum(list_transform(range(64), i ->
                 (CAST(b.embedding[i + 1] AS DOUBLE) - c.cvec[i + 1])
                 * (CAST(b.embedding[i + 1] AS DOUBLE) - c.cvec[i + 1]))) AS d
        FROM batch b, cvecs c),
      bassign AS (
        SELECT vec_id, cell FROM (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
          FROM bdist) WHERE rn = 1),
      bres AS (
        SELECT b.vec_id, a.cell,
               list_transform(range(64), i ->
                 CAST(CAST(b.embedding[i + 1] AS DOUBLE) - c.cvec[i + 1] AS FLOAT)) AS res
        FROM batch b JOIN bassign a USING (vec_id) JOIN cvecs c ON c.cell = a.cell),
      bd AS (
        SELECT vec_id, cell,
               list_transform(range(8), mi ->
                 list_transform(range(16), j ->
                   list_sum(list_transform(range(8), i ->
                     (CAST(res[mi * 8 + i + 1] AS DOUBLE) - (-1.0 + (j + 0.5) * 0.125))
                     * (CAST(res[mi * 8 + i + 1] AS DOUBLE) - (-1.0 + (j + 0.5) * 0.125))))))
                 AS dd
        FROM bres),
      bcodes AS (
        SELECT vec_id, cell,
               list_transform(dd, ds -> list_position(ds, list_min(ds)) - 1) AS cs
        FROM bd),
      fresh1 AS (
        SELECT b.* FROM bcodes b
        WHERE NOT EXISTS (
          SELECT 1 FROM ccodes c WHERE c.cell = b.cell AND c.cs = b.cs)),
      kept AS (
        SELECT vec_id, cell, cs FROM (
          SELECT vec_id, cell, cs,
                 row_number() OVER (
                   PARTITION BY cell, array_to_string(cs, ' ')
                   ORDER BY vec_id) AS rn
          FROM fresh1) WHERE rn = 1)
      SELECT vec_id, cell, array_to_string(cs, ' ') AS codes_str
      FROM kept ORDER BY vec_id"""))

  /** All catalog queries in declaration order. */
  val all: Seq[QueryDef] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20,
    q21, q22, q23, q24, q25, q26, q27, q28, q29,
    q30, q31, q32, q33, q34, q35, q36, q38, q39, q40,
    q44,
    q41, q42, q43, q45, q46, q47, q48, q49, q50, q51,
    q52, q53, q54, q55, q56, q57, q58, q59, q60, q61, q62, q63, q64, q65,
    q66, q67, q68, q69, q70, q71, q72, q73, q74, q75, q76, q77, q78, q79,
    q80, q81, q82, q83, q84, q85, q86, q87, q88, q89, q90, q91, q92, q93,
    q94, q95, q96, q97, q98, q99, q100, q101, q102, q103, q104, q105,
    q106, q107, q108, q109, q110, q111, q112, q113, q114, q115, q116)
}
