package graft.dq

import graft.exec.Stage
import graft.spec.{DQFunctionSpec, DQSpec}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.graft.ObservedMetrics

/** Exception raised when a DQ process breaches its failure policy
  * (reference `DQValidationsFailedException`). */
final class DQValidationFailedException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

/** Result of one expectation over a dataset. */
final case class ExpectationOutcome(
    function: String,
    args: Map[String, Any],
    success: Boolean,
    elementCount: Long,
    unexpectedCount: Long,
    observedValue: Option[Double] = None,
    /** sample of failing PK tuples rendered as JSON (bounded, like the
      * reference's chunked unexpected_index_list) */
    unexpectedIndexList: Seq[String] = Seq.empty)

/** Result of a full DQ run. */
final case class DQRunResult(
    runName: String,
    success: Boolean,
    outcomes: Seq[ExpectationOutcome])

/** Native data-quality engine.
  *
  * Re-implements the reference's Great-Expectations surface
  * (`lakehouse_engine/dq_processors/dq_factory.py`, custom expectations
  * under `dq_processors/custom_expectations/`) as plain Spark predicates
  * and aggregates — no GX dependency:
  *
  *   - row-level expectations compile to Column predicates; ALL of them
  *     are evaluated in ONE aggregate pass over the data (conditional
  *     sums), so a suite of N expectations costs one scan, not N.
  *   - table-level (aggregate) expectations run as a single combined
  *     aggregate where possible, else per-expectation SQL.
  *   - `mostly` semantics: success when failing fraction <= (1 - mostly).
  *   - row tagging builds the reference's `dq_validations` struct
  *     (`core/definitions.py:563-588`) as a pure projection — no join.
  */
object DQEngine {

  /** Max failing-PK samples collected per expectation. */
  val UnexpectedSampleLimit = 1000

  private def str(m: Map[String, Any], k: String): Option[String] =
    m.get(k).map(String.valueOf(_)).filter(_ != "null")
  private def num(m: Map[String, Any], k: String): Option[Double] =
    m.get(k).collect { case n: Number => n.doubleValue() }
  private def anySeq(m: Map[String, Any], k: String): Seq[Any] =
    m.get(k).collect { case s: Seq[_] => s.toSeq }.getOrElse(Seq.empty)

  /** Name-dispatch check used by the plan-only ACON conformance pass:
    * does this expectation name resolve to a row- or table-level
    * implementation at all? Probes the real matchers with empty args so
    * the check can never drift from them — argument errors count as
    * KNOWN (the name matched; its args are a runtime concern); only a
    * clean fall-through to None means unknown. The table probe runs
    * against an empty local DataFrame, so nothing is read or written. */
  def knownExpectation(spark: SparkSession, name: String): Boolean = {
    val probe = DQFunctionSpec(name, Map.empty)
    val row =
      try rowPredicate(probe).isDefined catch { case _: Throwable => true }
    row || {
      try tableExpectation(spark, spark.emptyDataFrame, probe).isDefined
      catch { case _: Throwable => true }
    }
  }

  /** Compile a row-level expectation to its predicate ("row passes"). */
  def rowPredicate(f: DQFunctionSpec): Option[Column] = {
    val a = f.args
    def c = col(str(a, "column").getOrElse(str(a, "column_A").getOrElse("")))
    f.function match {
      case "expect_column_values_to_not_be_null" => Some(c.isNotNull)
      case "expect_column_values_to_be_null" => Some(c.isNull)
      case "expect_column_values_to_be_between" =>
        // GX accepts datetime/string bounds, not just numbers — a string
        // bound rides as a string literal and Spark's comparison coercion
        // does the rest (date >= '2020-01-01' parses the literal; string
        // columns compare lexicographically, GX's rule). Silently
        // dropping a non-numeric bound would turn the expectation into a
        // vacuous always-pass, so anything else fails loudly.
        def bound(key: String): Option[Column] = a.get(key).map {
          case n: Number => lit(n.doubleValue())
          case s: String => lit(s)
          case other => sys.error(
            s"${f.function}: unsupported $key bound '$other' — use a " +
              "number or a date/datetime string")
        }
        val lo = bound("min_value").map(v => c >= v)
        val hi = bound("max_value").map(v => c <= v)
        Some((lo.toSeq ++ hi.toSeq).reduceOption(_ && _).getOrElse(lit(true)))
      case "expect_column_values_to_be_in_set" =>
        Some(c.isin(anySeq(a, "value_set"): _*))
      case "expect_column_values_to_not_be_in_set" =>
        Some(!c.isin(anySeq(a, "value_set"): _*))
      case "expect_column_values_to_match_regex" =>
        Some(c.rlike(str(a, "regex").get))
      case "expect_column_values_to_not_match_regex" =>
        Some(!c.rlike(str(a, "regex").get))
      case "expect_column_value_lengths_to_equal" =>
        Some(length(c) === num(a, "value").get.toInt)
      case "expect_column_values_to_match_like_pattern" =>
        Some(c.like(str(a, "like_pattern").orElse(str(a, "pattern")).get))
      case "expect_column_values_to_not_match_like_pattern" =>
        Some(!c.like(str(a, "like_pattern").orElse(str(a, "pattern")).get))
      case "expect_column_pair_values_to_be_equal" =>
        Some(col(str(a, "column_A").get) <=> col(str(a, "column_B").get))
      case "expect_select_column_values_to_be_unique_within_record" =>
        val cols = anySeq(a, "column_list").map(n => col(String.valueOf(n)))
        Some(size(array_distinct(array(cols: _*))) === cols.length)
      case "expect_multicolumn_sum_to_equal" =>
        // per-row: sum(column_list) == sum_total (GX multicolumn map
        // expectation; heavily used in the reference's test suites).
        // PRE-ANSI arithmetic like the reference engine: string operands
        // coerce to double, malformed values null the sum, and a null
        // comparison never counts as unexpected.
        val cols = anySeq(a, "column_list").map(n =>
          col(String.valueOf(n)).try_cast(org.apache.spark.sql.types.DoubleType))
        val total = num(a, "sum_total").get
        Some(coalesce(cols.reduce(_ + _) === lit(total), lit(true)))
      case "expect_column_value_lengths_to_be_between" =>
        val l = length(c)
        val lo = num(a, "min_value").map(v => l >= v.toInt)
        val hi = num(a, "max_value").map(v => l <= v.toInt)
        Some((lo.toSeq ++ hi.toSeq).reduceOption(_ && _).getOrElse(lit(true)))
      case "expect_column_pair_values_a_to_be_greater_than_b" =>
        val orEqual = a.get("or_equal").contains(true)
        val (ca, cb) = (col(str(a, "column_A").get), col(str(a, "column_B").get))
        Some(if (orEqual) ca >= cb else ca > cb)
      // ---- the reference's 7 custom expectations (§2.9) ----------------
      case "expect_column_values_to_be_date_not_older_than" =>
        // reference `expect_column_values_to_be_date_not_older_than.py`:
        // `timeframe` is a relativedelta-style DICT (years/months/weeks/
        // days/hours/minutes/seconds, with a month = 4 weeks and a year =
        // 52 weeks); the check is `delta > now() - column`. A bare number
        // is accepted as days for convenience.
        val deltaSeconds: Long = a.get("timeframe") match {
          case Some(m: Map[_, _]) =>
            val t = m.map { case (k, v) => String.valueOf(k) ->
              (v match { case n: Number => n.doubleValue(); case _ => 0.0 }) }
            val weeks = t.getOrElse("weeks", 0.0) +
              t.getOrElse("months", 0.0) * 4 + t.getOrElse("years", 0.0) * 52
            (weeks * 7 * 86400 + t.getOrElse("days", 0.0) * 86400 +
              t.getOrElse("hours", 0.0) * 3600 + t.getOrElse("minutes", 0.0) * 60 +
              t.getOrElse("seconds", 0.0)).toLong
          case _ =>
            (num(a, "timeframe").getOrElse(num(a, "days").getOrElse(1.0)) * 86400).toLong
        }
        Some(c.cast("timestamp") >
          current_timestamp() - expr(s"INTERVAL $deltaSeconds SECONDS"))
      case "expect_column_pair_a_to_be_smaller_or_equal_than_b" =>
        // reference: `column_A <= column_B + margin` under PRE-ANSI Spark
        // arithmetic — string operands coerce to double, malformed values
        // become null, and a null comparison never counts as unexpected
        // (GX filters unexpected rows as `~condition`, which drops nulls)
        val margin = num(a, "margin").getOrElse(0.0)
        val ca = col(str(a, "column_A").get)
          .try_cast(org.apache.spark.sql.types.DoubleType)
        val cb = col(str(a, "column_B").get)
          .try_cast(org.apache.spark.sql.types.DoubleType)
        Some(coalesce(ca <= cb + lit(margin), lit(true)))
      case "expect_column_pair_date_a_to_be_greater_than_or_equal_to_date_b" =>
        Some(to_date(col(str(a, "column_A").get)) >= to_date(col(str(a, "column_B").get)))
      case "expect_column_pair_a_to_be_not_equal_to_b" =>
        Some(!(col(str(a, "column_A").get) <=> col(str(a, "column_B").get)))
      case "expect_multicolumn_column_a_must_equal_b_or_c" =>
        // reference spelling: `column_list` [a, b, c] (a multicolumn-map
        // expectation); column_A/B/C kept as a compat alias. Exact logic
        // from `expect_multicolumn_column_a_must_equal_b_or_c.py:43-54`:
        // `a` must equal `b` when `b` is present (and `b` matches
        // validation_regex_b), otherwise `a` must equal `c` (and `c`
        // matches validation_regex_c); a NULL `a` always fails. A null
        // sub-condition (e.g. rlike over a NULL `c`) never counts as
        // unexpected — GX filters unexpected rows as `~condition`,
        // which drops nulls.
        val cols = a.get("column_list") match {
          case Some(l: Seq[_]) if l.size >= 3 => l.map(x => col(String.valueOf(x)))
          case _ => Seq(col(str(a, "column_A").get), col(str(a, "column_B").get),
            col(str(a, "column_C").get))
        }
        val regexB = str(a, "validation_regex_b").getOrElse(".*")
        val regexC = str(a, "validation_regex_c").getOrElse(".*")
        Some(coalesce(
          cols(0).isNotNull && (
            (cols(1).isNotNull && cols(1).cast("string").rlike(regexB) &&
              cols(0) === cols(1)) ||
            (cols(1).isNull && cols(2).cast("string").rlike(regexC) &&
              cols(0) === cols(2))),
          lit(true)))
      case "expect_column_values_to_not_be_null_or_empty_string" =>
        Some(c.isNotNull && trim(c.cast("string")) =!= "")
      case "expect_column_values_to_match_strftime_format" =>
        val fmt = strftimeToJava(str(a, "strftime_format").get)
        Some(try_to_timestamp(c.cast("string"), lit(fmt)).isNotNull)
      case _ => None
    }
  }

  /** Translate the strftime directives GX date expectations use into the
    * Java DateTimeFormatter pattern Spark parses. Unknown directives are
    * rejected rather than silently mis-parsed. */
  private[dq] def strftimeToJava(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      val ch = fmt.charAt(i)
      if (ch == '%' && i + 1 < fmt.length) {
        sb ++= (fmt.charAt(i + 1) match {
          case 'Y' => "yyyy"
          case 'y' => "yy"
          case 'm' => "MM"
          case 'd' => "dd"
          case 'H' => "HH"
          case 'M' => "mm"
          case 'S' => "ss"
          case 'j' => "DDD"
          case '%' => "%"
          case other => sys.error(s"unsupported strftime directive %$other in '$fmt'")
        })
        i += 2
      } else {
        // quote literal letters so they aren't read as pattern fields;
        // a literal quote itself must double per DateTimeFormatter rules
        if (ch == '\'') sb ++= "''"
        else if (ch.isLetter) { sb += '\''; sb += ch; sb += '\'' }
        else sb += ch
        i += 1
      }
    }
    sb.toString
  }

  /** Parse a GX `partition_object` into per-bucket membership predicates
    * plus the expected weights: categorical `{"values": [...], "weights":
    * [...]}` buckets on equality; continuous `{"bins": [b0..bk],
    * "weights": [...]}` buckets on half-open ranges [b_i, b_i+1) with the
    * last bin closed (the GX histogram convention). */
  private def partitionBuckets(f: DQFunctionSpec): (Seq[Column], Seq[Double]) = {
    val a = f.args
    val po = a.get("partition_object").collect {
      case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    }.getOrElse(sys.error(s"${f.function} needs partition_object"))
    def doubles(k: String): Option[Seq[Double]] = po.get(k).collect {
      case s: Seq[_] => s.map { case n: Number => n.doubleValue() }.toSeq
    }
    val weights = doubles("weights")
      .getOrElse(sys.error(s"${f.function} partition_object needs weights"))
    val c = col(str(a, "column").get)
    val buckets: Seq[Column] = po.get("values") match {
      case Some(vs: Seq[_]) => vs.map(v => c === lit(v)).toSeq
      case _ =>
        val bins = doubles("bins")
          .getOrElse(sys.error(s"${f.function} partition_object needs values or bins"))
        bins.sliding(2).toSeq.zipWithIndex.map { case (pair, i) =>
          val (lo, hi) = (pair.head, pair.last)
          if (i == bins.length - 2) c >= lo && c <= hi else c >= lo && c < hi
        }
    }
    require(buckets.length == weights.length,
      s"${f.function}: ${buckets.length} buckets vs ${weights.length} weights")
    (buckets, weights)
  }

  /** Table expectations expressible as plain aggregate columns: the
    * aggregates to fold into ONE combined pass plus the outcome built
    * from the corresponding value slice. [[runOutcome]] and
    * [[stageOutcome]] fold every such expectation in a suite into one
    * pass (a collect or an observation) — a suite with N aggregate
    * expectations costs one scan, not N, the table-level analogue of the
    * single-scan row-expectation pass. */
  private def aggExpectation(
      f: DQFunctionSpec): Option[(Seq[Column], Seq[Any] => ExpectationOutcome)] = {
    val a = f.args
    // a non-numeric bound on an aggregate expectation would be silently
    // dropped by num() — turning the check into a vacuous always-pass —
    // so it fails loudly instead (date-bounded aggregates are not
    // supported by this family; the row-level between takes strings)
    def bound(key: String): Option[Double] = a.get(key).map {
      case n: Number => n.doubleValue()
      case other => sys.error(
        s"${f.function}: non-numeric $key bound '$other' — aggregate " +
          "bounds must be numbers")
    }
    def inBounds(v: Double): Boolean =
      bound("min_value").forall(v >= _) && bound("max_value").forall(v <= _)
    def numVal(x: Any): Double = x match {
      case null => Double.NaN // empty input: no bound can hold
      case n: Number => n.doubleValue()
      case other => sys.error(s"${f.function}: non-numeric aggregate $other")
    }
    def scalar(agg: Column, elementCount: Long = 1L)
        : Option[(Seq[Column], Seq[Any] => ExpectationOutcome)] =
      Some(Seq(agg) -> { vs =>
        val v = numVal(vs.head)
        val ok = inBounds(v)
        ExpectationOutcome(f.function, a, ok, elementCount,
          if (ok) 0 else 1, Some(v))
      })
    f.function match {
      case "expect_table_row_count_to_be_between" =>
        Some(Seq(count(lit(1))) -> { vs =>
          val n = numVal(vs.head).toLong
          val ok = inBounds(n.toDouble)
          ExpectationOutcome(f.function, a, ok, n, if (ok) 0 else n, Some(n.toDouble))
        })
      case "expect_table_row_count_to_equal" =>
        Some(Seq(count(lit(1))) -> { vs =>
          val n = numVal(vs.head).toLong
          val ok = num(a, "value").contains(n.toDouble)
          ExpectationOutcome(f.function, a, ok, n, if (ok) 0 else n, Some(n.toDouble))
        })
      case "expect_column_mean_to_be_between" =>
        scalar(avg(col(str(a, "column").get)).cast("double"))
      case "expect_column_sum_to_be_between" =>
        scalar(sum(col(str(a, "column").get)).cast("double"))
      case "expect_column_max_to_be_between" =>
        scalar(max(col(str(a, "column").get)).cast("double"))
      case "expect_column_min_to_be_between" =>
        scalar(min(col(str(a, "column").get)).cast("double"))
      case "expect_column_stdev_to_be_between" =>
        scalar(stddev(col(str(a, "column").get)).cast("double"))
      case "expect_column_median_to_be_between" =>
        // optional `accuracy`: percentile_approx's rank error is bounded
        // by n/accuracy, so callers comparing against an exact engine
        // (e.g. q81's oracle) raise it to keep the estimate exact at
        // their cardinality
        val accuracy = num(a, "accuracy").map(_.toInt).getOrElse(10000)
        scalar(percentile_approx(col(str(a, "column").get).cast("double"),
          lit(0.5), lit(accuracy)).cast("double"))
      case "expect_column_unique_value_count_to_be_between" =>
        Some(Seq(count_distinct(col(str(a, "column").get))) -> { vs =>
          val n = numVal(vs.head).toLong
          val ok = inBounds(n.toDouble)
          ExpectationOutcome(f.function, a, ok, n, if (ok) 0 else 1, Some(n.toDouble))
        })
      case "expect_column_proportion_of_unique_values_to_be_between" =>
        val c = col(str(a, "column").get)
        Some(Seq(count_distinct(c), count(c)) -> { vs =>
          val (u, n) = (numVal(vs.head).toLong, numVal(vs(1)).toLong)
          val v = if (n == 0) 0.0 else u.toDouble / n
          val ok = inBounds(v)
          ExpectationOutcome(f.function, a, ok, n, if (ok) 0 else 1, Some(v))
        })
      case "expect_column_distinct_values_to_contain_set" =>
        // set ⊆ distinct(column): count the wanted values present via a
        // filtered distinct aggregate — foldable into the combined pass
        val want = anySeq(a, "value_set").map(String.valueOf(_)).distinct.toSeq
        val v = coalesce(col(str(a, "column").get).cast("string"), lit("null"))
        val inSet = if (want.isEmpty) lit(false) else v.isin(want: _*)
        Some(Seq(count_distinct(when(inSet, v))) -> { vs =>
          val missing = want.length - numVal(vs.head).toLong
          ExpectationOutcome(f.function, a, missing == 0, want.length.toLong, missing)
        })
      // ---- distribution family (GX gallery names; the reference accepts
      // any GX expectation, `core/definitions.py:739-749`). KL divergence
      // and chi-square bucket counts are conditional sums, kurtosis/skew
      // are built-in aggregates — all fold into the combined single-scan
      // pass like the rest of the table-level family. ------------------
      case "expect_column_kurtosis_to_be_between" =>
        // Spark kurtosis = population excess kurtosis (m4/m2^2 - 3)
        scalar(kurtosis(col(str(a, "column").get).cast("double")))
      case "expect_column_skew_to_be_between" =>
        scalar(skewness(col(str(a, "column").get).cast("double")))
      case "expect_column_kl_divergence_to_be_less_than" =>
        // KL(observed || expected) over the partition buckets; rows
        // outside every bucket are excluded from the observed mass (pass
        // an explicit tail bucket to count them). p=0 buckets contribute
        // 0 (the p->0 limit); expected weight 0 with observed mass is
        // infinite divergence.
        val (buckets, weights) = partitionBuckets(f)
        val threshold = num(a, "threshold").getOrElse(Double.PositiveInfinity)
        Some(buckets.map(b => sum(when(b, 1L).otherwise(0L))) -> { vs =>
          val counts = vs.map(v =>
            if (v == null) 0L else v.asInstanceOf[Number].longValue())
          val total = counts.sum
          val kl =
            if (total == 0L) Double.NaN
            else counts.zip(weights).map { case (cnt, q) =>
              val p = cnt.toDouble / total
              if (p == 0.0) 0.0
              else if (q <= 0.0) Double.PositiveInfinity
              else p * math.log(p / q)
            }.sum
          val ok = kl < threshold
          ExpectationOutcome(f.function, a, ok, total, if (ok) 0 else 1, Some(kl))
        })
      case "expect_column_chisquare_test_p_value_to_be_greater_than" =>
        // Pearson goodness-of-fit against the partition weights;
        // p-value from the chi-squared CDF (commons-math3, shipped with
        // Spark), dof = buckets - 1. success = p > threshold, which is
        // equivalent to stat < chi2inv(1 - threshold, dof) — the form a
        // SQL oracle can mirror with a critical-value constant.
        val (buckets, weights) = partitionBuckets(f)
        val pThreshold = num(a, "p").getOrElse(0.05)
        Some(buckets.map(b => sum(when(b, 1L).otherwise(0L))) -> { vs =>
          val counts = vs.map(v =>
            if (v == null) 0L else v.asInstanceOf[Number].longValue())
          val total = counts.sum
          val pValue =
            if (total == 0L) Double.NaN
            else {
              val stat = counts.zip(weights).map { case (cnt, w) =>
                val expd = w * total
                if (expd == 0.0) { if (cnt == 0L) 0.0 else Double.PositiveInfinity }
                else { val d = cnt - expd; d * d / expd }
              }.sum
              if (stat.isInfinite) 0.0
              else 1.0 - new org.apache.commons.math3.distribution
                .ChiSquaredDistribution(math.max(1, buckets.length - 1).toDouble)
                .cumulativeProbability(stat)
            }
          val ok = pValue > pThreshold
          ExpectationOutcome(f.function, a, ok, total, if (ok) 0 else 1, Some(pValue))
        })
      case "expect_column_distinct_values_to_equal_set" =>
        // both directions as two filtered distinct aggregates: missing
        // wanted values + extra out-of-set values
        val want = anySeq(a, "value_set").map(String.valueOf(_)).distinct.toSeq
        val v = coalesce(col(str(a, "column").get).cast("string"), lit("null"))
        val inSet = if (want.isEmpty) lit(false) else v.isin(want: _*)
        Some(Seq(count_distinct(when(inSet, v)),
          count_distinct(when(!inSet, v))) -> { vs =>
          val (present, extra) = (numVal(vs.head).toLong, numVal(vs(1)).toLong)
          val bad = (want.length - present) + extra
          ExpectationOutcome(f.function, a, bad == 0,
            want.length.toLong + extra, bad)
        })
      case _ => None
    }
  }

  /** Evaluate a table-level expectation (one aggregate action). */
  def tableExpectation(spark: SparkSession, df: DataFrame, f: DQFunctionSpec): Option[ExpectationOutcome] = {
    val a = f.args
    aggExpectation(f).foreach { case (aggs, mk) =>
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      return Some(mk(row.toSeq))
    }
    f.function match {
      case "expect_column_distinct_values_to_be_in_set" =>
        val c = str(a, "column").get
        val set = anySeq(a, "value_set").map(String.valueOf(_)).toSeq
        // Distributed anti-filter: never collect the full distinct set —
        // on a mis-targeted high-cardinality column that would OOM the
        // driver. One aggregate over the distinct values yields the
        // cardinality and the out-of-set count; only a bounded sample of
        // the violating values lands on the driver. (Values compare by
        // their Spark SQL string rendering, nulls as the string "null" —
        // note timestamps render as "yyyy-MM-dd HH:mm:ss", not
        // java.sql.Timestamp.toString.)
        val v = coalesce(col(c).cast("string"), lit("null"))
        val distinctVals = df.select(v.as("__v")).distinct()
        val inSet =
          if (set.isEmpty) lit(false) else col("__v").isin(set: _*)
        // coalesce: sum over an EMPTY table is NULL; empty input is
        // vacuously in-set (the old collect-based path's behavior)
        val row = distinctVals
          .agg(count(lit(1)).as("__n"),
            coalesce(sum(when(!inSet, 1L).otherwise(0L)), lit(0L)).as("__bad"))
          .collect()(0)
        val (n, bad) = (row.getLong(0), row.getLong(1))
        val sample =
          if (bad == 0) Seq.empty[String]
          else distinctVals.where(!inSet).limit(UnexpectedSampleLimit)
            .collect().map(_.getString(0)).toSeq
        Some(ExpectationOutcome(f.function, a, bad == 0, n, bad,
          unexpectedIndexList = sample))
      case "expect_column_values_to_be_unique" =>
        // GX column-map semantics: a row is unexpected when its NON-NULL
        // value occurs more than once; nulls are missing (skipped), and
        // `mostly` compares against the non-null count — the strict
        // dups==0 shortcut silently ignored a stated mostly. One
        // aggregate over the group counts also yields n (sum of counts),
        // dropping the separate df.count() scan.
        val c = str(a, "column").get
        val row = df.groupBy(col(c)).count()
          .agg(coalesce(sum(col("count")), lit(0L)).as("__n"),
            coalesce(sum(when(col(c).isNotNull, col("count"))
              .otherwise(0L)), lit(0L)).as("__nn"),
            coalesce(sum(when(col(c).isNotNull && col("count") > 1, col("count"))
              .otherwise(0L)), lit(0L)).as("__dups"))
          .collect()(0)
        val (n, nonNull, dups) = (row.getLong(0), row.getLong(1), row.getLong(2))
        val mostly = num(a, "mostly").getOrElse(1.0)
        val ok = nonNull == 0 || 1.0 - dups.toDouble / nonNull >= mostly
        Some(ExpectationOutcome(f.function, a, ok, n, dups))
      case "expect_table_row_count_to_equal_other_table" =>
        val other = str(a, "other_table_name").get
        val (n, m) = (df.count(), spark.table(other).count())
        Some(ExpectationOutcome(f.function, a, n == m, n,
          if (n == m) 0 else math.abs(n - m), Some(n.toDouble)))
      // ---- schema-level (no data scan at all) --------------------------
      case "expect_column_to_exist" =>
        val c = str(a, "column").get
        val idx = num(a, "column_index").map(_.toInt)
        val ok = idx match {
          case Some(i) => df.columns.lift(i).contains(c)
          case None => df.columns.contains(c)
        }
        Some(ExpectationOutcome(f.function, a, ok, 1, if (ok) 0 else 1))
      case "expect_table_column_count_to_be_between" =>
        val n = df.columns.length
        val ok = num(a, "min_value").forall(n >= _) && num(a, "max_value").forall(n <= _)
        Some(ExpectationOutcome(f.function, a, ok, n.toLong, if (ok) 0 else 1, Some(n.toDouble)))
      case "expect_table_columns_to_match_ordered_list" =>
        val want = anySeq(a, "column_list").map(String.valueOf(_))
        val ok = df.columns.toSeq == want
        Some(ExpectationOutcome(f.function, a, ok, df.columns.length.toLong, if (ok) 0 else 1))
      case "expect_table_columns_to_match_set" =>
        val want = anySeq(a, "column_set").map(String.valueOf(_)).toSet
        val exact = !a.get("exact_match").contains(false)
        val have = df.columns.toSet
        val ok = if (exact) have == want else want.subsetOf(have)
        Some(ExpectationOutcome(f.function, a, ok, df.columns.length.toLong, if (ok) 0 else 1))
      case "expect_column_values_to_be_of_type" |
           "expect_column_values_to_be_in_type_list" =>
        val c = str(a, "column").get
        val wanted =
          if (f.function.endsWith("in_type_list")) anySeq(a, "type_list").map(String.valueOf(_))
          else Seq(str(a, "type_").orElse(str(a, "type")).get)
        val dt = df.schema(c).dataType
        // accept Spark's typeName ("integer"), simpleString ("int") and
        // the GX/Spark class spelling ("IntegerType")
        val names = Set(dt.typeName, dt.simpleString,
          dt.getClass.getSimpleName.stripSuffix("$")).map(_.toLowerCase)
        val ok = wanted.exists(w => names(w.toLowerCase))
        Some(ExpectationOutcome(f.function, a, ok, 1, if (ok) 0 else 1))
      case "expect_compound_columns_to_be_unique" =>
        // GX multicolumn-map semantics: rows where ALL key columns are
        // NULL are missing (default ignore_row_if=all_values_are_missing)
        // and `mostly` compares against the remaining rows — the strict
        // dups==0 shortcut silently ignored a stated mostly. n derives
        // from the same aggregate (no separate count scan).
        val cols = anySeq(a, "column_list").map(n => col(String.valueOf(n)))
        val notMissing = cols.map(_.isNotNull).reduce(_ || _)
        val row = df.groupBy(cols: _*).agg(count(lit(1)).as("__n"))
          .agg(coalesce(sum(col("__n")), lit(0L)).as("__t"),
            coalesce(sum(when(notMissing, col("__n")).otherwise(0L)),
              lit(0L)).as("__nn"),
            coalesce(sum(when(notMissing && col("__n") > 1, col("__n"))
              .otherwise(0L)), lit(0L)).as("__dups"))
          .collect()(0)
        val (n, nonMissing, dups) = (row.getLong(0), row.getLong(1), row.getLong(2))
        val mostly = num(a, "mostly").getOrElse(1.0)
        val ok = nonMissing == 0 || 1.0 - dups.toDouble / nonMissing >= mostly
        Some(ExpectationOutcome(f.function, a, ok, n, dups))
      case "expect_column_value_z_scores_to_be_less_than" =>
        // two bounded actions: one aggregate for mean/stddev, one scan
        // counting |z| >= threshold (never a per-row collect)
        val c = str(a, "column").get
        val thr = num(a, "threshold").get
        val doubleSided = !a.get("double_sided").contains(false)
        val stats = df.agg(avg(col(c)).cast("double"),
          stddev(col(c)).cast("double")).collect()(0)
        if (stats.isNullAt(1) || stats.getDouble(1) == 0.0)
          Some(ExpectationOutcome(f.function, a, success = true, df.count(), 0))
        else {
          val z = (col(c) - stats.getDouble(0)) / stats.getDouble(1)
          val zc = if (doubleSided) abs(z) else z
          val row = df.agg(count(col(c)),
            coalesce(sum(when(zc >= thr, 1L).otherwise(0L)), lit(0L))).collect()(0)
          val (n, bad) = (row.getLong(0), row.getLong(1))
          Some(ExpectationOutcome(f.function, a, bad == 0, n, bad))
        }
      // ---- quantile-array / mode / set families ------------------------
      case "expect_column_quantile_values_to_be_between" =>
        // args: quantile_ranges: {quantiles: [...], value_ranges: [[lo,hi],...]}
        // one percentile_approx aggregate evaluates every requested
        // quantile in a single scan (GX runs one metric per quantile)
        val c = str(a, "column").get
        val qr = f.args("quantile_ranges").asInstanceOf[Map[String, Any]]
        val qs = anySeq(qr, "quantiles").map(x => String.valueOf(x).toDouble)
        val ranges = anySeq(qr, "value_ranges").map {
          case r: Seq[_] => (String.valueOf(r.head).toDouble, String.valueOf(r(1)).toDouble)
          case other => sys.error(s"bad value_range: $other")
        }
        require(qs.length == ranges.length, "quantiles and value_ranges must align")
        val row = df.agg(percentile_approx(col(c).cast("double"),
            array(qs.map(lit): _*), lit(10000)).as("q"))
          .collect()(0)
        // empty/all-null input: no quantile can sit inside its range
        val bad =
          if (row.isNullAt(0)) qs.length
          else row.getSeq[Double](0).zip(ranges)
            .count { case (v, (lo, hi)) => v < lo || v > hi }
        Some(ExpectationOutcome(f.function, a, bad == 0, qs.length.toLong, bad.toLong))
      case "expect_column_most_common_value_to_be_in_set" =>
        // mode via one groupBy-count; ties resolved like GX's ties_okay:
        // success if ANY of the tied modes is in the set
        val c = str(a, "column").get
        val set = anySeq(a, "value_set").map(String.valueOf(_)).toSet
        val counts = df.groupBy(col(c).cast("string").as("__v"))
          .agg(count(lit(1)).as("__n"))
        // ONE TakeOrdered job (r19): the top SampleLimit groups by count
        // necessarily contain every tied mode up to the same cap the old
        // max-then-filter pair enforced (two jobs over the same grouped
        // counts), and an empty table yields no rows (no mode, fails the
        // set) exactly like the old NULL max.
        val top = counts.orderBy(col("__n").desc)
          .limit(UnexpectedSampleLimit).collect()
        val modes = top.headOption.map(_.getLong(1)).toSeq.flatMap(t =>
          top.filter(_.getLong(1) == t).map(_.getString(0)))
        val ok = modes.exists(set)
        Some(ExpectationOutcome(f.function, a, ok, modes.length.toLong,
          if (ok) 0 else 1, unexpectedIndexList = if (ok) Seq.empty else modes.toSeq))
      case "expect_queried_column_agg_value_to_be" =>
        // reference `expect_queried_column_agg_value_to_be.py`: a
        // `template_dict` (column, group_column_list, agg_type, condition
        // between|greater|lesser, min_value/max_value) renders
        //   SELECT {group_column_list}, {agg_type}({column})
        //   FROM {batch} GROUP BY {group_column_list}
        // and EVERY group's aggregate must satisfy the condition. A raw
        // `template_dict_query`/`query` is kept as a compat alias.
        // the batch rides a RUN-SCOPED view name (GX substitutes its own
        // generated batch view into {batch}): a fixed name like "batch"
        // would silently clobber — and leak over — any same-named view
        // the user registered on the session
        val view = s"graft_dq_batch_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        df.createOrReplaceTempView(view)
        val td = a.get("template_dict").collect { case m: Map[_, _] =>
          m.map { case (k, v) => String.valueOf(k) -> v } }
        val (sqlText, condition, minV, maxV) = td match {
          case Some(t) =>
            def ts(k: String) = t.get(k).map(String.valueOf(_))
            def tn(k: String) = t.get(k).collect { case n: Number => n.doubleValue() }
            val groupCols = ts("group_column_list").get
            (s"SELECT $groupCols, ${ts("agg_type").get}(${ts("column").get}) " +
              s"FROM $view GROUP BY $groupCols",
              ts("condition").getOrElse("between"), tn("min_value"), tn("max_value"))
          case None =>
            (str(a, "template_dict_query").orElse(str(a, "query")).get
              .replace("{table}", view),
              "between", num(a, "min_value"), num(a, "max_value"))
        }
        val rows =
          try spark.sql(sqlText).collect()
          finally spark.catalog.dropTempView(view)
        // The reference's `_generate_dict` coerces the LAST projected
        // column with Python `int(...)` — its own scenario schemas declare
        // every column (incl. the aggregated one) as string, so the value
        // can arrive as e.g. '900'. Mirror that: numeric fast path, else
        // string-to-double coercion, and only a genuinely non-numeric
        // value is an error.
        def aggValue(r: org.apache.spark.sql.Row, i: Int): Double = r.get(i) match {
          case n: Number => n.doubleValue()
          case other =>
            try String.valueOf(other).trim.toDouble
            catch {
              case _: NumberFormatException => throw new IllegalArgumentException(
                "expect_queried_column_agg_value_to_be: the query must return " +
                  s"a numeric aggregate; got '$other'")
            }
        }
        // Both paths follow the reference's `_generate_dict` row shape:
        // group columns first, the aggregate LAST. Deliberate divergence:
        // we require EVERY group's aggregate to pass, while the reference's
        // `_validate_condition` overwrites `result` per iteration so only
        // the LAST group decides success (a reference bug) — we keep the
        // stricter all-groups semantics, which is the expectation's
        // documented intent.
        val values = rows.map(r => aggValue(r, r.length - 1))
        def pass(v: Double): Boolean = condition match {
          case "greater" => minV.forall(v > _)
          case "lesser" => maxV.forall(v < _)
          case _ => minV.forall(v >= _) && maxV.forall(v <= _)
        }
        val bad = values.count(v => !pass(v))
        Some(ExpectationOutcome(f.function, a, bad == 0,
          values.length.toLong, bad.toLong, values.find(v => !pass(v)).orElse(values.headOption)))
      case _ => None
    }
  }

  /** Run a DQ spec: one scan for every row-level and aggregate table
    * expectation + one action per other table-level expectation; apply
    * the failure policy. The aggregates are evaluated by one collect. */
  def runOutcome(spark: SparkSession, df: DataFrame,
      spec: DQSpec): (DQRunResult, Option[DQValidationFailedException]) = {
    val (_, result, failure) = outcome(spark, df, spec) { aggs =>
      (df, if (aggs.isEmpty) None else Some(df.agg(aggs.head, aggs.tail: _*).collect()(0)))
    }
    (result, failure)
  }

  /** Run a DQ spec over one staged evaluation of `df`, and return the
    * stage with the outcome. The stage is one eager pass
    * ([[graft.exec.Stage]], job description `dq:<spec_id>`) that also
    * observes the row and aggregate expectations, so the rows the run
    * counts are the rows every later reader of the stage sees. DISTINCT
    * aggregates, which observations reject, and the other table
    * expectations are evaluated on the stage. */
  def stageOutcome(spark: SparkSession, df: DataFrame, spec: DQSpec)
      : (DataFrame, DQRunResult, Option[DQValidationFailedException]) = {
    val name = s"dq:${spec.specId}"
    outcome(spark, df, spec) { aggs =>
      val named = aggs.zipWithIndex.map { case (c, i) => c.as(s"__a$i") }
      val isDistinct = if (aggs.isEmpty) Seq.empty else distinctAggregates(df, named)
      val (distinct, observed) = named.indices.partition(isDistinct)
      val observing =
        if (observed.isEmpty) df
        else df.observe(name, named(observed.head), observed.tail.map(named): _*)
      val staged = Stage.eager(observing, name)
      val values = new Array[Any](aggs.size)
      if (observed.nonEmpty) {
        val row = ObservedMetrics.of(observing)(name)
        observed.zipWithIndex.foreach { case (i, j) => values(i) = row.get(j) }
      }
      if (distinct.nonEmpty) {
        val row = staged.agg(named(distinct.head), distinct.tail.map(named): _*).collect()(0)
        distinct.zipWithIndex.foreach { case (i, j) => values(i) = row.get(j) }
      }
      (staged, if (aggs.isEmpty) None else Some(Row.fromSeq(values.toSeq)))
    }
  }

  /** Which of `aggs` hold a DISTINCT aggregate (`count_distinct` et al.),
    * read off the analyzed `df.agg(aggs)`; no job runs. */
  private def distinctAggregates(df: DataFrame, aggs: Seq[Column]): Seq[Boolean] =
    df.agg(aggs.head, aggs.tail: _*).queryExecution.analyzed match {
      case a: Aggregate => a.aggregateExpressions.map(_.exists {
        case e: AggregateExpression => e.isDistinct
        case _ => false
      })
      case other => sys.error(s"unexpected aggregate plan: ${other.nodeName}")
    }

  /** The one evaluation plan behind [[runOutcome]] and [[stageOutcome]]:
    * `evaluate` gets the spec's aggregate columns (possibly none) and
    * returns the frame every other read of the run uses plus the
    * aggregates' values (None when there are none). */
  private def outcome(spark: SparkSession, df: DataFrame, spec: DQSpec)(
      evaluate: Seq[Column] => (DataFrame, Option[Row]))
      : (DataFrame, DQRunResult, Option[DQValidationFailedException]) = {
    // Each function instance carries its own critical flag — the same
    // function name may appear in both lists with different args, so
    // outcomes must never be classified by name.
    val allFns: Seq[(DQFunctionSpec, Boolean)] =
      spec.dqFunctions.map(_ -> false) ++ spec.criticalFunctions.map(_ -> true)
    val rowFns = allFns.flatMap { case (f, crit) => rowPredicate(f).map(p => (f, crit, p)) }
    val tableFns = allFns.filter { case (f, _) => rowPredicate(f).isEmpty }

    // ONE evaluation of the aggregates scans the input for every row
    // expectation's counts and every aggregate-expressible table
    // expectation; the other table expectations evaluate one by one.
    //
    // GX column-map semantics: a row whose predicate is NULL (the null
    // domain of the expectation, e.g. a NULL value under
    // in_set/regex/between) is MISSING, not unexpected — GX filters
    // unexpected rows as `~condition`, which drops nulls — and `mostly`
    // compares against the NON-MISSING count, not count(*). The custom
    // pair/multicolumn expectations encode the same rule inside their
    // predicates (coalesce(..., true)), so for them the non-missing count
    // equals count(*) and nothing changes. `when(!pred, 1)` skips NULL
    // predicates by construction (a NULL condition falls through to
    // otherwise(0)).
    val rowAggs =
      if (rowFns.isEmpty) Seq.empty
      else count(lit(1)).as("__n") +:
        rowFns.zipWithIndex.flatMap { case ((_, _, pred), i) =>
          Seq(sum(when(!pred, 1L).otherwise(0L)).as(s"__u$i"),
            sum(when(pred.isNotNull, 1L).otherwise(0L)).as(s"__nn$i"))
        }
    val aggPlans = tableFns.map { case (f, crit) => (f, crit, aggExpectation(f)) }
    val planned = aggPlans.zipWithIndex.collect {
      case ((_, crit, Some((aggs, mk))), i) => (i, crit, aggs, mk)
    }
    val allAggs = rowAggs ++ planned.flatMap(_._3)
    val (evaluated, aggRow) = evaluate(allAggs)

    val rowOutcomes: Seq[(ExpectationOutcome, Boolean)] = aggRow match {
      case Some(row) if rowFns.nonEmpty =>
        val n = row.getLong(0)
        // sum over an EMPTY input is NULL — read the slots null-safely
        // (an empty streaming micro-batch must not NPE the DQ pass)
        def slot(j: Int): Long = if (row.isNullAt(j)) 0L else row.getLong(j)
        rowFns.zipWithIndex.map { case ((f, crit, _), i) =>
          val unexpected = slot(1 + 2 * i)
          val nonMissing = slot(2 + 2 * i)
          val mostly = num(f.args, "mostly").getOrElse(1.0)
          val okFraction =
            if (nonMissing == 0) 1.0 else 1.0 - unexpected.toDouble / nonMissing
          ExpectationOutcome(f.function, f.args, okFraction >= mostly, n, unexpected) -> crit
        }
      case _ => Seq.empty
    }
    // bounded failing-PK collection per failing expectation (reference
    // `dq_factory.py:851-994` chunks these to protect the driver)
    val rowOutcomesWithIdx =
      if (spec.unexpectedRowsPk.isEmpty) rowOutcomes
      else rowOutcomes.zip(rowFns).map { case ((o, crit), (_, _, pred)) =>
        if (o.success || o.unexpectedCount == 0) (o, crit)
        else {
          val sample = evaluated.where(coalesce(!pred, lit(false)))
            .select(to_json(struct(spec.unexpectedRowsPk.map(col): _*)))
            .limit(UnexpectedSampleLimit)
            .collect().map(_.getString(0)).toSeq
          (o.copy(unexpectedIndexList = sample), crit)
        }
      }
    val combined: Map[Int, (ExpectationOutcome, Boolean)] = aggRow.fold(
        Map.empty[Int, (ExpectationOutcome, Boolean)]) { row =>
      var off = rowAggs.length
      planned.map { case (i, crit, aggs, mk) =>
        val slice = aggs.indices.map(j => row.get(off + j))
        off += aggs.length
        i -> (mk(slice), crit)
      }.toMap
    }
    val tableOutcomes: Seq[(ExpectationOutcome, Boolean)] =
      aggPlans.zipWithIndex.flatMap {
        case ((_, _, Some(_)), i) => combined.get(i)
        case ((f, crit, None), _) => tableExpectation(spark, evaluated, f).map(_ -> crit)
      }
    val unknown = tableFns.filterNot { case (f, _) =>
      tableOutcomes.exists(_._1.function == f.function)
    }
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(
        s"unknown dq functions: ${unknown.map(_._1.function).mkString(", ")}")

    val outcomePairs = rowOutcomesWithIdx ++ tableOutcomes
    val outcomes = outcomePairs.map(_._1)
    val failedPairs = outcomePairs.filterNot(_._1.success)
    val failed = failedPairs.map(_._1)
    val criticalFailed = failedPairs.collect { case (o, true) => o }
    val pctFailed =
      if (outcomes.isEmpty) 0.0 else failed.size.toDouble / outcomes.size
    // Policy (reference `dq_factory.py` _log_or_fail): three INDEPENDENT
    // checks — any critical-instance failure raises; max_percentage_failure
    // bounds the overall failure rate; fail_on_error raises on any failure.
    // A spec that wants the percentage bound to govern alone must set
    // fail_on_error=false explicitly.
    val policyBreached =
      criticalFailed.nonEmpty ||
        spec.maxPercentageFailure.exists(pctFailed > _) ||
        (spec.failOnError && failed.nonEmpty)

    // run name in the reference's GX shape
    // (`{ts}-{spec_id}-{input_id}-{batch}-checkpoint`): its golden
    // compares strip the digit segments, leaving the id structure
    val ts = java.time.LocalDateTime.now().format(
      java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd-HHmmss"))
    val result = DQRunResult(
      s"$ts-${spec.specId}-${spec.inputId}-${System.currentTimeMillis()}-checkpoint",
      failed.isEmpty, outcomes)
    val failure =
      if (!policyBreached) None
      else Some(new DQValidationFailedException(
        s"DQ run ${result.runName} failed: " +
          failed.map(o => s"${o.function}(${o.unexpectedCount}/${o.elementCount})")
            .mkString("; ")))
    (evaluated, result, failure)
  }

  /** Run a DQ spec and apply the failure policy. Like the reference
    * (`dq_factory.py` _process_chunk), callers that own a result sink
    * should use [[runOutcome]] so the sink is written BEFORE the policy
    * breach is raised — the failed run's results must land in the sink. */
  def run(spark: SparkSession, df: DataFrame, spec: DQSpec): DQRunResult = {
    val (result, failure) = runOutcome(spark, df, spec)
    failure.foreach(throw _)
    result
  }

  /** PRISMA variant: load expectation rows from a rules table
    * (reference `utils/dq_utils.py:18-284`). Rule rows carry
    * (dq_rule_id, dq_tech_function as "name(argJson)", execution_point,
    * dimension, filter_exp); rule ids must be unique. */
  def rulesFromTable(
      spark: SparkSession,
      rulesDf: DataFrame,
      executionPoint: Option[String] = None): Seq[DQFunctionSpec] = {
    val filtered = executionPoint match {
      case Some(ep) => rulesDf.where(col("execution_point") === ep)
      case None => rulesDf
    }
    val rows = filtered.select("dq_rule_id", "dq_tech_function").collect()
    val ids = rows.map(_.getString(0))
    val dupIds = ids.groupBy(identity).collect { case (id, g) if g.length > 1 => id }
    if (dupIds.nonEmpty)
      throw new IllegalArgumentException(
        s"duplicate dq_rule_id values in rules table: ${dupIds.mkString(", ")}")
    rows.toSeq.map { r =>
      val spec = r.getString(1)
      val open = spec.indexOf('(')
      if (open < 0) DQFunctionSpec(spec.trim)
      else {
        val fn = spec.substring(0, open).trim
        val argsJson = spec.substring(open + 1, spec.lastIndexOf(')')).trim
        val args =
          if (argsJson.isEmpty) Map.empty[String, Any]
          else graft.spec.Specs.parseJsonMap(argsJson)
        DQFunctionSpec(fn, args)
      }
    }
  }

  /** Tag each source row with the reference's `dq_validations` struct
    * (`core/definitions.py:563-588`): pure projection, no join — each
    * row-level expectation contributes a failure detail when its
    * predicate fails on that row. */
  def tagSource(df: DataFrame, spec: DQSpec, runResult: DQRunResult): DataFrame = {
    val rowFns = (spec.dqFunctions ++ spec.criticalFunctions)
      .flatMap(f => rowPredicate(f).map(f -> _))
    if (rowFns.isEmpty)
      // no row-level expectations: every row still gets the complementary
      // struct — run-level success only, run_row_success true, no details
      // (reference `validator.py` _join_complementary_data; a TABLE-level
      // failure flips run_success but never tags rows)
      return df.withColumn("dq_validations",
        struct(
          lit(runResult.runName).as("run_name"),
          lit(runResult.success).as("run_success"),
          lit(false).as("raised_exceptions"),
          lit(true).as("run_row_success"),
          lit(null).cast("array<struct<expectation_type:string,kwargs:string>>")
            .as("dq_failure_details")))
    val details = array(rowFns.map { case (f, pred) =>
      when(coalesce(!pred, lit(false)),
        struct(lit(f.function).as("expectation_type"),
          // kwargs ride as compact JSON with numerics as doubles and the
          // keys ALPHABETICAL — the GX rendering the reference's tagged
          // controls pin (`dq_processors/validator.py` collect_set)
          lit(graft.spec.Specs.renderJson(
            scala.collection.immutable.ListMap(
              f.args.toSeq.filterNot(_._1 == "meta").sortBy(_._1)
                .map { case (k, v) => k -> stableJsonValue(v) }: _*))).as("kwargs")))
        .otherwise(lit(null))
    }: _*)
    val failures = filter(details, x => x.isNotNull)
    df.withColumn("dq_validations",
      struct(
        lit(runResult.runName).as("run_name"),
        lit(runResult.success).as("run_success"),
        lit(false).as("raised_exceptions"),
        (size(failures) === 0).as("run_row_success"),
        // rows without failures carry NULL details, like the reference's
        // complementary join (not an empty array)
        when(size(failures) > 0, failures).as("dq_failure_details")))
  }

  /** Chunked result sink with FULL unexpected-key coverage
    * (reference `dq_factory.py:851-994`, default 1M keys per chunk).
    *
    * The reference collects the complete unexpected_index_list to the
    * driver and slices it; at 10^9 failing rows that list IS the driver
    * OOM it chunks around. This re-expression keeps the keys distributed
    * end-to-end: failing keys get a global index via `zipWithIndex` (a
    * narrow per-partition offset computation, no shuffle of the keys to
    * one node), chunk membership is `index / chunkSize`, and each sink
    * row's key array is assembled by executor-side aggregation — the
    * driver never holds more than the plan. One sink row per
    * (expectation, chunk), exactly like the reference's split.
    */
  def resultSinkDfChunked(
      spark: SparkSession, df: DataFrame, spec: DQSpec,
      result: DQRunResult): DataFrame = {
    import spark.implicits._
    val base = resultSinkDf(spark, result, spec.specId)
      .withColumn("chunk_id", lit(0L))
    if (spec.unexpectedRowsPk.isEmpty) return base
    val rowFns = (spec.dqFunctions.map(_ -> false) ++ spec.criticalFunctions.map(_ -> true))
      .flatMap { case (f, _) => rowPredicate(f).map(f -> _) }
    val failing = result.outcomes.filter(o => !o.success && o.unexpectedCount > 0)
      .flatMap(o => rowFns.find { case (f, _) =>
        f.function == o.function && f.args == o.args
      }.map(o -> _._2))
    if (failing.isEmpty) return base
    val chunked = failing.map { case (o, pred) =>
      val keys = df.where(coalesce(!pred, lit(false)))
        .select(to_json(struct(spec.unexpectedRowsPk.map(col): _*)).as("k"))
      val indexed = keys.rdd.zipWithIndex()
        .map { case (r, i) => (i / spec.resultSinkChunkSize, r.getString(0)) }
        .toDF("chunk_id", "k")
      indexed.groupBy(col("chunk_id"))
        .agg(collect_list(col("k")).as("unexpected_index_list"))
        .withColumn("expectation_type", lit(o.function))
        .withColumn("kwargs",
          lit(o.args.map { case (k, v) => s"$k=$v" }.mkString(", ")))
    }.reduce(_ unionByName _)
    val failingTypes = failing.map { case (o, _) => (o.function, o.args) }.toSet
    val untouched = base.where(!result.outcomes.filter(o => failingTypes((o.function, o.args)))
      .map(o => col("expectation_type") === o.function &&
        col("kwargs") === o.args.map { case (k, v) => s"$k=$v" }.mkString(", "))
      .reduceOption(_ || _).getOrElse(lit(false)))
    val perChunk = base.drop("unexpected_index_list", "chunk_id")
      .join(chunked, Seq("expectation_type", "kwargs"))
    untouched.unionByName(perChunk, allowMissingColumns = false)
  }

  /** Exploded result sinks splat expectation kwargs into columns, so the
    * column set varies run to run; the reference therefore writes them with
    * mergeSchema=true (`dq_processors/dq_factory.py:952`). Default it on
    * the sink spec unless the ACON set the option itself. */
  def resultSinkSpec(dq: DQSpec, sink: graft.spec.OutputSpec): graft.spec.OutputSpec =
    if (dq.resultSinkExplode.contains(true) && !sink.options.contains("mergeSchema"))
      sink.copy(options = sink.options + ("mergeSchema" -> "true"))
    else sink

  /** The reference's RAW (non-exploded) result-sink layout
    * (`dq_factory.py:796-817` `_process_chunk` else-branch): ONE row per
    * DQ run carrying the run-level success, the spec/input ids, run
    * metadata, and the per-expectation outcomes as a `validation_results`
    * JSON array (each element has `success` and `expectation_config`,
    * which the reference's own tests introspect). */
  def resultSinkRaw(
      spark: SparkSession, spec: DQSpec, result: DQRunResult): DataFrame = {
    import spark.implicits._
    val now = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC).toString
    val validations = graft.spec.Specs.renderJson(result.outcomes.map { o =>
      Map(
        "success" -> o.success,
        "expectation_config" -> Map(
          "type" -> o.function,
          "kwargs" -> o.args),
        "result" -> (Map(
          "element_count" -> o.elementCount,
          "unexpected_count" -> o.unexpectedCount) ++
          o.observedValue.map("observed_value" -> _).toMap))
    })
    val unexpected = result.outcomes.flatMap(_.unexpectedIndexList)
    Seq((
      s"checkpoint_config_${spec.specId}", s"run_id_${spec.specId}",
      s"run_results_${spec.specId}", result.success, spec.specId, spec.inputId,
      result.runName, now, validations, spec.unexpectedRowsPk,
      if (unexpected.isEmpty) null else unexpected))
      .toDF("checkpoint_config", "run_id", "run_results", "success",
        "spec_id", "input_id", "run_name", "run_time", "validation_results",
        "source_primary_key", "unexpected_index_list")
  }

  /** Result-sink layout dispatch: Some(true) = reference EXPLODED,
    * Some(false) = reference RAW, None = the engine-local flat layout
    * (chunked over the failing keys when `unexpected_rows_pk` is set). The
    * driver-built layouts are written from one partition: one file per
    * run, not one per outcome row. */
  def resultSinkOutput(spark: SparkSession, df: DataFrame, spec: DQSpec,
      result: DQRunResult): DataFrame =
    spec.resultSinkExplode match {
      case Some(true) => resultSinkExploded(spark, spec, result).coalesce(1)
      case Some(false) => resultSinkRaw(spark, spec, result).coalesce(1)
      case None if spec.unexpectedRowsPk.nonEmpty => resultSinkDfChunked(spark, df, spec, result)
      case None => resultSinkDf(spark, result, spec.specId).coalesce(1)
    }

  /** The reference's EXPLODED result-sink layout (`dq_factory.py`
    * result-sink explode + `tests/.../data_validator_schema.json`): one
    * ANALYSIS row per expectation outcome carrying run metadata, the
    * run-level roll-up (evaluated / successful / unsuccessful /
    * success_percent), the expectation's kwargs SPLATTED into columns
    * (`column`, `min_value`, ... — whatever keys the run's expectations
    * use), the observed value, the failing-key sample and the source
    * primary key. Rows are assembled as JSON and read back, so kwarg
    * value types (numbers, strings, lists) surface as real column types
    * without a hand-maintained schema. Volatile fields (run_time,
    * checkpoint ids) match the reference's shape; its own golden
    * comparisons drop them. */
  /** Numeric kwargs splatted into sink columns are normalized to JSON
    * doubles: a run whose `min_value` is the integer 0 and a later run
    * whose is 0.5 must not leave bigint-vs-double parquet footers that no
    * mergeSchema can reconcile. The `kwargs` string column keeps the
    * user's original rendering. */
  private def stableJsonValue(v: Any): Any = v match {
    case n: java.lang.Number => n.doubleValue()
    // array-typed kwargs (value_set et al.) keep the user's rendering:
    // GX preserves them verbatim and the reference's controls pin the
    // integer spelling; the bigint-vs-double footer instability the
    // scalar rule guards against is a scalar-column phenomenon
    case other => other
  }

  def resultSinkExploded(
      spark: SparkSession, spec: DQSpec, result: DQRunResult): DataFrame = {
    import spark.implicits._
    val now = java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC)
    val evaluated = result.outcomes.size
    val successful = result.outcomes.count(_.success)
    val objs = result.outcomes.map { o =>
      val m = scala.collection.mutable.LinkedHashMap[String, Any](
        "checkpoint_config" -> s"checkpoint_config_${spec.specId}",
        "run_name" -> result.runName,
        "run_time" -> now.toString,
        // the reference serializes the row's own validation result here
        // (`dq_factory.py:526` to_json(validation_results)); tests
        // introspect it for `success` + `expectation_config`
        "validation_results" -> graft.spec.Specs.renderJson(Map(
          "success" -> o.success,
          "expectation_config" -> Map(
            "type" -> o.function, "kwargs" -> o.args),
          "result" -> (Map(
            "element_count" -> o.elementCount,
            "unexpected_count" -> o.unexpectedCount) ++
            o.observedValue.map("observed_value" -> _).toMap))),
        "success" -> result.success,
        "spec_id" -> spec.specId,
        "input_id" -> spec.inputId,
        "source" -> spec.source.getOrElse(spec.inputId),
        "batch_id" -> s"batch_id_${spec.specId}")
      o.args.foreach { case (k, v) => m(k) = stableJsonValue(v) }
      m("evaluated_expectations") = evaluated
      m("success_percent") =
        if (evaluated == 0) 100.0 else 100.0 * successful / evaluated
      m("successful_expectations") = successful
      m("unsuccessful_expectations") = evaluated - successful
      if (o.unexpectedIndexList.nonEmpty)
        m("unexpected_index_list") = o.unexpectedIndexList
      m("expectation_type") = o.function
      m("expectation_success") = o.success
      m("exception_info") = s"exception_info_${spec.specId}"
      // Always a JSON double: an integral-valued run must not flip the
      // inferred sink column to bigint and break appended parquet/delta
      // reads across runs (double vs long schemas cannot be merged).
      o.observedValue.foreach { v => m("observed_value") = v }
      m("run_time_year") = now.getYear
      m("run_time_month") = now.getMonthValue
      m("run_time_day") = now.getDayOfMonth
      m("kwargs") = o.args.map { case (k, v) => s"$k=$v" }.mkString(", ")
      if (spec.unexpectedRowsPk.nonEmpty)
        m("source_primary_key") = spec.unexpectedRowsPk
      graft.spec.Specs.renderJson(m.toMap)
    }
    val base = spark.read.json(spark.createDataset(objs))
    // Stable sink schema across runs: columns that only appear on
    // failures / certain expectation families are present (null-typed)
    // even when this run never produced them.
    Seq(
      "unexpected_index_list" -> "array<string>",
      "source_primary_key" -> "array<string>",
      "observed_value" -> "double",
      "column" -> "string").foldLeft(base) { case (df, (c, t)) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null).cast(t))
    }
  }

  /** Build the result-sink DataFrame (one row per expectation outcome with
    * run metadata + y/m/d partitions, as in `dq_factory.py:422-527`). */
  def resultSinkDf(spark: SparkSession, result: DQRunResult, specId: String): DataFrame = {
    import spark.implicits._
    val now = java.time.Instant.now()
    val rows = result.outcomes.map { o =>
      (result.runName, specId, o.function,
        o.args.map { case (k, v) => s"$k=$v" }.mkString(", "),
        o.success, o.elementCount, o.unexpectedCount,
        o.observedValue.getOrElse(Double.NaN), o.unexpectedIndexList, now.toString)
    }
    rows.toDF("run_name", "spec_id", "expectation_type", "kwargs",
        "success", "element_count", "unexpected_count", "observed_value",
        "unexpected_index_list", "run_time")
      .withColumn("run_time", to_timestamp(col("run_time")))
      .withColumn("year", year(col("run_time")))
      .withColumn("month", month(col("run_time")))
      .withColumn("day", dayofmonth(col("run_time")))
  }
}
