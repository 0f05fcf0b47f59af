package graft.maintain

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Z-order (Morton-curve) layout rewrite — the analogue of the reference's
  * `OPTIMIZE ... ZORDER BY (cols)` terminator (reference
  * `terminators/dataset_optimizer.py:115-143`, `optimize_zorder_col_list`),
  * re-expressed for plain parquet locations.
  *
  * Why this matters at 100 TB: parquet readers prune row groups and files
  * with min/max statistics. After a linear sort on column A, a predicate on
  * column B touches every file; after a Z-order rewrite on (A, B), files
  * cover small hyper-rectangles of the (A, B) space, so selective
  * predicates on ANY prefix-free combination of the clustered columns skip
  * most files. The rewrite itself is one range-shuffle: compute an
  * interleaved-bits curve key, `repartitionByRange` on it (Spark samples
  * the key distribution, so output files are evenly sized regardless of
  * skew), sort within partitions, write via the crash-recoverable
  * [[graft.io.PartitionedRewrite]] path every rewrite shares.
  *
  * Curve-key construction is pure column arithmetic (whole-stage codegen,
  * no UDFs):
  *   1. each clustered column is normalized to a bounded non-negative
  *      bucket id — equal-width `width_bucket` between the column's
  *      observed min/max (one driver-side agg per rewrite; Delta's
  *      OPTIMIZE uses range ids, equal-width is the same O(1)-state idea
  *      without a second shuffle, with the usual outlier caveat);
  *   2. bucket ids are bit-interleaved into one long ([[zValue]]) with the
  *      classic magic-mask spreads for 2 and 3 columns and a generic
  *      shift-or fold for 4+.
  */
object ZOrder {

  /** Bits of resolution per column for k interleaved columns (≤ 63 total,
    * capped at 16 — file-level locality saturates well before 2^16 buckets
    * per axis). */
  def bitsFor(k: Int): Int = math.min(16, 63 / math.max(1, k))

  /** Spread the low 16 bits of `c` so consecutive bits land 2 apart
    * (Morton 2D magic masks). Input must be in [0, 65535]. */
  def spread2(c: Column): Column = {
    val m = Seq(
      (8, 0x00FF00FFL), (4, 0x0F0F0F0FL), (2, 0x33333333L), (1, 0x55555555L))
    m.foldLeft(c.cast(LongType).bitwiseAND(lit(0xFFFFL))) {
      case (x, (s, mask)) => (x.bitwiseOR(shiftleft(x, s))).bitwiseAND(lit(mask))
    }
  }

  /** Spread the low 16 bits of `c` so consecutive bits land 3 apart (the
    * standard 21-bit Morton-3D magic sequence; 16-bit input is a subset
    * of its domain). */
  def spread3(c: Column): Column = {
    val m = Seq(
      (32, 0x1F00000000FFFFL), (16, 0x1F0000FF0000FFL),
      (8, 0x100F00F00F00F00FL), (4, 0x10C30C30C30C30C3L),
      (2, 0x1249249249249249L))
    m.foldLeft(c.cast(LongType).bitwiseAND(lit(0xFFFFL))) {
      case (x, (s, mask)) => (x.bitwiseOR(shiftleft(x, s))).bitwiseAND(lit(mask))
    }
  }

  /** Generic spread: place bit i of `c` at position i*k (shift-or fold,
    * used for k >= 4 where no magic-mask sequence is worth maintaining). */
  private def spreadGeneric(c: Column, k: Int, bits: Int): Column = {
    val x = c.cast(LongType).bitwiseAND(lit((1L << bits) - 1))
    (0 until bits).map(i =>
      shiftleft(shiftright(x, i).bitwiseAND(lit(1L)), i * k))
      .reduce((a, b) => a.bitwiseOR(b))
  }

  /** Interleave the low bits of the given non-negative bucket-id columns
    * into one Morton key. Column j contributes bit positions j, j+k,
    * j+2k, … (first column = least-significant interleave lane). */
  def zValue(cols: Seq[Column]): Column = {
    require(cols.nonEmpty, "zValue needs at least one column")
    val k = cols.size
    val bits = bitsFor(k)
    val spread: Column => Column = k match {
      case 1 => c => c.cast(LongType).bitwiseAND(lit((1L << bits) - 1))
      case 2 => spread2
      case 3 => spread3
      case _ => c => spreadGeneric(c, k, bits)
    }
    cols.zipWithIndex
      .map { case (c, j) => shiftleft(spread(c), j) }
      .reduce((a, b) => a.bitwiseOR(b))
  }

  /** An orderable numeric projection of any supported column type:
    * numerics/date/timestamp pass through on their natural order; strings
    * map to the big-endian value of their first 8 bytes (preserves
    * lexicographic order for ASCII prefixes — a layout heuristic, not a
    * collation). */
  private[maintain] def orderable(df: DataFrame, name: String): Column = {
    val c = col(name)
    df.schema(name).dataType match {
      case _: NumericType => c.cast(DoubleType)
      case DateType => c.cast(TimestampType).cast(DoubleType)
      case TimestampType | TimestampNTZType => c.cast(DoubleType)
      case BooleanType => c.cast(IntegerType).cast(DoubleType)
      case StringType =>
        aggregate(
          sequence(lit(1), lit(8)),
          lit(0L),
          (acc, i) => acc * lit(256L) +
            coalesce(ascii(c.substr(i.cast(IntegerType), lit(1))).cast(LongType), lit(0L))
        ).cast(DoubleType)
      case other =>
        sys.error(s"zorder: unsupported column type $other for '$name'")
    }
  }

  /** Equal-width bucket id in [0, 2^bits) from observed [min, max]. Nulls
    * and degenerate ranges land in bucket 0. */
  private def bucketId(proj: Column, lo: Double, hi: Double, bits: Int): Column = {
    val n = 1 << bits
    if (!(hi > lo)) lit(0L)
    else {
      val wb = width_bucket(proj, lit(lo), lit(hi), lit(n))
      coalesce(least(wb, lit(n.toLong)) - lit(1L), lit(0L))
    }
  }

  /** The Morton key for `df` over `zorderCols`, bucketed from each
    * column's observed min/max (computed here: one small driver agg). */
  def curveKey(df: DataFrame, zorderCols: Seq[String]): Column = {
    val bits = bitsFor(zorderCols.size)
    val projs = zorderCols.map(orderable(df, _))
    val aggs = projs.zipWithIndex.flatMap { case (p, i) =>
      Seq(min(p).as(s"lo$i"), max(p).as(s"hi$i")) }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val buckets = projs.zipWithIndex.map { case (p, i) =>
      val lo = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
      val hi = if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)
      bucketId(p, lo, hi, bits)
    }
    zValue(buckets)
  }

  /** The Hilbert-curve key for `df` over exactly two columns — the
    * better-locality curve (every consecutive index pair is a grid
    * 4-neighbor; the Morton curve jumps at quadrant boundaries), the one
    * newer clustering implementations prefer. Same equal-width bucket
    * normalization as [[curveKey]]. */
  def hilbertKey(df: DataFrame, cols: Seq[String]): Column = {
    require(cols.size == 2, "the hilbert curve is defined here for exactly 2 columns")
    val bits = bitsFor(2)
    val projs = cols.map(orderable(df, _))
    val aggs = projs.zipWithIndex.flatMap { case (p, i) =>
      Seq(min(p).as(s"lo$i"), max(p).as(s"hi$i")) }
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    val buckets = projs.zipWithIndex.map { case (p, i) =>
      val lo = if (row.isNullAt(2 * i)) 0.0 else row.getDouble(2 * i)
      val hi = if (row.isNullAt(2 * i + 1)) 0.0 else row.getDouble(2 * i + 1)
      bucketId(p, lo, hi, bits)
    }
    graft.functions.Kernels.hilbertIndex(buckets(0), buckets(1), bits)
  }

  /** Rewrite a parquet location clustered by the chosen space-filling
    * curve of `zorderCols` — [[cluster]] through
    * [[graft.io.PartitionedRewrite.rewriteAll]], so an interrupted commit
    * is settled first and a partitioned location keeps its layout. */
  def rewrite(
      spark: SparkSession,
      location: String,
      zorderCols: Seq[String],
      targetPartitions: Int = 0,
      curve: String = "zorder"): Unit =
    graft.io.PartitionedRewrite.rewriteAll(spark, location) { (df, partCols) =>
      cluster(df.getOrElse(sys.error(s"z-order: no table at $location")), partCols,
        zorderCols, targetPartitions, curve)
    }

  /** `df` clustered by the chosen space-filling curve of `zorderCols`
    * (`curve` = "zorder" | "hilbert"; hilbert needs exactly 2 columns)
    * within each partition of layout `partCols`: one shuffle (range
    * partition on the partition columns, then the curve key), sorted the
    * same way, so the partitioned writer needs no sort of its own and
    * keeps the curve order in every file. `filesPerDir` files per
    * partition dir (per location when unpartitioned); 0 derives it from
    * the current file count, one output file per 8 input files. */
  def cluster(
      df: DataFrame,
      partCols: Seq[String],
      zorderCols: Seq[String],
      filesPerDir: Int,
      curve: String): DataFrame = {
    require(zorderCols.nonEmpty, "zorder rewrite needs columns")
    val files = df.inputFiles
    val dirs = math.max(1, files.map(f => new Path(f).getParent.toString).distinct.length)
    val perDir = if (filesPerDir > 0) filesPerDir
      else math.max(1, (files.length / dirs / 8.0).ceil.toInt)
    val z = curve match {
      case "zorder" => curveKey(df, zorderCols)
      case "hilbert" => hilbertKey(df, zorderCols)
      case other => sys.error(s"unknown curve '$other' (zorder | hilbert)")
    }
    val keys = partCols.map(col) :+ col("__zcurve")
    df.withColumn("__zcurve", z)
      .repartitionByRange(perDir * dirs, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop("__zcurve")
  }
}
