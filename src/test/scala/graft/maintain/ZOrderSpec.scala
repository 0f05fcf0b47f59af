package graft.maintain

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Z-order layout rewrite (reference `terminators/dataset_optimizer.py:
  * 115-143` `optimize_zorder_col_list`): Morton-key arithmetic goldens
  * against an independent bit-loop oracle, plus the property the layout
  * exists for — fewer files intersect a selective 2-D box after the
  * rewrite than under a linear sort. */
class ZOrderSpec extends SparkSpec {

  /** Independent Morton oracle: bit i of operand j goes to position
    * i * k + j. */
  private def morton(vals: Seq[Long], bits: Int): Long = {
    val k = vals.size
    var z = 0L
    for (j <- 0 until k; i <- 0 until bits)
      z |= (((vals(j) >> i) & 1L) << (i * k + j))
    z
  }

  test("zValue matches the bit-loop oracle for 1, 2, 3 and 4 columns") {
    val samples = Seq(
      Seq(0L), Seq(65535L),
      Seq(0L, 0L), Seq(1L, 0L), Seq(0L, 1L), Seq(65535L, 65535L),
      Seq(12345L, 54321L), Seq(40000L, 7L),
      Seq(1L, 2L, 4L), Seq(65535L, 0L, 65535L), Seq(31007L, 12L, 9999L),
      Seq(1L, 2L, 3L, 4L), Seq(32767L, 1L, 0L, 15000L))
    samples.foreach { vs =>
      val bits = ZOrder.bitsFor(vs.size)
      val expected = morton(vs.map(_ & ((1L << bits) - 1)), bits)
      val got = spark.range(1)
        .select(ZOrder.zValue(vs.map(lit)).as("z"))
        .head().getLong(0)
      assert(got === expected, s"for operands $vs")
    }
  }

  test("zValue interleave is monotone per axis (locality sanity)") {
    // Fixing one axis, the key must be strictly increasing in the other.
    val df = spark.range(100).select(
      ZOrder.zValue(Seq(col("id"), lit(7L))).as("zx"),
      ZOrder.zValue(Seq(lit(7L), col("id"))).as("zy"),
      col("id"))
    val rows = df.orderBy("id").collect()
    rows.sliding(2).foreach { w =>
      assert(w(0).getLong(0) < w(1).getLong(0))
      assert(w(0).getLong(1) < w(1).getLong(1))
    }
  }

  test("orderable maps strings to first-8-byte big-endian order") {
    import spark.implicits._
    val df = Seq("apple", "apricot", "banana", "", "zz").toDF("s")
    val got = df.select(col("s"), ZOrder.orderable(df, "s").as("v"))
      .orderBy("v").select("s").as[String].collect().toSeq
    assert(got === Seq("", "apple", "apricot", "banana", "zz"))
  }

  test("zorder rewrite clusters a 2-D grid: fewer files intersect a box") {
    import spark.implicits._
    val n = 128
    val grid = spark.range(n.toLong * n).select(
      (col("id") % n).as("x"),
      (col("id") / n).cast("long").as("y"),
      col("id").as("payload"))
    val loc = tmpDir("zorder") + "/grid"
    // Linear layout: sorted by x only, 16 files.
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(loc)

    // Files whose min/max stats intersect the predicate y IN [0, 15]
    // (the stat a parquet reader would prune on).
    def filesIntersectingYBand(): Long =
      spark.read.parquet(loc)
        .groupBy(input_file_name().as("f"))
        .agg(min("y").as("y0"), max("y").as("y1"))
        .where(col("y0") <= 15 && col("y1") >= 0)
        .count()

    // Under an x-only sort every file spans ALL of y, so a y-selective
    // predicate cannot skip anything: all 16 files intersect.
    val before = filesIntersectingYBand()
    assert(before === spark.read.parquet(loc).inputFiles.length.toLong)

    new TableManager(spark).optimize(loc, targetPartitions = 16,
      zorderCols = Seq("x", "y"))

    val after = filesIntersectingYBand()
    val afterFiles = spark.read.parquet(loc).inputFiles.length.toLong
    assert(afterFiles === 16L)
    // The rewrite preserves content exactly.
    assert(spark.read.parquet(loc).agg(sum("payload")).head().getLong(0)
      === (n.toLong * n) * (n.toLong * n - 1) / 2)
    // After z-order each file covers a bounded y-block: the 1/8 y-band
    // touches at most half the files (ideal Morton: 4 of 16).
    assert(after < before,
      s"y-band intersected $after of $afterFiles files after zorder vs $before before")
    assert(after <= 8, s"expected <=8 files for a 1/8 y-band, got $after")
  }

  test("hilbertIndex is a bijection with unit-step adjacency (true Hilbert)") {
    import spark.implicits._
    val bits = 4 // 16x16 grid, 256 cells
    val cells = spark.range(256).select(
      (col("id") % 16).as("x"), (col("id") / 16).cast("long").as("y"))
    val d = cells.select(col("x"), col("y"),
        graft.functions.Kernels.hilbertIndex(col("x"), col("y"), bits).as("d"))
      .orderBy("d").collect()
    // Bijection: every index 0..255 exactly once.
    assert(d.map(_.getLong(2)).toSeq === (0L until 256L))
    // The defining Hilbert property (Morton fails it): consecutive
    // indices are grid 4-neighbors.
    d.sliding(2).foreach { w =>
      val dist = math.abs(w(0).getLong(0) - w(1).getLong(0)) +
        math.abs(w(0).getLong(1) - w(1).getLong(1))
      assert(dist === 1L, s"jump between ${w(0)} and ${w(1)}")
    }
  }

  test("hilbert rewrite clusters the grid at least as tightly as zorder") {
    import spark.implicits._
    val n = 128
    val grid = spark.range(n.toLong * n).select(
      (col("id") % n).as("x"), (col("id") / n).cast("long").as("y"))
    val loc = tmpDir("hilbert") + "/grid"
    grid.repartitionByRange(16, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(loc)
    ZOrder.rewrite(spark, loc, Seq("x", "y"), targetPartitions = 16,
      curve = "hilbert")
    val touched = spark.read.parquet(loc)
      .groupBy(input_file_name().as("f"))
      .agg(min("y").as("y0"), max("y").as("y1"))
      .where(col("y0") <= 15 && col("y1") >= 0)
      .count()
    assert(touched <= 8, s"1/8 y-band touched $touched of 16 hilbert files")
    assert(spark.read.parquet(loc).count() === n.toLong * n)
    intercept[RuntimeException] {
      ZOrder.rewrite(spark, loc, Seq("x"), curve = "hilbert")
    }
    intercept[RuntimeException] {
      ZOrder.rewrite(spark, loc, Seq("x", "y"), curve = "peano")
    }
  }

  test("optimize where: rewrites only matching partitions, validates refs") {
    import spark.implicits._
    val loc = tmpDir("optwhere") + "/t"
    (1 to 400).map(i => (i % 4, i.toLong, s"v$i")).toDF("year", "x", "s")
      .repartition(8) // 8 small files per partition
      .write.partitionBy("year").mode("overwrite").parquet(loc)
    val fs = new org.apache.hadoop.fs.Path(loc)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def filesIn(p: String): Seq[String] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$loc/$p"))
        .map(_.getPath.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    val untouchedBefore = filesIn("year=1")
    assert(filesIn("year=2").size > 1)

    val tm = new TableManager(spark)
    tm.optimize(loc, targetPartitions = 1, where = Some("year = 2"))
    assert(filesIn("year=2").size === 1)
    assert(filesIn("year=1") === untouchedBefore) // untouched partition intact
    assert(spark.read.parquet(loc).count() === 400L)

    // zorder variant, scoped to one partition
    tm.optimize(loc, targetPartitions = 1, zorderCols = Seq("x"),
      where = Some("year = 3"))
    assert(filesIn("year=3").size === 1)
    assert(spark.read.parquet(loc).where("year = 3").count() === 100L)

    // contract errors: non-partition column in where; partition col in zorder
    intercept[RuntimeException] {
      tm.optimize(loc, where = Some("x > 5"))
    }
    intercept[RuntimeException] {
      tm.optimize(loc, zorderCols = Seq("year"), where = Some("year = 2"))
    }
    // unpartitioned location
    val flat = tmpDir("optwhere") + "/flat"
    spark.range(10).write.parquet(flat)
    intercept[RuntimeException] {
      tm.optimize(flat, where = Some("id = 1"))
    }
  }

  test("an unscoped zorder optimize keeps a hive-partitioned layout and every row") {
    import spark.implicits._
    val loc = tmpDir("zorder-parts") + "/t"
    (1 to 300).map(i => (i.toLong, (i * 7 % 50).toLong, i % 3)).toDF("x", "y", "day")
      .repartition(6).write.partitionBy("day").mode("overwrite").parquet(loc)
    val before = spark.read.parquet(loc).as[(Long, Long, Int)].collect().sorted.toSeq
    new TableManager(spark).optimize(loc, zorderCols = Seq("x", "y"))
    val root = new org.apache.hadoop.fs.Path(loc)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.io.PartitionedRewrite.discoverLayout(fs, root) == Seq("day"))
    assert(!fs.listStatus(root).exists(_.getPath.getName.endsWith(".parquet")),
      "zorder wrote data files at the root")
    assert(spark.read.parquet(loc).as[(Long, Long, Int)].collect().sorted.toSeq == before)
  }

  test("zorder rewrite handles strings, timestamps and nulls") {
    import spark.implicits._
    val df = Seq(
      ("alpha", 1L, Some(10)), ("beta", 2L, None), ("gamma", 3L, Some(30)),
      (null.asInstanceOf[String], 4L, Some(40))).toDF("s", "ts_ns", "v")
      .withColumn("ts", timestamp_micros(col("ts_ns")))
    val loc = tmpDir("zorder") + "/mixed"
    df.write.mode("overwrite").parquet(loc)
    ZOrder.rewrite(spark, loc, Seq("s", "ts", "v"), targetPartitions = 1)
    assert(spark.read.parquet(loc).count() === 4L)
    intercept[RuntimeException] {
      ZOrder.rewrite(spark, loc, Seq("nope"), targetPartitions = 1)
    }
  }
}
