package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared machinery for PARTITION-SCOPED rewrites of parquet locations —
  * used by the merge writer and by TableManager's delete-where. The
  * contract: the caller computes which partitions an operation touches and
  * the full new contents of exactly those partitions; this object rewrites
  * those partition dirs (and only those) via one stage write + a rename
  * of each staged partition dir into place, leaving every other
  * partition's files physically untouched. That is what makes incremental
  * maintenance of a 100 TB table cost O(touched partitions), not O(table).
  *
  * Everything here is driver-side dir-walking — deliberately NEVER Spark's
  * O(all partitions) distributed discovery, which is the cost the scoped
  * paths exist to avoid. */
private[graft] object PartitionedRewrite {

  /** Partition-column names read off the directory structure (first
    * `c=v`-shaped chain), driver-side. Empty for unpartitioned layouts. */
  def discoverLayout(fs: FileSystem, root: Path): Seq[String] = {
    @scala.annotation.tailrec
    def walk(p: Path, acc: Vector[String]): Vector[String] = {
      val sub = fs.listStatus(p).find(s => s.isDirectory &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith(".") &&
        s.getPath.getName.contains("="))
      sub match {
        case Some(s) => walk(s.getPath, acc :+ s.getPath.getName.split("=", 2)(0))
        case None => acc
      }
    }
    if (!fs.exists(root)) Seq.empty else walk(root, Vector())
  }

  /** First data file under `root` (depth-first, hidden entries skipped) —
    * a cheap schema-probe target that avoids Spark's O(all partitions)
    * discovery when only the column set is needed. */
  def firstDataFile(fs: FileSystem, root: Path): Option[Path] = {
    def walk(p: Path): Option[Path] = {
      val entries = fs.listStatus(p).filterNot(s =>
        s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      entries.find(_.isFile).map(_.getPath)
        .orElse(entries.filter(_.isDirectory)
          .iterator.map(d => walk(d.getPath)).collectFirst { case Some(f) => f })
    }
    if (fs.exists(root)) walk(root) else None
  }

  /** Relative `c1=v1/c2=v2` dir paths at exactly `depth` levels under
    * `root`, skipping hidden (`_`/`.`) entries and anything not shaped
    * like a partition dir (a stray `backup/` must neither crash the
    * canon parse nor serve as the schema-sample dir). */
  def listPartitionDirs(fs: FileSystem, root: Path, depth: Int): Set[String] = {
    def walk(p: Path, level: Int): Seq[String] =
      fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("=") &&
          !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        .flatMap { s =>
          if (level == depth) Seq(s.getPath.getName)
          else walk(s.getPath, level + 1).map(child => s"${s.getPath.getName}/$child")
        }
    if (!fs.exists(root)) Set.empty
    else walk(root, 1).toSet
  }

  /** Hive-style partition-value escaping (the same characters Spark's
    * catalog escapes), so constructed dir names line up with what
    * `partitionBy` wrote for plain values; exotic values that escape
    * differently only make the stale-dir delete a no-op, never wrong. */
  def escapePartitionValue(v: String): String =
    v.flatMap { c =>
      if (c >= 'a' && c <= 'z' || c >= 'A' && c <= 'Z' || c >= '0' && c <= '9' ||
        "_-.".contains(c)) c.toString
      else f"%%${c.toInt}%02X"
    }

  /** `c1=v1/c2=v2` names for the touched tuples, or None when any value's
    * text would escape ('/', spaces, '%', '=') — falling back beats
    * reasoning about escaping mismatches. */
  def touchedNames(partCols: Seq[String], values: Seq[Seq[String]]): Option[Seq[String]] =
    if (values.exists(_.exists(v => escapePartitionValue(v) != v))) None
    else Some(values.map(vs =>
      partCols.zip(vs).map { case (c, v) => s"$c=$v" }.mkString("/")))

  private def canon(name: String): String = name.split('/').map { seg =>
    seg.split("=", 2) match {
      case Array(c, v) =>
        val cv = scala.util.Try(
          BigDecimal(v).bigDecimal.stripTrailingZeros.toPlainString).getOrElse(v)
        s"$c=$cv"
      case _ => seg
    }
  }.mkString("/")

  /** A live dir that is a DIFFERENT SPELLING of a touched value (e.g.
    * `batch=0012` when the operation says 12, or vice versa, or BOTH
    * spellings live side by side) would be shadowed by — or wrongly
    * deleted beside — the canonical dir the scoped rewrite writes.
    * Untouched partitions with odd names are harmless. */
  def spellingCollision(live: Set[String], touched: Seq[String]): Boolean = {
    val liveByCanon = live.groupBy(canon)
    touched.exists { t =>
      liveByCanon.get(canon(t)).exists(g => g.size > 1 || g.head != t)
    }
  }

  /** Rewrite exactly the `touchedNames` partition dirs of `loc` so they
    * afterwards contain `contents` (the FULL new rows of those
    * partitions). `contents` is written once, partitioned, to a stage dir
    * — the writing job never touches the location it reads, and a
    * mid-job crash leaves live data intact — then
    * [[StagedSwap.commitPartitions]] renames each staged partition dir
    * into place. Cost is one write of the TOUCHED data, O(touched), not
    * O(table). A touched partition with no rows in `contents` has its
    * live dir dropped (delete-all case). Callers must
    * [[StagedSwap.recover]] the location before reading it. */
  def overwriteTouched(spark: SparkSession, contents: DataFrame, loc: String,
      partCols: Seq[String], touchedNames: Seq[String], fmt: String,
      options: Map[String, String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val stage = new Path(loc.stripSuffix("/") + "__stage_parts")
    val fs = stage.getFileSystem(conf)
    fs.delete(stage, true)
    contents.write.format(fmt).options(options)
      .partitionBy(partCols: _*).mode("overwrite").save(stage.toString)
    // every staged dir replaces its live twin (as a dynamic partition
    // overwrite would); touched partitions emptied entirely produce no
    // stage output, so their live dirs are dropped
    val moves = listPartitionDirs(fs, stage, partCols.size).toSeq.sorted
    StagedSwap.commitPartitions(conf, loc, stage.toString, moves,
      touchedNames.filterNot(moves.toSet))
  }
}
