package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** The one staged-rewrite path for parquet locations — merge,
  * delete-where, optimize (compaction and Z-order) and index compaction
  * all commit through it, in one of two shapes:
  *
  *   - [[rewriteAll]]: the whole location is read, transformed, written
  *     to a stage dir with its partition layout and swapped in by
  *     [[StagedSwap.commit]] (control tables commit this way too,
  *     through [[TableRef.rewrite]]);
  *   - [[resolveTouched]] + [[rewriteTouched]]: only the partitions an
  *     operation touches are read and rewritten, via one stage write + a
  *     rename of each staged partition dir into place, leaving every other
  *     partition's files physically untouched. That is what makes
  *     incremental maintenance of a 100 TB table cost O(touched
  *     partitions), not O(table).
  *
  * Both settle an interrupted commit ([[StagedSwap.recover]]) before they
  * read: [[rewriteAll]] itself, the scoped shape in its callers, which
  * must recover before they resolve.
  *
  * The dir-walking here is driver-side — deliberately NEVER Spark's
  * O(all partitions) distributed discovery, which is the cost the scoped
  * paths exist to avoid. */
private[graft] object PartitionedRewrite {

  /** Most partitions one scoped operation may touch; past it the touched
    * set is not collected and the operation is not scopable. */
  val TouchedCap = 10000

  /** What an operation touches, as [[resolveTouched]] answers it. */
  sealed trait Touched
  /** No row lands in any partition. */
  case object NothingTouched extends Touched
  /** Not scopable: more than [[TouchedCap]] partitions, a null or
    * escaping value, or a live dir spelled differently from a touched
    * value. */
  case object NotScopable extends Touched
  /** The touched `c1=v1/c2=v2` dirs, and every live partition dir. */
  final case class TouchedDirs(names: Seq[String], live: Set[String]) extends Touched

  /** The partitions of `loc` (layout `partCols`) that the rows of `keys`
    * land in — one job with no shuffle: each task collects the distinct
    * partition tuples of its rows and the driver folds them in as tasks
    * finish, each side capped at cap + 1 (which detects overflow without
    * draining). Touched dir names are constructed from the VALUE TEXT, so
    * unescapable values, nulls and spelling collisions answer
    * [[NotScopable]]. */
  def resolveTouched(fs: FileSystem, loc: String, partCols: Seq[String],
      keys: DataFrame): Touched = {
    val (width, cap) = (partCols.size, TouchedCap)
    val values = keys.select(partCols.map(col): _*).rdd.mapPartitions { rows =>
      val seen = scala.collection.mutable.HashSet.empty[Seq[String]]
      while (seen.size <= cap && rows.hasNext) {
        val r = rows.next()
        seen += (0 until width).map(i => if (r.isNullAt(i)) null else String.valueOf(r.get(i)))
      }
      Iterator.single(seen.toSet)
    }.fold(Set.empty[Seq[String]])((a, b) => if (a.size > cap) a else (a ++ b).take(cap + 1))
      .toVector
    if (values.isEmpty) NothingTouched
    else if (values.length > cap || values.exists(_.contains(null))) NotScopable
    else touchedNames(partCols, values) match {
      case None => NotScopable
      case Some(names) =>
        val live = listPartitionDirs(fs, new Path(loc), partCols.size)
        if (spellingCollision(live, names)) NotScopable else TouchedDirs(names, live)
    }
  }

  /** Rewrite the `touched` partitions of `loc` to `transform` of their
    * live rows (the FULL new rows of those partitions). ONLY those dirs
    * are read (basePath keeps the partition columns); when none of them
    * is live yet, `transform` gets an empty frame with the table's schema.
    * The result is written once, partitioned, to a stage dir — the
    * writing job never touches the location it reads, and a mid-job
    * crash leaves live data intact — then [[StagedSwap.commitPartitions]]
    * renames each staged partition dir into place. Cost is one write of
    * the TOUCHED data, O(touched), not O(table). A touched partition that
    * `transform` leaves empty has its live dir dropped. */
  def rewriteTouched(spark: SparkSession, loc: String, partCols: Seq[String],
      touched: TouchedDirs, fmt: String = "parquet",
      options: Map[String, String] = Map.empty)(transform: DataFrame => DataFrame): Unit = {
    val base = loc.stripSuffix("/")
    def read(dirs: Seq[String]) =
      ParquetSchema.load(spark, dirs.map(n => s"$base/$n"), Map("basePath" -> loc), fmt)
    val existing = touched.names.filter(touched.live)
    val slice =
      if (existing.nonEmpty) read(existing)
      else read(Seq(touched.live.head)).limit(0)
    val conf = spark.sparkContext.hadoopConfiguration
    val stage = new Path(base + "__stage_parts")
    val fs = stage.getFileSystem(conf)
    fs.delete(stage, true)
    transform(slice).write.format(fmt).options(options)
      .partitionBy(partCols: _*).mode("overwrite").save(stage.toString)
    // every staged dir replaces its live twin (as a dynamic partition
    // overwrite would); touched partitions emptied entirely produce no
    // stage output, so their live dirs are dropped
    val moves = listPartitionDirs(fs, stage, partCols.size).toSeq.sorted
    StagedSwap.commitPartitions(conf, loc, stage.toString, moves,
      touched.names.filterNot(moves.toSet))
  }

  /** Rewrite all of `loc`: settle an interrupted commit, read the
    * location (with `schema` when given), write `transform` of its rows to
    * `<loc>__stage` with the `declared` layout (the discovered one when
    * none is declared) and swap the stage in with [[StagedSwap.commit]].
    * `transform` gets None when no table is at `loc` after settling (no
    * rows yet), and the layout its output is written with. */
  def rewriteAll(spark: SparkSession, loc: String, fmt: String = "parquet",
      options: Map[String, String] = Map.empty, declared: Seq[String] = Nil,
      schema: Option[StructType] = None)(
      transform: (Option[DataFrame], Seq[String]) => DataFrame): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    StagedSwap.recover(conf, loc)
    val root = new Path(loc)
    val fs = root.getFileSystem(conf)
    val layout = if (declared.nonEmpty) declared else discoverLayout(fs, root)
    val current =
      if (!fs.exists(root)) None
      else Some(schema.fold(ParquetSchema.load(spark, Seq(loc), fmt = fmt))(
        spark.read.format(fmt).schema(_).load(loc)))
    val stage = loc.stripSuffix("/") + "__stage"
    val w = transform(current, layout).write.format(fmt).options(options).mode("overwrite")
    (if (layout.nonEmpty) w.partitionBy(layout: _*) else w).save(stage)
    StagedSwap.commit(conf, loc, stage)
  }

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

  /** Every file under `root` (`root` itself when it is a file), skipping
    * entries whose name `skip` matches, files and dirs alike. Lists with
    * `listStatus`: `FileSystem.listFiles` builds a `LocatedFileStatus` per
    * file, which on the local file system forks a process to load the
    * file's permissions. */
  def leafFiles(fs: FileSystem, root: Path,
      skip: String => Boolean = _ => false): Seq[FileStatus] = {
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.filterNot(s => skip(s.getPath.getName)).flatMap { s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s)
      }
    val status = fs.getFileStatus(root)
    if (status.isFile) Seq(status) else walk(root)
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
  private def escapePartitionValue(v: String): String =
    v.flatMap { c =>
      if (c >= 'a' && c <= 'z' || c >= 'A' && c <= 'Z' || c >= '0' && c <= '9' ||
        "_-.".contains(c)) c.toString
      else f"%%${c.toInt}%02X"
    }

  /** `c1=v1/c2=v2` names for the touched tuples, or None when any value's
    * text would escape ('/', spaces, '%', '=') — falling back beats
    * reasoning about escaping mismatches. */
  private def touchedNames(partCols: Seq[String], values: Seq[Seq[String]]): Option[Seq[String]] =
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
  private def spellingCollision(live: Set[String], touched: Seq[String]): Boolean = {
    val liveByCanon = live.groupBy(canon)
    touched.exists { t =>
      liveByCanon.get(canon(t)).exists(g => g.size > 1 || g.head != t)
    }
  }
}
