package graft.maintain

import graft.io.{PartitionedRewrite, StagedSwap}
import graft.util.SqlSplitter
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table DDL / maintenance operations.
  *
  * Capability parity with `lakehouse_engine/core/table_manager.py:16-289`:
  * create/drop/truncate/describe/show properties/analyze/repair/
  * delete-where/execute-sql (with the multi-statement splitter), plus
  * OPTIMIZE/VACUUM analogues for this Delta-less build (parquet
  * compaction; vacuum is a no-op without a transaction log). */
final class TableManager(spark: SparkSession) {

  def createTable(sql: String): Unit = executeSql(sql)

  /** Execute every statement in a SQL script (quote/comment-aware split,
    * reference `utils/sql_parser_utils.py`). */
  def executeSql(script: String, delimiter: String = ";"): Seq[DataFrame] =
    SqlSplitter.split(script, delimiter).map(spark.sql)

  def dropTable(table: String, ifExists: Boolean = true): Unit =
    spark.sql(s"DROP TABLE ${if (ifExists) "IF EXISTS " else ""}$table")

  def dropView(view: String, ifExists: Boolean = true): Unit =
    spark.sql(s"DROP VIEW ${if (ifExists) "IF EXISTS " else ""}$view")

  def truncate(table: String): Unit = spark.sql(s"TRUNCATE TABLE $table")

  def describe(table: String): DataFrame = spark.sql(s"DESCRIBE TABLE $table")

  def showTblProperties(table: String): DataFrame =
    spark.sql(s"SHOW TBLPROPERTIES $table")

  /** Primary key columns from the `lakehouse.primary_key` table property
    * (reference `core/table_manager.py` get_tbl_pk). */
  def getTablePk(table: String): Seq[String] = {
    val props = showTblProperties(table).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    props.get("lakehouse.primary_key").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  }

  def computeTableStatistics(table: String): Unit =
    spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")

  def repairTable(table: String): Unit =
    spark.sql(s"MSCK REPAIR TABLE $table")

  /** DELETE FROM ... WHERE for parquet locations (no transaction log in
    * this build). Partitioned layouts are PARTITION-SCOPED: only the
    * partitions holding matching rows are rewritten (via
    * [[PartitionedRewrite.rewriteTouched]]); when the condition constrains
    * the partition columns, even the touched-partition DISCOVERY scan is
    * partition-pruned — a retention delete on a date-partitioned 100 TB
    * table reads and writes only the expiring dates. Unpartitioned (or
    * unscopable) layouts take the full filtered rewrite, which keeps the
    * partition layout it reads. */
  def deleteWhere(location: String, condition: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(location)
    val fs = root.getFileSystem(conf)
    StagedSwap.recover(conf, location)
    // a freshly created (never written) table has no data directory yet —
    // deleting from nothing is a no-op, as on an empty Delta table
    if (!fs.exists(root)) return
    val partCols = PartitionedRewrite.discoverLayout(fs, root)
    val touched =
      if (partCols.isEmpty) PartitionedRewrite.NotScopable
      else PartitionedRewrite.resolveTouched(fs, location, partCols,
        spark.read.parquet(location).where(condition))
    touched match {
      case PartitionedRewrite.NothingTouched => ()
      case t: PartitionedRewrite.TouchedDirs =>
        PartitionedRewrite.rewriteTouched(spark, location, partCols, t)(
          _.where(s"NOT ($condition)"))
      case PartitionedRewrite.NotScopable =>
        PartitionedRewrite.rewriteAll(spark, location)((df, _) =>
          df.get.where(s"NOT ($condition)")) // the table exists (checked above)
    }
  }

  /** OPTIMIZE analogue: compact a parquet location's small files
    * ([[IndexMaintenance.compactIndex]], which keeps the partition layout);
    * with `zorderCols` it instead clusters the rewrite on the Morton curve
    * of those columns (reference `terminators/dataset_optimizer.py:115-143`
    * `optimize_zorder_col_list`) so min/max file stats prune on any of
    * them, writing `targetPartitions` files per partition dir (0 derives
    * it from the file count). `where` scopes the rewrite to matching hive
    * partitions (reference `optimize_where`) — like Delta's OPTIMIZE WHERE
    * it must reference partition columns only, and only the touched
    * partition dirs are read and rewritten, so cost is O(touched
    * partitions) and untouched data is never read. */
  def optimize(location: String, targetPartitions: Int = 0,
      zorderCols: Seq[String] = Nil, where: Option[String] = None,
      curve: String = "zorder"): Unit =
    where match {
      case Some(cond) =>
        optimizeScoped(location, cond, targetPartitions, zorderCols, curve)
      case None =>
        if (zorderCols.nonEmpty)
          ZOrder.rewrite(spark, location, zorderCols, targetPartitions, curve)
        else IndexMaintenance.compactIndex(spark, location)
    }

  private def optimizeScoped(location: String, condition: String,
      targetPartitions: Int, zorderCols: Seq[String], curve: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(location)
    val fs = root.getFileSystem(conf)
    StagedSwap.recover(conf, location)
    val partCols = PartitionedRewrite.discoverLayout(fs, root)
    if (partCols.isEmpty)
      sys.error("optimize where requires a hive-partitioned location")
    val refs = spark.sessionState.sqlParser.parseExpression(condition)
      .references.map(_.name).toSet
    val extra = refs -- partCols.toSet
    if (extra.nonEmpty)
      sys.error(s"optimize where may reference partition columns only; " +
        s"got ${extra.mkString(", ")} (Delta OPTIMIZE WHERE has the same contract)")
    if (zorderCols.exists(partCols.contains))
      sys.error("zorder columns must be data columns, not partition columns")
    // Partition-only predicate: resolving the touched set reads no data
    // pages, just the pruned listing.
    PartitionedRewrite.resolveTouched(fs, location, partCols,
        spark.read.parquet(location).where(condition)) match {
      case PartitionedRewrite.NothingTouched => ()
      case PartitionedRewrite.NotScopable =>
        sys.error(s"optimize where: the matched partitions cannot be scoped (more than " +
          s"${PartitionedRewrite.TouchedCap}, or null, escaped or differently spelled " +
          "values); run an unscoped optimize")
      case t: PartitionedRewrite.TouchedDirs =>
        PartitionedRewrite.rewriteTouched(spark, location, partCols, t) { slice =>
          if (zorderCols.nonEmpty)
            ZOrder.cluster(slice, partCols, zorderCols, targetPartitions, curve)
          else IndexMaintenance.binPack(slice, partCols, t.names.count(t.live),
            slice.queryExecution.optimizedPlan.stats.sizeInBytes.toLong)._1
        }
    }
  }

  /** VACUUM is a transaction-log operation; without Delta the staged-swap
    * writers already leave no stale files, so this is a documented no-op. */
  def vacuum(location: String, retentionHours: Int = 168): Unit = ()
}

/** Driver-side file management (reference `core/s3_file_manager.py` /
  * `core/dbfs_file_manager.py`) via the Hadoop FileSystem API — works for
  * local, HDFS and S3A uniformly. */
final class FileManager(spark: SparkSession) {
  import org.apache.hadoop.fs.{FileSystem, Path}

  /** Per-manager FileSystem instances (NOT the JVM-wide cache) with
    * checksum writing off: the cached LocalFileSystem is checksummed, so
    * a directory copy through it would sprinkle hidden `.crc` sidecars
    * over the destination — a file manager must reproduce the tree, not
    * annotate it — and flipping the flag on the cached instance would
    * leak into every other file:// user in the JVM. */
  private val instances = scala.collection.mutable.Map.empty[String, FileSystem]

  private def fs(p: String): FileSystem = {
    val uri = new Path(p).toUri
    val schemeKey = String.valueOf(uri.getScheme) + "://" +
      String.valueOf(uri.getAuthority)
    instances.getOrElseUpdate(schemeKey, {
      val f = FileSystem.newInstance(new Path(p).getFileSystem(
        spark.sparkContext.hadoopConfiguration).getUri,
        spark.sparkContext.hadoopConfiguration)
      f.setWriteChecksum(false)
      f.setVerifyChecksum(false)
      f
    })
  }

  def list(path: String): Seq[String] = {
    val p = new Path(path)
    val f = fs(path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath.toString).toSeq.sorted
  }

  /** Depth-first list of the FILES under a path (directories recursed
    * into, not listed) — the traversal the reference's DBFS manager dry
    * runs use (`dbfs_file_manager.py:34-53` `_list_objects`). A plain
    * file lists as itself; scheme prefixes are stripped so the entries
    * read as paths. */
  def listFilesRecursively(path: String): Seq[String] = {
    val p = new Path(path)
    val f = fs(path)
    if (!f.exists(p)) Seq.empty
    else {
      def walk(st: org.apache.hadoop.fs.FileStatus): Seq[String] =
        if (st.isDirectory)
          st.getPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .listStatus(st.getPath).toSeq.sortBy(_.getPath.getName)
            .flatMap(walk)
        else Seq(st.getPath.toUri.getPath)
      walk(f.getFileStatus(p))
    }
  }

  def delete(path: String, dryRun: Boolean = false): Boolean =
    if (dryRun) fs(path).exists(new Path(path))
    else fs(path).delete(new Path(path), true)

  def copy(src: String, dst: String): Boolean =
    org.apache.hadoop.fs.FileUtil.copy(
      fs(src), new Path(src), fs(dst), new Path(dst),
      false, spark.sparkContext.hadoopConfiguration)

  def move(src: String, dst: String): Boolean =
    fs(src).rename(new Path(src), new Path(dst))
}
