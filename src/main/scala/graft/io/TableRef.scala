package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A reference that names a table's rows either by storage location or
  * by catalog name — sensor and heartbeat control tables, PRISMA's
  * `rules_table` and the GAB loop's `gab_log_events` all take one. The
  * one rule: a reference containing `/` is a parquet location; anything
  * else is a catalog table or view, so a mistyped table name never
  * becomes a relative directory. Reads and rewrites settle an interrupted
  * commit at the rows' location ([[StagedSwap.recover]]) before they
  * read. */
private[graft] object TableRef {

  def isLocation(ref: String): Boolean = ref.contains("/")

  /** The storage location behind `ref`: the reference itself, or a
    * catalog table's location; None for a view or an unknown name. */
  def location(spark: SparkSession, ref: String): Option[String] =
    if (isLocation(ref)) Some(ref)
    else scala.util.Try(spark.sessionState.catalog.getTempViewOrPermanentTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(ref))).toOption
      .flatMap(_.storage.locationUri).map(_.toString)

  /** The rows of `ref`, read after settling an interrupted commit at its
    * location; None when a location holds no table yet. */
  def read(spark: SparkSession, ref: String): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val settled = location(spark, ref).map(StagedSwap.recover(conf, _))
    if (!isLocation(ref)) {
      if (settled.exists(_ != "none")) spark.catalog.refreshTable(ref)
      Some(spark.table(ref))
    } else if (new Path(ref).getFileSystem(conf).exists(new Path(ref)))
      Some(ParquetSchema.load(spark, Seq(ref)))
    else None
  }

  /** Rewrite all rows of `ref` to `transform` of its current rows (None
    * when a location holds no table yet) through
    * [[PartitionedRewrite.rewriteAll]]. A catalog table is read with its
    * declared schema and refreshed after the commit; a view has no
    * location and cannot be rewritten. */
  def rewrite(spark: SparkSession, ref: String)(transform: Option[DataFrame] => DataFrame): Unit = {
    // an unknown table name raises here, before anything is written
    val schema = if (isLocation(ref)) None else Some(spark.table(ref).schema)
    val loc = location(spark, ref).getOrElse(throw new IllegalArgumentException(
      s"$ref is a view; only a location or a catalog table can be rewritten"))
    PartitionedRewrite.rewriteAll(spark, loc, schema = schema)((rows, _) => transform(rows))
    if (!isLocation(ref)) spark.catalog.refreshTable(ref)
  }
}
