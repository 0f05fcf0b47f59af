package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Versioned whole-directory commits: the OSS-parquet analogue of Delta's
  * version history, sized for the one reference behavior that needs it —
  * `DQValidator`'s restore-to-previous-version on failed validations
  * (`algorithms/dq_validator.py:154-169`).
  *
  * Layout: the live data at `<location>`, archived generations at
  * `<location>__v<N>` (ascending). [[commit]] archives the current live
  * directory as the next version before swapping the stage in (pruning to
  * `keepVersions`); [[restorePrevious]] archives the current (bad) live
  * as a new version and renames the latest archive back into place — so,
  * like Delta's RESTORE, the rolled-back state remains in history.
  * Rename-based like [[StagedSwap]], with the same non-atomicity caveat.
  */
object Versioned {

  private def versionPath(location: String, n: Int): Path =
    new Path(location.stripSuffix("/") + s"__v$n")

  /** Existing archived versions of THIS location, ascending by number. */
  def versions(conf: Configuration, location: String): Seq[Int] = {
    val live = new Path(location.stripSuffix("/"))
    val fs = live.getFileSystem(conf)
    val parent = live.getParent
    val prefix = live.getName + "__v"
    if (parent == null || !fs.exists(parent)) Seq.empty
    else fs.listStatus(parent).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) &&
          n.length > prefix.length && n.drop(prefix.length).forall(_.isDigit) =>
        n.drop(prefix.length).toInt }
      .sorted
  }

  /** Swap `stage` into place at `location`, archiving the previous live
    * contents as the next version and pruning old versions. */
  def commit(conf: Configuration, location: String, stage: String,
      keepVersions: Int = 2): Unit = {
    val live = new Path(location.stripSuffix("/"))
    val fs = live.getFileSystem(conf)
    val stagePath = new Path(stage.stripSuffix("/"))
    require(fs.exists(stagePath), s"versioned commit: stage $stagePath missing")
    if (fs.exists(live)) {
      // A stray quarantine marker can only be left by a restore whose
      // archive rename failed mid-flight; this live data is being
      // committed over, so it must not poison the archive as quarantined.
      fs.delete(new Path(live, QuarantineMarker), false)
      val next = versions(conf, location).lastOption.getOrElse(0) + 1
      require(fs.rename(live, versionPath(location, next)),
        s"versioned commit: archive $live -> v$next failed")
    }
    require(fs.rename(stagePath, live),
      s"versioned commit: rename $stagePath -> $live failed")
    val vs = versions(conf, location)
    vs.dropRight(keepVersions).foreach(n => fs.delete(versionPath(location, n), true))
  }

  /** Write a DataFrame as the new live version (archive-then-swap). */
  def write(df: DataFrame, location: String, keepVersions: Int = 2): Unit = {
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val stage = location.stripSuffix("/") + "__stage"
    df.write.mode("overwrite").parquet(stage)
    commit(conf, location, stage, keepVersions)
  }

  /** Marker dropped into an archive created BY a restore (the quarantined
    * bad live data), so a second restore never puts it back in place. */
  private val QuarantineMarker = "_QUARANTINED"

  private def isQuarantined(fs: org.apache.hadoop.fs.FileSystem, p: Path): Boolean =
    fs.exists(new Path(p, QuarantineMarker))

  /** Roll the live directory back to the most recent archived GOOD version;
    * the rolled-back (bad) live contents are kept as a new version, like
    * Delta RESTORE, but tagged with a quarantine marker: calling
    * restorePrevious again walks further back through history instead of
    * restoring the bad data that was just rolled back. Returns the
    * restored version number. */
  def restorePrevious(conf: Configuration, location: String): Int = {
    val live = new Path(location.stripSuffix("/"))
    val fs = live.getFileSystem(conf)
    val vs = versions(conf, location)
    val good = vs.filterNot(n => isQuarantined(fs, versionPath(location, n)))
    require(good.nonEmpty,
      s"restore: no archived non-quarantined versions for $location " +
        s"(${vs.size} total, ${vs.size - good.size} quarantined)")
    val target = good.last
    if (fs.exists(live)) {
      val next = vs.last.max(target) + 1
      val quarantined = versionPath(location, next)
      // Marker goes INTO the (bad) live dir BEFORE the rename: written
      // after, a crash between rename and marker would leave the bad data
      // as the newest unmarked version — exactly what the next restore
      // would then re-instate. Underscore-prefixed, so readers ignore it.
      fs.create(new Path(live, QuarantineMarker)).close()
      require(fs.rename(live, quarantined),
        s"restore: archive of current live as v$next failed")
    }
    require(fs.rename(versionPath(location, target), live),
      s"restore: rename v$target -> $live failed")
    target
  }

  // ---- append manifests: O(metadata) versioning for append-only writes --

  private def manifestPath(location: String, n: Int): Path =
    new Path(location.stripSuffix("/") + s"__m$n")

  /** Existing append-manifest versions, ascending. */
  def manifestVersions(conf: Configuration, location: String): Seq[Int] = {
    val live = new Path(location.stripSuffix("/"))
    val fs = live.getFileSystem(conf)
    val parent = live.getParent
    val prefix = live.getName + "__m"
    if (parent == null || !fs.exists(parent)) Seq.empty
    else fs.listStatus(parent).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(prefix) &&
          n.length > prefix.length && n.drop(prefix.length).forall(_.isDigit) =>
        n.drop(prefix.length).toInt }
      .sorted
  }

  private def listFilesRelative(fs: org.apache.hadoop.fs.FileSystem,
      root: Path): Seq[String] = {
    val rootStr = root.toUri.getPath.stripSuffix("/")
    PartitionedRewrite.leafFiles(fs, root)
      .map(_.getPath.toUri.getPath.stripPrefix(rootStr).stripPrefix("/"))
  }

  /** Record the file set present at `location` BEFORE an append lands —
    * the Delta-transaction-log analogue for append-only writes. Restoring
    * a version deletes the files the append added; no data is copied, so
    * recording costs one directory listing regardless of table size
    * (unlike [[commit]]'s whole-location archive, which suits rewrites).
    * No-op when the location does not exist yet (version 0 is creation). */
  def recordAppendManifest(conf: Configuration, location: String): Unit = {
    val live = new Path(location.stripSuffix("/"))
    val fs = live.getFileSystem(conf)
    if (!fs.exists(live)) return
    val n = manifestVersions(conf, location).lastOption.getOrElse(0) + 1
    val files = listFilesRelative(fs, live)
    val out = fs.create(manifestPath(location, n), true)
    try out.write(files.mkString("\n").getBytes("UTF-8")) finally out.close()
  }

  /** Restore `location` to the newest append manifest: delete every data
    * file the last append(s) added, then drop the manifest so another
    * restore walks further back. Returns the restored manifest number. */
  def restoreAppendManifest(conf: Configuration, location: String): Int = {
    val live = new Path(location.stripSuffix("/"))
    val fs = live.getFileSystem(conf)
    val ms = manifestVersions(conf, location)
    require(ms.nonEmpty, s"restore: no append manifests for $location")
    val target = ms.last
    val p = manifestPath(location, target)
    val in = fs.open(p)
    val keep =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        .split("\n").toSet.filter(_.nonEmpty)
      finally in.close()
    listFilesRelative(fs, live).filterNot(keep).foreach(rel =>
      fs.delete(new Path(live, rel), false))
    fs.delete(p, false)
    target
  }

  /** True when `location` has append manifests (restore should use them
    * rather than the whole-location archives). */
  def hasAppendManifests(conf: Configuration, location: String): Boolean =
    manifestVersions(conf, location).nonEmpty
}
