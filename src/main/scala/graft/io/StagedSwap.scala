package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Checked staged-swap commit for whole-directory rewrites (merge,
  * delete-where, compaction, control-table update), and its
  * partition-level form for partition-scoped rewrites
  * ([[commitPartitions]]).
  *
  * Protocol: the caller writes the new contents to `<location>__stage`
  * (or any sibling staging dir) and calls [[commit]]. The swap is NOT
  * atomic — Hadoop `FileSystem.rename` is per-path and returns `false`
  * on failure instead of throwing — so this helper makes the swap
  * CRASH-RECOVERABLE with an intent marker (single-writer assumed, like
  * the reference's Delta writer):
  *
  *   1. [[recover]] first settles any interrupted previous swap;
  *   2. `<location>__intent` is written BEFORE any rename, naming the
  *      stage dir — from that point the swap rolls FORWARD: a crash
  *      between the renames is completed by the next [[recover]]/
  *      [[commit]] from the staged data, never by discarding it;
  *   3. every `rename` result is asserted; a failed `stage → live`
  *      restores the previous contents (and clears the intent) so the
  *      target is never left missing;
  *   4. `__old` and the intent are deleted only after the new live path
  *      is verified.
  *
  * The partition-level commit follows the same rules under its own marker
  * `<location>__intent_parts`, which names the stage dir, every staged
  * partition dir to move into place and every touched partition dir to
  * drop; [[recover]] rolls it forward the same way.
  *
  * Readers racing the swap can still observe a missing path between the
  * two renames (documented, unavoidable without a transaction log, which
  * this build intentionally does not have) — but the window is now
  * recoverable, not lossy: the staged commit survives a crash at ANY
  * point after the intent is written.
  */
object StagedSwap {

  private def intentPath(location: String) =
    new Path(location.stripSuffix("/") + "__intent")
  private def oldPath(location: String) =
    new Path(location.stripSuffix("/") + "__old")

  private def writeIntent(fs: FileSystem, location: String, stage: Path): Unit = {
    val out = fs.create(intentPath(location), true)
    try out.writeUTF(stage.toString) finally out.close()
  }

  private def readIntent(fs: FileSystem, location: String): Option[Path] = {
    val p = intentPath(location)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new Path(in.readUTF())) finally in.close()
    }
  }

  private def partsIntentPath(location: String) =
    new Path(location.stripSuffix("/") + "__intent_parts")

  /** The partition-commit intent: the stage dir on the first line, then
    * one line per partition dir, `+rel` to move into place, `-rel` to
    * drop. Plain text, so the list has no size limit. */
  private[io] def writePartsIntent(fs: FileSystem, location: String, stage: Path,
      moves: Seq[String], drops: Seq[String]): Unit = {
    val text = (stage.toString +: (moves.map("+" + _) ++ drops.map("-" + _))).mkString("\n")
    val out = fs.create(partsIntentPath(location), true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Move each staged partition dir into place, drop the emptied ones,
    * then clear the stage and the intent. Idempotent, so a recovery can
    * resume it after a crash at any point: a staged dir still present has
    * not been moved yet (a rename is atomic per dir), one that is gone
    * already has. */
  private def rollPartsForward(fs: FileSystem, location: String, stage: Path,
      moves: Seq[String], drops: Seq[String]): Unit = {
    val live = new Path(location.stripSuffix("/"))
    moves.foreach { rel =>
      val (src, dst) = (new Path(stage, rel), new Path(live, rel))
      if (fs.exists(src)) {
        // Hadoop moves a dir INTO an existing destination, so the live
        // twin must be gone before the rename
        fs.delete(dst, true)
        require(!fs.exists(dst), s"partition commit: cannot remove $dst")
        fs.mkdirs(dst.getParent)
        require(fs.rename(src, dst), s"partition commit: rename $src -> $dst failed")
      } else require(fs.exists(dst), s"partition commit: $src and $dst both missing")
    }
    drops.foreach(rel => fs.delete(new Path(live, rel), true))
    fs.delete(stage, true)
    fs.delete(partsIntentPath(location), false)
  }

  /** Commit a partition-level stage: every `moves` dir under `stage`
    * replaces its twin under `location`, every `drops` dir under
    * `location` is deleted, and all other partitions stay physically
    * untouched. The intent is written before the first rename, so a crash
    * from then on is rolled forward by the next [[recover]]. */
  def commitPartitions(conf: Configuration, location: String, stage: String,
      moves: Seq[String], drops: Seq[String]): Unit = {
    val stagePath = new Path(stage.stripSuffix("/"))
    val fs = stagePath.getFileSystem(conf)
    writePartsIntent(fs, location, stagePath, moves, drops)
    rollPartsForward(fs, location, stagePath, moves, drops)
  }

  /** Settle an interrupted swap at `location`. Returns a short action
    * string for logging/tests: "none" if nothing to do, "forward" if a
    * declared swap (or partition commit) was completed from its stage,
    * "finalize" if only leftover markers needed clearing, "rollback" if a
    * pre-intent-era crash was restored from `__old`. Safe to call any
    * time under the single-writer assumption. */
  def recover(conf: Configuration, location: String): String =
    recoverInternal(conf, location)._1

  /** recover + the stage path named by a settled intent (so a retried
    * commit can recognize its own completed swap). */
  private def recoverInternal(
      conf: Configuration, location: String): (String, Option[Path]) = {
    val live = new Path(location.stripSuffix("/"))
    val fs = live.getFileSystem(conf)
    val old = oldPath(location)
    val parts = partsIntentPath(location)
    if (fs.exists(parts)) {
      val in = fs.open(parts)
      val lines = try new String(in.readAllBytes(), StandardCharsets.UTF_8).split("\n").toSeq
        finally in.close()
      val stage = new Path(lines.head)
      val ops = lines.tail
      rollPartsForward(fs, location, stage,
        ops.filter(_.startsWith("+")).map(_.tail), ops.filter(_.startsWith("-")).map(_.tail))
      return ("forward", Some(stage))
    }
    readIntent(fs, location) match {
      case Some(stage) if fs.exists(stage) =>
        // Intent declared and the staged data is still there: roll the
        // swap FORWARD (crash happened before `stage -> live`).
        if (fs.exists(live)) {
          fs.delete(old, true)
          require(fs.rename(live, old),
            s"staged-swap recover: rename $live -> $old failed")
        }
        if (!fs.rename(stage, live)) {
          // Mirror commit(): put the previous contents back before
          // failing so the location is never left missing. The intent
          // stays — the stage is intact, so a later recover can still
          // roll this swap forward.
          val restored = fs.exists(old) && fs.rename(old, live)
          sys.error(s"staged-swap recover: rename $stage -> $live failed" +
            (if (restored) s" (previous contents restored from $old)" else ""))
        }
        fs.delete(old, true)
        fs.delete(intentPath(location), false)
        ("forward", Some(stage))
      case Some(stage) =>
        // Stage already renamed away: the swap completed; the crash hit
        // between verification and marker cleanup. Just finalize.
        require(fs.exists(live),
          s"staged-swap recover: intent present, stage and $live both missing")
        fs.delete(old, true)
        fs.delete(intentPath(location), false)
        ("finalize", Some(stage))
      case None if !fs.exists(live) && fs.exists(old) =>
        // Pre-intent crash shape (or a failed rollback): restore old.
        require(fs.rename(old, live),
          s"staged-swap recover: rename $old -> $live failed")
        ("rollback", None)
      case None => ("none", None)
    }
  }

  /** Swap `stage` into place at `location`, keeping the previous contents
    * at `<location>__old` until the swap is verified. Throws (and restores
    * the previous contents when possible) on any failed rename.
    */
  def commit(conf: Configuration, location: String, stage: String): Unit = {
    val live = new Path(location.stripSuffix("/"))
    val fs = live.getFileSystem(conf)
    val old = oldPath(location)
    val stagePath = new Path(stage.stripSuffix("/"))
    val (action, settledStage) = recoverInternal(conf, location)
    // A retried commit whose previous attempt crashed mid-swap: recovery
    // just completed (or finalized) THIS swap from THIS stage — the commit
    // has succeeded; re-staging nothing is the correct idempotent outcome.
    if ((action == "forward" || action == "finalize") &&
        settledStage.exists(_.toString == stagePath.toString) &&
        !fs.exists(stagePath)) return
    require(fs.exists(stagePath), s"staged-swap: stage dir $stagePath does not exist")
    fs.delete(old, true)

    // Point of no return: from here a crash rolls FORWARD to the stage.
    writeIntent(fs, location, stagePath)
    val hadLive = fs.exists(live)
    if (hadLive)
      require(fs.rename(live, old), s"staged-swap: rename $live -> $old failed")
    if (!fs.rename(stagePath, live)) {
      // Put the previous contents back before failing, so the target is
      // never left missing by a failed swap.
      if (hadLive) fs.rename(old, live)
      fs.delete(intentPath(location), false)
      sys.error(s"staged-swap: rename $stagePath -> $live failed" +
        (if (hadLive) s" (previous contents restored from $old)" else ""))
    }
    require(fs.exists(live), s"staged-swap: $live missing after commit")
    fs.delete(old, true)
    fs.delete(intentPath(location), false)
  }
}
