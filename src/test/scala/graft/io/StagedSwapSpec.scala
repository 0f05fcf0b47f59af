package graft.io

import graft.SparkSpec
import org.apache.hadoop.fs.Path

class StagedSwapSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration

  private def writeDir(dir: String, marker: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p)
    val out = fs.create(new Path(p, "data.txt"), true)
    out.write(marker.getBytes("UTF-8"))
    out.close()
  }

  private def readMarker(dir: String): String = {
    val p = new Path(dir, "data.txt")
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    val bytes = new Array[Byte](64)
    val n = in.read(bytes)
    in.close()
    new String(bytes, 0, n, "UTF-8")
  }

  test("commit swaps stage into place and cleans up __old") {
    val base = tmpDir("swap")
    val live = s"$base/t"
    writeDir(live, "v1")
    writeDir(s"${live}__stage", "v2")
    StagedSwap.commit(conf, live, s"${live}__stage")
    assert(readMarker(live) == "v2")
    val fs = new Path(live).getFileSystem(conf)
    assert(!fs.exists(new Path(live + "__old")))
    assert(!fs.exists(new Path(live + "__stage")))
  }

  test("commit with no existing live dir installs the stage") {
    val base = tmpDir("swap")
    val live = s"$base/t"
    writeDir(s"${live}__stage", "v1")
    StagedSwap.commit(conf, live, s"${live}__stage")
    assert(readMarker(live) == "v1")
  }

  test("commit recovers a crash that left data only at __old") {
    val base = tmpDir("swap")
    val live = s"$base/t"
    // simulate a crash between the two renames of a previous swap:
    // live is missing, previous contents sit at __old
    writeDir(s"${live}__old", "v1")
    writeDir(s"${live}__stage", "v2")
    StagedSwap.commit(conf, live, s"${live}__stage")
    assert(readMarker(live) == "v2")
  }

  test("commit refuses a missing stage dir") {
    val base = tmpDir("swap")
    val live = s"$base/t"
    writeDir(live, "v1")
    intercept[IllegalArgumentException] {
      StagedSwap.commit(conf, live, s"${live}__stage")
    }
    assert(readMarker(live) == "v1") // live untouched
  }

  private def writeIntentFile(live: String, stage: String): Unit = {
    val p = new Path(live + "__intent")
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    out.writeUTF(new Path(stage).toString)
    out.close()
  }

  test("recover rolls a declared swap FORWARD from the stage") {
    val base = tmpDir("swap")
    val live = s"$base/t"
    // crash after intent was written, before any rename: live v1 intact
    writeDir(live, "v1")
    writeDir(s"${live}__stage", "v2")
    writeIntentFile(live, s"${live}__stage")
    assert(StagedSwap.recover(conf, live) == "forward")
    assert(readMarker(live) == "v2") // staged commit NOT lost
    val fs = new Path(live).getFileSystem(conf)
    assert(!fs.exists(new Path(live + "__intent")))
    assert(!fs.exists(new Path(live + "__old")))
  }

  test("recover completes a swap that crashed between the renames") {
    val base = tmpDir("swap")
    val live = s"$base/t"
    // crash after live -> __old, before stage -> live
    writeDir(s"${live}__old", "v1")
    writeDir(s"${live}__stage", "v2")
    writeIntentFile(live, s"${live}__stage")
    assert(StagedSwap.recover(conf, live) == "forward")
    assert(readMarker(live) == "v2")
  }

  test("recover finalizes a swap that crashed before marker cleanup") {
    val base = tmpDir("swap")
    val live = s"$base/t"
    // crash after stage -> live, before intent/__old deletion
    writeDir(live, "v2")
    writeDir(s"${live}__old", "v1")
    writeIntentFile(live, s"${live}__stage")
    assert(StagedSwap.recover(conf, live) == "finalize")
    assert(readMarker(live) == "v2")
    val fs = new Path(live).getFileSystem(conf)
    assert(!fs.exists(new Path(live + "__intent")))
    assert(!fs.exists(new Path(live + "__old")))
  }

  test("recover is a no-op on a clean location") {
    val base = tmpDir("swap")
    val live = s"$base/t"
    writeDir(live, "v1")
    assert(StagedSwap.recover(conf, live) == "none")
    assert(readMarker(live) == "v1")
  }

  test("retried commit after a mid-swap crash is an idempotent success") {
    val base = tmpDir("swap")
    val live = s"$base/t"
    val stage = s"${live}__stage"
    // crash after live -> __old with intent declared; the orchestrator
    // retries commit with the SAME stage argument
    writeDir(s"${live}__old", "v1")
    writeDir(stage, "v2")
    writeIntentFile(live, stage)
    StagedSwap.commit(conf, live, stage) // must not throw "stage missing"
    assert(readMarker(live) == "v2")
    // a retry with a DIFFERENT (absent) stage still fails loudly
    intercept[IllegalArgumentException] {
      StagedSwap.commit(conf, live, s"${live}__other_stage")
    }
  }

  test("only graft.io commits a location: no other main source calls a commit itself") {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"missing ${root.getAbsolutePath}")
    val io = new java.io.File(root, "io").getCanonicalPath + java.io.File.separator
    val commit = "StagedSwap\\.commit|Versioned\\.(commit|write)".r
    val callers = graft.spec.TestFiles.walk(root, ".scala")
      .filterNot(_.getCanonicalPath.startsWith(io))
      .filter(f => commit.findFirstIn(java.nio.file.Files.readString(f.toPath)).isDefined)
    assert(callers.isEmpty, callers.mkString("commit outside graft.io: ", ", ", ""))
  }
}
