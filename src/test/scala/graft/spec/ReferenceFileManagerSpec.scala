package graft.spec

import graft.SparkSpec
import graft.maintain.ManagerDispatch
import graft.spec.Specs
import java.nio.file.{Files, Paths}

/** The reference's own file-manager scenarios, executed verbatim:
  * `tests/feature/test_file_manager_s3.py` (against a local S3 endpoint
  * standing in for moto's `@mock_s3`, 2000-object trees so pagination is
  * really exercised) and `tests/feature/test_file_manager_dbfs.py`
  * (rebased onto a temp root, through the filesystem branch). The ACONs
  * are the reference's actual JSON resources
  * (`tests/resources/feature/file_manager_s3`, `file_manager_dbfs`);
  * the only additions are transport coordinates (endpoint/credentials)
  * and path rebasing, exactly like the other verbatim families.
  */
class ReferenceFileManagerSpec extends SparkSpec {

  private val s3Res = "/root/reference/tests/resources/feature/file_manager_s3"
  private val dbfsRes = "/root/reference/tests/resources/feature/file_manager_dbfs"

  private def acon(path: String): Map[String, Any] =
    Specs.parseJsonMap(Files.readString(Paths.get(path)))

  /** Run one flat file-manager ACON (the `manage_files` entrypoint),
    * with S3 transport coordinates injected. */
  private def runS3(fake: FakeS3, aconPath: String,
      extra: Map[String, Any] = Map.empty): String =
    ManagerDispatch.execute(spark, Seq(acon(aconPath) ++ Map(
      "manager" -> "file",
      "endpoint" -> fake.endpoint, "region" -> "us-east-1",
      "access_key" -> "test", "secret_key" -> "test",
      "disable_dbfs_retry" -> true) ++ extra)).head

  private def runDbfs(aconPath: String, root: String): String = {
    val json = Files.readString(Paths.get(aconPath))
      .replace("tests/lakehouse/dbfs", root)
    ManagerDispatch.execute(spark,
      Seq(Specs.parseJsonMap(json) + ("manager" -> "file"))).head
  }

  // ---- test_file_manager_s3.py::test_file_manager_s3 -------------------

  test("s3 copy + delete scenarios run verbatim (2000-object pagination)") {
    assume(new java.io.File(s3Res).isDirectory, s"missing $s3Res")
    val fake = new FakeS3().start()
    try {
      fake.createBucket("test_bucket")
      fake.createBucket("destination_bucket")
      fake.put("test_bucket", "test_single_file.json")
      fake.put("test_bucket", "test_directory/")
      (0 until 2000).foreach(x =>
        fake.put("test_bucket", s"test_directory/test_recursive_file$x.json"))
      fake.put("test_bucket", "test_directory_test/")
      (0 until 2000).foreach(x =>
        fake.put("test_bucket", s"test_directory_test/test_recursive_file$x.json"))

      // _test_file_manager_s3_copy
      val copySingleDry =
        runS3(fake, s"$s3Res/copy_objects/acon_copy_single_object_dry_run.json")
      assert(copySingleDry.contains(
        "{'test_single_file.json': ['test_single_file.json']}"))

      val copyDirDry =
        runS3(fake, s"$s3Res/copy_objects/acon_copy_directory_dry_run.json")
      (0 until 2000).foreach(x =>
        assert(copyDirDry.contains(s"test_directory/test_recursive_file$x.json"),
          s"missing file $x in dry-run listing"))

      runS3(fake, s"$s3Res/copy_objects/acon_copy_single_object.json")
      assert(fake.keys("destination_bucket").size == 1)

      runS3(fake, s"$s3Res/copy_objects/acon_copy_directory.json")
      assert(fake.keys("destination_bucket").size == 2002)

      // _test_file_manager_s3_delete
      val delDry =
        runS3(fake, s"$s3Res/delete_objects/acon_delete_objects_dry_run.json")
      assert(delDry.contains("{'test_single_file.json': " +
        "['test_single_file.json'], 'test_directory/': ['test_directory/'"))
      (0 until 2000).foreach(x =>
        assert(delDry.contains(s"test_directory/test_recursive_file$x.json")))

      runS3(fake, s"$s3Res/delete_objects/acon_delete_objects.json")
      assert(fake.keys("test_bucket").size == 2001)
      // the sibling prefix survives: delete of test_directory must not
      // touch test_directory_test (the get_directory_path contract)
      assert(fake.keys("test_bucket").forall(_.startsWith("test_directory_test")))
    } finally fake.stop()
  }

  // ---- test_file_manager_s3.py::test_file_manager_s3_restore_archive ---

  for (storageClass <- Seq("GLACIER", "GLACIER_IR", "DEEP_ARCHIVE"))
    test(s"s3 restore request + status scenario runs verbatim ($storageClass)") {
      assume(new java.io.File(s3Res).isDirectory, s"missing $s3Res")
      val fake = new FakeS3().start()
      try {
        fake.createBucket("test_bucket")
        fake.createBucket("destination_bucket")
        fake.put("test_bucket", "test_single_file.json",
          storageClass = storageClass)
        fake.put("test_bucket", "test_directory") // STANDARD marker
        (0 until 3).foreach(x => fake.put("test_bucket",
          s"test_directory/test_recursive_file$x.json",
          storageClass = storageClass))

        runS3(fake, s"$s3Res/request_restore/acon_request_restore_single_object.json")
        runS3(fake, s"$s3Res/request_restore/acon_request_restore_directory.json")
        assert(fake.keys("test_bucket").size == 5)
        assert(fake.restoredCount("test_bucket") == 4)

        val status = runS3(fake,
          s"$s3Res/check_restore_status/acon_check_restore_status_directory.json")
        (0 until 3).foreach(x => assert(status.contains(
          s"Checking restore status for: test_directory/test_recursive_file$x.json")))
        assert(status.contains("- Restored: 3"))
        assert(status.contains("Total objects in this restore process: 3"))
      } finally fake.stop()
    }

  // ---- test_file_manager_s3.py::test_file_manager_s3_restore_sync ------

  for (storageClass <- Seq("GLACIER", "GLACIER_IR", "DEEP_ARCHIVE"))
    test(s"s3 restore-to-destination-and-wait scenario runs verbatim ($storageClass)") {
      assume(new java.io.File(s3Res).isDirectory, s"missing $s3Res")
      val fake = new FakeS3().start()
      try {
        fake.createBucket("test_bucket")
        fake.createBucket("destination_bucket")
        fake.put("test_bucket", "test_single_file.json",
          storageClass = storageClass)
        fake.put("test_bucket", "test_directory/") // STANDARD marker
        (0 until 3).foreach(x => fake.put("test_bucket",
          s"test_directory/test_recursive_file$x.json",
          storageClass = storageClass))

        runS3(fake, s"$s3Res/request_restore_to_destination_and_wait/" +
          "acon_request_restore_to_destination_and_wait_single_object.json")
        assert(fake.keys("destination_bucket").size == 1)
        assert(fake.restoredCount("test_bucket") == 1)

        runS3(fake, s"$s3Res/request_restore_to_destination_and_wait/" +
          "acon_request_restore_to_destination_and_wait_directory.json")
        assert(fake.keys("destination_bucket").size == 5)
        assert(fake.restoredCount("test_bucket") == 4)

        // retrieval-tier guard: Bulk raises with the reference's message
        val err = intercept[IllegalArgumentException] {
          runS3(fake, s"$s3Res/request_restore_to_destination_and_wait/" +
            "acon_request_restore_to_destination_and_wait_single_object_raise_error.json")
        }
        assert(err.getMessage.contains(
          "Retrieval Tier Bulk not allowed on this operation! This kind of " +
            "restore should be used just with `Expedited` retrieval tier to " +
            "save cluster costs."))
      } finally fake.stop()
    }

  test("s3 move_objects is not implemented (no dbfs fallback)") {
    // S3FileManager's function table has no move_objects
    // (`s3_file_manager.py:129-148`), and the factory re-raises
    // NotImplementedError instead of retrying on DBFS
    // (`file_manager.py:66-75`).
    val fake = new FakeS3().start()
    try {
      fake.createBucket("b")
      val err = intercept[UnsupportedOperationException] {
        ManagerDispatch.execute(spark, Seq(Map(
          "manager" -> "file", "function" -> "move_objects",
          "bucket" -> "b", "source_object" -> "x",
          "destination_bucket" -> "b", "destination_object" -> "y",
          "dry_run" -> false,
          "endpoint" -> fake.endpoint, "region" -> "us-east-1",
          "access_key" -> "test", "secret_key" -> "test")))
      }
      assert(err.getMessage.contains(
        "The requested function move_objects is not implemented."))
    } finally fake.stop()
  }

  // ---- test_file_manager_dbfs.py::test_file_manager_dbfs ---------------

  test("dbfs copy + delete + move scenarios run verbatim") {
    assume(new java.io.File(dbfsRes).isDirectory, s"missing $dbfsRes")
    val root = tmpDir("fm-dbfs") + "/dbfs"
    Files.createDirectories(Paths.get(root))
    Files.writeString(Paths.get(s"$root/test_single_file.json"), "")
    Files.createDirectories(Paths.get(s"$root/test_directory"))
    (0 until 2000).foreach(x => Files.writeString(
      Paths.get(s"$root/test_directory/test_recursive_file$x.json"), ""))
    Files.createDirectories(Paths.get(s"$root/test_directory_test"))
    (0 until 2000).foreach(x => Files.writeString(
      Paths.get(s"$root/test_directory_test/test_recursive_file$x.json"), ""))

    def count(dir: String): Int = {
      val p = Paths.get(dir)
      if (!Files.exists(p)) 0
      else Files.list(p).count().toInt
    }

    // _test_file_manager_dbfs_copy
    val copyDirDry = runDbfs(s"$dbfsRes/copy_objects/acon_copy_directory_dry_run.json", root)
    (0 until 2000).foreach(x => assert(copyDirDry.contains(
      s"$root/test_directory/test_recursive_file$x.json")))

    runDbfs(s"$dbfsRes/copy_objects/acon_copy_directory.json", root)
    assert(count(s"$root/test_directory") == count(s"$root/destination_directory"))

    runDbfs(s"$dbfsRes/copy_objects/acon_copy_single_object.json", root)
    assert(Files.exists(Paths.get(s"$root/test_single_file.json")))
    assert(Files.exists(Paths.get(s"$root/destination_single_file.json")))

    // _test_file_manager_dbfs_delete
    val delDry = runDbfs(s"$dbfsRes/delete_objects/acon_delete_objects_dry_run.json", root)
    assert(delDry.contains(s"{'$root/test_directory': ['$root/test_directory/"))
    (0 until 2000).foreach { x =>
      assert(delDry.contains(s"$root/test_directory/test_recursive_file$x.json"))
      assert(delDry.contains(s"$root/destination_directory/test_recursive_file$x.json"))
    }

    runDbfs(s"$dbfsRes/delete_objects/acon_delete_objects.json", root)
    assert(count(s"$root/destination_directory") == 0)

    // _test_file_manager_dbfs_move
    val moveDry = runDbfs(s"$dbfsRes/move_objects/acon_move_objects_dry_run.json", root)
    assert(moveDry.contains(s"{'$root/test_directory': ['$root/test_directory/"))
    (0 until 2000).foreach(x => assert(moveDry.contains(
      s"$root/test_directory/test_recursive_file$x.json")))

    runDbfs(s"$dbfsRes/move_objects/acon_move_objects.json", root)
    assert(count(s"$root/test_directory") == 0)
    assert(count(s"$root/test_mv_directory") == 2000)
  }

  test("dbfs restore functions are not implemented") {
    // DBFSFileManager's function table has no restore family
    // (`dbfs_file_manager.py:85-101`).
    val err = intercept[UnsupportedOperationException] {
      ManagerDispatch.execute(spark, Seq(Map(
        "manager" -> "file", "function" -> "request_restore",
        "bucket" -> "b", "source_object" -> "o",
        "restore_expiration" -> 1, "retrieval_tier" -> "Bulk",
        "dry_run" -> true)))
    }
    assert(err.getMessage.contains(
      "The requested function request_restore is not implemented."))
  }
}
