package graft.maintain

import graft.spec.Specs
import graft.spec.Specs.A
import org.apache.spark.sql.SparkSession

/** `execute_manager`: dispatch a LIST of manager operations in one call
  * (reference `engine.py:140-167` + `utils/acon_utils.py:17-35` /
  * `validate_managers`): every operation is validated first — manager
  * type, function name, mandatory args — and ALL validation errors are
  * collected and thrown together before anything executes, so a bad batch
  * never half-runs.
  */
object ManagerDispatch {

  /** Per-function parameter registry: ordered (name, (type, mandatory))
    * rows, the exact contents and insertion order of the reference's
    * TABLE_MANAGER_OPERATIONS / FILE_MANAGER_OPERATIONS
    * (`core/definitions.py:1876-1970`) — order matters because the
    * validation messages render Python list reprs of them. */
  private type Params = Seq[(String, (String, Boolean))]

  private val tableOps: Map[String, Params] = Map(
    "compute_table_statistics" -> Seq("table_or_view" -> ("str", true)),
    // engine extension (no reference analogue — the reference leans on
    // Delta OPTIMIZE): bin-pack a persisted parquet index in place. See
    // graft.maintain.IndexMaintenance.
    "compact_index" -> Seq(
      "path" -> ("str", true),
      "distinct_rows" -> ("bool", false),
      "target_file_bytes" -> ("int", false),
      "max_files" -> ("int", false)), // set -> compact only past this count
    "create_table" -> Seq(
      "path" -> ("str", true),
      "disable_dbfs_retry" -> ("bool", false),
      "delimiter" -> ("str", false),
      "advanced_parser" -> ("bool", false)),
    "create_tables" -> Seq(
      "path" -> ("str", true),
      "disable_dbfs_retry" -> ("bool", false),
      "delimiter" -> ("str", false),
      "advanced_parser" -> ("bool", false)),
    "create_view" -> Seq(
      "path" -> ("str", true),
      "disable_dbfs_retry" -> ("bool", false),
      "delimiter" -> ("str", false),
      "advanced_parser" -> ("bool", false)),
    "drop_table" -> Seq("table_or_view" -> ("str", true)),
    "drop_view" -> Seq("table_or_view" -> ("str", true)),
    "execute_sql" -> Seq(
      "sql" -> ("str", true),
      "delimiter" -> ("str", false),
      "advanced_parser" -> ("bool", false)),
    "truncate" -> Seq("table_or_view" -> ("str", true)),
    "vacuum" -> Seq(
      "table_or_view" -> ("str", false),
      "path" -> ("str", false),
      "vacuum_hours" -> ("int", false)),
    "describe" -> Seq("table_or_view" -> ("str", true)),
    "optimize" -> Seq(
      "table_or_view" -> ("str", false),
      "path" -> ("str", false),
      "where_clause" -> ("str", false),
      "optimize_zorder_col_list" -> ("str", false)),
    "show_tbl_properties" -> Seq("table_or_view" -> ("str", true)),
    "get_tbl_pk" -> Seq("table_or_view" -> ("str", true)),
    "repair_table" -> Seq(
      "table_or_view" -> ("str", true),
      "sync_metadata" -> ("bool", true)),
    "delete_where" -> Seq(
      "table_or_view" -> ("str", true),
      "where_clause" -> ("str", true)))

  private val fileOps: Map[String, Params] = Map(
    "delete_objects" -> Seq(
      "bucket" -> ("str", true),
      "object_paths" -> ("list", true),
      "dry_run" -> ("bool", true)),
    "copy_objects" -> Seq(
      "bucket" -> ("str", true),
      "source_object" -> ("str", true),
      "destination_bucket" -> ("str", true),
      "destination_object" -> ("str", true),
      "dry_run" -> ("bool", true)),
    "move_objects" -> Seq(
      "bucket" -> ("str", true),
      "source_object" -> ("str", true),
      "destination_bucket" -> ("str", true),
      "destination_object" -> ("str", true),
      "dry_run" -> ("bool", true)),
    "request_restore" -> Seq(
      "bucket" -> ("str", true),
      "source_object" -> ("str", true),
      "restore_expiration" -> ("int", true),
      "retrieval_tier" -> ("str", true),
      "dry_run" -> ("bool", true)),
    "check_restore_status" -> Seq(
      "bucket" -> ("str", true),
      "source_object" -> ("str", true)),
    "request_restore_to_destination_and_wait" -> Seq(
      "bucket" -> ("str", true),
      "source_object" -> ("str", true),
      "destination_bucket" -> ("str", true),
      "destination_object" -> ("str", true),
      "restore_expiration" -> ("int", true),
      "retrieval_tier" -> ("str", true),
      "dry_run" -> ("bool", true)))

  /** Resolve an S3 client for archive-restore ops: operation args first
    * (`endpoint`, `region`, `access_key`, `secret_key`, `session_token`),
    * AWS_* environment second. None when no endpoint+credentials. */
  private def s3ClientFor(op: Map[String, Any]): Option[graft.io.AwsSig.S3RestoreClient] = {
    def arg(k: String, env: String): Option[String] =
      A.str(op, k).orElse(sys.env.get(env))
    for {
      endpoint <- arg("endpoint", "AWS_ENDPOINT_URL")
      region <- arg("region", "AWS_REGION").orElse(Some("us-east-1"))
      ak <- arg("access_key", "AWS_ACCESS_KEY_ID")
      sk <- arg("secret_key", "AWS_SECRET_ACCESS_KEY")
    } yield new graft.io.AwsSig.S3RestoreClient(endpoint.stripSuffix("/"), region,
      graft.io.AwsSig.Credentials(ak, sk, arg("session_token", "AWS_SESSION_TOKEN")))
  }

  /** Parse an `{"operations": [...]}` ACON and run it. Returns one
    * human-readable status line per executed operation. */
  def execute(spark: SparkSession, aconJson: String): Seq[String] =
    execute(spark, A.seqOfMaps(Specs.parseJsonMap(aconJson), "operations"))

  /** @param strictTypes list-form `execute_manager` ACONs get the
    *   reference's full typed validation (`validate_manager_list`); FLAT
    *   `manage_table`/`manage_files` ACONs are never type-validated in
    *   the reference (`validate_managers` returns on a missing `manager`
    *   key — its own `table_manager` fixtures carry `"advanced_parser":
    *   "True"` as a STRING), so the injected-manager path passes
    *   strictTypes = false and keeps membership + mandatory checks only. */
  def execute(spark: SparkSession, operations: Seq[Map[String, Any]],
      strictTypes: Boolean = true): Seq[String] = {
    if (operations.isEmpty)
      throw new RuntimeException("No operations found in the acon.")
    val errors = operations.zipWithIndex.flatMap { case (op, i) =>
      validate(op, i, strictTypes) }
    if (errors.nonEmpty)
      throw new RuntimeException(
        "Errors found during validation:\n" + errors.mkString("\n"))
    operations.map(run(spark, _))
  }

  /** Storage path of an op's target: explicit `path`, else the catalog
    * location of `table_or_view` (the reference addresses optimize /
    * delete_where by table name; the path-rewrite implementations here
    * need the files). */
  private def storagePath(spark: SparkSession, op: Map[String, Any]): String =
    A.str(op, "path").getOrElse {
      val t = A.str(op, "table_or_view").getOrElse(
        sys.error("needs 'path' or 'table_or_view'"))
      spark.sql(s"DESCRIBE FORMATTED $t").collect()
        .find(r => String.valueOf(r.get(0)).trim.equalsIgnoreCase("Location"))
        .map(r => String.valueOf(r.get(1)).trim)
        .getOrElse(sys.error(s"no resolvable storage location for $t"))
    }

  /** Plan-only validation for the ACON conformance pass: the per-op
    * errors, without executing anything (empty = the config plans). */
  def validationErrors(operations: Seq[Map[String, Any]],
      strictTypes: Boolean = true): Seq[String] =
    operations.zipWithIndex.flatMap { case (op, i) => validate(op, i, strictTypes) }

  /** Reference manager ACONs are FLAT (`{"function": ..., args...}`) —
    * the manager type is implied by the entrypoint
    * (`execute_table_manager` vs `execute_file_manager`). Infer it from
    * the function name for classification. */
  def inferManager(function: String): Option[String] =
    if (tableOps.contains(function)) Some("table")
    else if (fileOps.contains(function)) Some("file")
    else None

  /** Python type name of a parsed JSON value, for the reference's
    * "expected X, got Y" renderings. */
  private def pyTypeName(v: Any): String = v match {
    case null => "NoneType"
    case _: Boolean => "bool"
    case _: String => "str"
    case _: Int | _: Long | _: java.math.BigInteger => "int"
    case _: Double | _: Float | _: java.math.BigDecimal => "float"
    case _: Seq[_] => "list"
    case _: Map[_, _] => "dict"
    case other => other.getClass.getSimpleName
  }

  /** `validate_managers` (`utils/acon_utils.py:99-152`): per-operation
    * errors with the reference's exact messages — missing function,
    * unsupported manager/function, missing mandatory parameters (Python
    * list repr, registry order) and per-parameter type validation
    * (str/bool/int/list, Python type names, double-quoted list repr).
    * Pinned verbatim by ReferenceAconValidationSpec against
    * `tests/unit/test_acon_validation.py`. */
  private def validate(op: Map[String, Any], i: Int,
      strictTypes: Boolean = true): Seq[String] = {
    val manager = A.str(op, "manager")
    val function = A.str(op, "function")
    val errs = Seq.newBuilder[String]
    if (function.isEmpty)
      errs += "Missing 'function' parameter for manager"
    val registry: Option[(String, Map[String, Params])] = manager match {
      case Some("table") => Some("table" -> tableOps)
      case Some("file") => Some("file" -> fileOps)
      case Some(other) =>
        errs += s"Manager type not supported: $other"; None
      case None =>
        // repo addition: the reference silently skips manager-less ops
        // (`acon_utils.py:108-109`), deferring the failure to dispatch —
        // surfacing it at validation is strictly earlier, same outcome
        errs += s"Missing 'manager' parameter for operation"; None
    }
    registry.foreach { case (mgr, ops) =>
      val fn = function.getOrElse("None")
      ops.get(fn) match {
        case None =>
          errs += s"Function '$fn' not supported for $mgr manager"
        case Some(params) =>
          val missing = params.collect { case (n, (_, true)) if !op.contains(n) => n }
          if (missing.nonEmpty)
            errs += s"Missing mandatory parameters for $mgr manager function $fn: " +
              missing.map(x => s"'$x'").mkString("[", ", ", "]")
          val typeErrs = params.flatMap { case (n, (tpe, _)) =>
            op.get(n).flatMap { v =>
              val ok = tpe match {
                case "str" => v.isInstanceOf[String]
                case "bool" => v.isInstanceOf[Boolean]
                case "int" => v.isInstanceOf[Int] || v.isInstanceOf[Long] ||
                  v.isInstanceOf[java.math.BigInteger]
                case "list" => v.isInstanceOf[Seq[_]]
                case _ => true
              }
              if (ok) None
              else Some(s"Parameter '$n' expected $tpe, got ${pyTypeName(v)}")
            }
          }
          if (strictTypes && typeErrs.nonEmpty)
            errs += s"Type validation errors for $mgr manager function $fn: " +
              typeErrs.map(e => "\"" + e + "\"").mkString("[", ", ", "]")
      }
    }
    errs.result()
  }

  private def run(spark: SparkSession, op: Map[String, Any]): String = {
    val fn = A.str(op, "function").get
    def s(k: String) = A.str(op, k).get
    // reference acons address SQL scripts as file:// URIs
    def readSqlFile(p: String): String =
      java.nio.file.Files.readString(
        java.nio.file.Paths.get(p.stripPrefix("file://")))
    def readSqlArg(): String =
      A.str(op, "sql").getOrElse(readSqlFile(s("path")))
    A.str(op, "manager").get match {
      case "table" =>
        val tm = new TableManager(spark)
        fn match {
          case "compute_table_statistics" => tm.computeTableStatistics(s("table_or_view"))
          case "create_table" | "create_view" | "execute_sql" =>
            tm.executeSql(readSqlArg(), A.str(op, "delimiter").getOrElse(";"))
          case "create_tables" =>
            // comma-separated list of DDL file paths (reference create_many)
            s("path").split(",").map(_.trim).filter(_.nonEmpty).foreach(p =>
              tm.executeSql(readSqlFile(p)))
          case "drop_table" => tm.dropTable(s("table_or_view"))
          case "drop_view" => tm.dropView(s("table_or_view"))
          case "truncate" => tm.truncate(s("table_or_view"))
          case "vacuum" => tm.vacuum(A.str(op, "path").orElse(A.str(op, "table_or_view")).getOrElse(""),
            A.num(op, "vacuum_hours").map(_.toInt).getOrElse(168))
          case "describe" => tm.describe(s("table_or_view")).collect()
          case "optimize" => tm.optimize(storagePath(spark, op),
            A.num(op, "target_partitions").map(_.toInt).getOrElse(0),
            A.str(op, "optimize_zorder_col_list").toSeq
              .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
            // reference accepts the generic `where_clause` key here too
            // (`table_manager.py:164-167`)
            A.str(op, "optimize_where").orElse(A.str(op, "where_clause")),
            A.str(op, "optimize_curve").getOrElse("zorder"))
          case "compact_index" =>
            val dr = A.bool(op, "distinct_rows")
            val tfb = A.num(op, "target_file_bytes").map(_.toLong).getOrElse(128L << 20)
            A.num(op, "max_files").map(_.toInt) match {
              case Some(mf) =>
                IndexMaintenance.compactIfNeeded(spark, s("path"), mf, dr, tfb)
              case None =>
                IndexMaintenance.compactIndex(spark, s("path"), dr, tfb)
            }
          case "show_tbl_properties" => tm.showTblProperties(s("table_or_view")).collect()
          case "get_tbl_pk" => tm.getTablePk(s("table_or_view"))
          case "repair_table" => tm.repairTable(s("table_or_view"))
          case "delete_where" =>
            tm.deleteWhere(storagePath(spark, op), s("where_clause"))
        }
        s"table/$fn: ok"
      case "file" =>
        // Reference `core/file_manager.py:54-78` FileManagerFactory:
        // with S3 access configured, try the S3 manager and fall back to
        // the DBFS manager on generic failure — but re-raise
        // ValueError / NotImplementedError / RestoreTypeNotFound (our
        // IllegalArgumentException / UnsupportedOperationException)
        // untouched; `disable_dbfs_retry` pins S3 with no fallback.
        // validation already enforced bool (reference type contract); the
        // string fallback keeps direct (unvalidated) callers failing safe
        val dryRun = op.get("dry_run") match {
          case None => false
          case Some(b: Boolean) => b
          case Some(s: String) if s.equalsIgnoreCase("true") => true
          case Some(s: String) if s.equalsIgnoreCase("false") => false
          case Some(other) =>
            throw new RuntimeException(s"dry_run must be boolean, got '$other'")
        }
        val disableDbfsRetry = op.get("disable_dbfs_retry").contains(true)
        s3ClientFor(op) match {
          case Some(client) if disableDbfsRetry => runFileS3(op, fn, dryRun, client)
          case Some(client) =>
            try runFileS3(op, fn, dryRun, client)
            catch {
              case e: IllegalArgumentException => throw e
              case e: UnsupportedOperationException => throw e
              case _: Exception => runFileDbfs(spark, op, fn, dryRun)
            }
          case None => runFileDbfs(spark, op, fn, dryRun)
        }
    }
  }

  /** The reference S3 file manager surface (`s3_file_manager.py:129-148`
    * `get_function`): delete/copy + the Glacier restore flows;
    * `move_objects` is NOT in its function table and raises. */
  private def runFileS3(op: Map[String, Any], fn: String, dryRun: Boolean,
      client: graft.io.AwsSig.S3RestoreClient): String = {
    def s(k: String) = A.str(op, k).get
    import S3FileOps.pyDict
    // wait cadence is the reference's 5min-then-30s unless the op tunes
    // it (tests drive the protocol with millisecond waits)
    val poll = A.num(op, "poll_interval_ms").map(_.toLong)
    val ops = new S3FileOps(client,
      firstWaitMillis = poll.getOrElse(300000L),
      nextWaitMillis = poll.getOrElse(30000L),
      maxWaitAttempts = A.num(op, "max_wait_attempts").map(_.toInt).getOrElse(240))
    val days = A.num(op, "restore_expiration").map(_.toInt).getOrElse(1)
    val tier = A.str(op, "retrieval_tier").getOrElse("Standard")
    fn match {
      case "delete_objects" =>
        val paths = A.strSeq(op, "object_paths")
        if (dryRun)
          s"file/delete_objects (dry_run): Paths that would be deleted: " +
            pyDict(ops.dryRun(s("bucket"), paths))
        else {
          ops.deleteObjects(s("bucket"), paths)
          s"file/delete_objects: ok"
        }
      case "copy_objects" =>
        if (dryRun)
          s"file/copy_objects (dry_run): Paths that would be copied: " +
            pyDict(ops.dryRun(s("bucket"), Seq(s("source_object"))))
        else {
          val written = ops.copyObjects(s("bucket"), s("source_object"),
            s("destination_bucket"), s("destination_object"))
          s"file/copy_objects: ok (${written.size} objects)"
        }
      case "request_restore" =>
        if (dryRun)
          s"file/request_restore (dry_run): Paths that would be restored: " +
            pyDict(ops.requestRestore(s("bucket"), s("source_object"), days,
              tier, dry = true))
        else {
          ops.requestRestore(s("bucket"), s("source_object"), days, tier,
            dry = false)
          s"file/request_restore: ok"
        }
      case "check_restore_status" =>
        val st = ops.checkRestoreStatus(s("bucket"), s("source_object"))
        (st.log :+
          (s"Restore status: - Not Started: ${st.notStarted} " +
            s"- Ongoing: ${st.ongoing} - Restored: ${st.restored} " +
            s"Total objects in this restore process: ${st.total}")).mkString("\n")
      case "request_restore_to_destination_and_wait" =>
        // restore + wait, then the same copy choreography (+dry-run
        // passthrough) as the reference
        // (`s3_file_manager.py:268-305`).
        ops.requestRestoreAndWait(s("bucket"), s("source_object"), days,
          tier, dryRun)
        if (dryRun)
          s"file/request_restore_to_destination_and_wait (dry_run): " +
            "Paths that would be copied: " +
            pyDict(ops.dryRun(s("bucket"), Seq(s("source_object"))))
        else {
          val written = ops.copyObjects(s("bucket"), s("source_object"),
            s("destination_bucket"), s("destination_object"))
          s"file/request_restore_to_destination_and_wait: copied " +
            s"(${written.size} objects)"
        }
      case other => throw new UnsupportedOperationException(
        s"The requested function $other is not implemented.")
    }
  }

  /** The reference DBFS file manager surface
    * (`dbfs_file_manager.py:85-101` `get_function`): delete/copy/move
    * through the filesystem API (Hadoop FileSystem here — local, HDFS
    * and s3a uniformly); the restore family is S3-only and raises. */
  private def runFileDbfs(spark: SparkSession, op: Map[String, Any],
      fn: String, dryRun: Boolean): String = {
    def s(k: String) = A.str(op, k).get
    import S3FileOps.pyDict
    val fm = new FileManager(spark)
    // reference `_get_path` (`dbfs_file_manager.py:56-76`): non-empty
    // bucket prefixes the path; empty bucket means the path is complete
    def joined(bucket: String, path: String): String =
      if (bucket.trim.isEmpty) path.trim
      else bucket.stripSuffix("/") + "/" + path.stripPrefix("/")
    def dict(paths: Seq[String]): String = pyDict(paths.map { p =>
      val full = joined(A.str(op, "bucket").getOrElse(""), p)
      val listed = fm.listFilesRecursively(full)
      full -> (if (listed.nonEmpty) listed else Seq("No such key"))
    })
    fn match {
      case "delete_objects" =>
        val paths = A.strSeq(op, "object_paths")
        if (dryRun)
          s"file/delete_objects (dry_run): Paths that would be deleted: " +
            dict(paths)
        else {
          paths.map(p => joined(s("bucket"), p)).foreach(p =>
            require(fm.delete(p), s"Not able to delete: $p"))
          s"file/delete_objects: ok"
        }
      case "copy_objects" =>
        if (dryRun)
          s"file/copy_objects (dry_run): Paths that would be copied: " +
            dict(Seq(s("source_object")))
        else {
          // Hadoop copy/rename signal failure by RETURN VALUE: a
          // swallowed false would report "ok" for a copy that never
          // happened (and a follow-up source delete would lose data).
          require(fm.copy(joined(s("bucket"), s("source_object")),
            joined(s("destination_bucket"), s("destination_object"))),
            s"copy_objects failed: ${joined(s("bucket"), s("source_object"))}")
          s"file/copy_objects: ok"
        }
      case "move_objects" =>
        if (dryRun)
          s"file/move_objects (dry_run): Paths that would be moved: " +
            dict(Seq(s("source_object")))
        else {
          require(fm.move(joined(s("bucket"), s("source_object")),
            joined(s("destination_bucket"), s("destination_object"))),
            s"move_objects failed: ${joined(s("bucket"), s("source_object"))}")
          s"file/move_objects: ok"
        }
      case other => throw new UnsupportedOperationException(
        s"The requested function $other is not implemented.")
    }
  }
}
