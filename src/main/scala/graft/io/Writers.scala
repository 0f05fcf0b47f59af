package graft.io

import graft.operators.MergeOps
import graft.spec.{MergeOptions, OutputSpec}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Writer factory: output spec + DataFrame -> persisted result.
  *
  * Capability parity with `lakehouse_engine/io/writer_factory.py:29-84`
  * and the writers under `lakehouse_engine/io/writers/`:
  *   - FileWriter / TableWriter, batch + streaming, partitionBy, all save
  *     modes (append/overwrite/error/ignore)
  *   - MergeWriter: Delta-style MERGE re-expressed natively over parquet
  *     (this build ships no Delta jars) with staged-swap atomicity
  *   - JDBC / Kafka / Console / DataFrame sinks
  *   - streaming trigger resolution (availableNow default, once,
  *     processingTime, continuous) and per-micro-batch transform plans
  *     via foreachBatch
  */
object Writers {

  /** A per-micro-batch plan: transformations + DQ to apply inside
    * foreachBatch before the terminal write (reference
    * `algorithms/data_loader.py:265-330`, `io/writer.py:58-135`). */
  final case class MicroBatchPlan(transform: DataFrame => DataFrame)

  def write(
      spark: SparkSession,
      spec: OutputSpec,
      df: DataFrame,
      microBatchPlan: Option[MicroBatchPlan] = None): Option[StreamingQuery] = {
    if (df.isStreaming) Some(writeStreaming(spark, spec, df, microBatchPlan))
    else { writeBatch(spark, spec, applyBatchId(df, spec, None)); None }
  }

  // ---- batch ------------------------------------------------------------

  /** Register `table` as an EXTERNAL table over `loc` (used by the
    * replaceWhere fallback, which writes files directly). Partitioned
    * layouts need a repair so the catalog sees the hive dirs. */
  private def registerExternal(
      spark: SparkSession, table: String, loc: String, partitions: Seq[String]): Unit = {
    if (!spark.catalog.tableExists(table)) {
      spark.sql(s"CREATE TABLE IF NOT EXISTS $table USING parquet LOCATION '$loc'")
    }
    if (partitions.nonEmpty)
      try spark.sql(s"MSCK REPAIR TABLE $table")
      catch { case _: Exception => () } // path-based reads still work
  }

  def writeBatch(spark: SparkSession, spec: OutputSpec, df: DataFrame): Unit = {
    // streaming ingest faces in batch mode: one unit of work against the
    // persisted index (check -> sink survivors -> append)
    if (graft.streaming.StreamingFaces.routes(spec.dataFormat))
      return graft.streaming.StreamingFaces.writeBatch(spark, spec, df)
    val fmt = spec.dataFormat.getOrElse(if (spec.dbTable.isDefined) "parquet" else "parquet")
    spec.writeType match {
      case "merge" =>
        graft.exec.Stage.named(spark, s"merge:${spec.location.getOrElse(spec.specId)}")(
          mergeWrite(spark, spec, df))
      case writeType =>
        val mode = writeType match {
          case "overwrite" | "complete" => "overwrite"
          case "append" | "update" => "append"
          case "error" => "error"
          case "ignore" => "ignore"
          case other => sys.error(s"unsupported write_type for batch: $other")
        }
        fmt match {
          case "jdbc" =>
            df.write.format("jdbc").options(spec.options).mode(mode).save()
          case "kafka" =>
            df.write.format("kafka").options(spec.options).save()
          case "console" =>
            df.show(spec.options.get("limit").map(_.toInt).getOrElse(20),
              truncate = spec.options.get("truncate").forall(_.toBoolean))
          case "dataframe" => // terminal no-op: caller keeps the DataFrame
          case "sharepoint" => SharepointIo.write(df, spec.options)
          case "rest_api" => RestApiWriter.writeSpec(df, spec.options, spec.optionsRaw)
          case "noop" =>
            // evaluate-and-discard sink (Spark's noop source): the plan
            // runs fully — the benchmarking/drain semantics — with no
            // location required
            df.write.format("noop").mode("overwrite").save()
          case "avro" if !AvroFiles.dataSourceAvailable =>
            // container files on the core Avro runtime (one per partition)
            require(spec.partitions.isEmpty,
              "avro writer without the spark-avro jar does not support partitionBy")
            AvroFiles.write(df,
              spec.location.getOrElse(sys.error("avro writer needs location")), mode)
          case _ =>
            // `delta` without the Delta jars: store as parquet, like the
            // merge path's documented fallback (same data, different log)
            val effFmt =
              if (fmt == "delta" && !DeltaSupport.available) "parquet" else fmt
            val replaceWhere = spec.options.get("replaceWhere")
              .filter(_ => mode == "overwrite" && effFmt == "parquet")
            if (replaceWhere.isDefined) {
              // Delta's replaceWhere on the parquet fallback: replace ONLY
              // the rows matching the predicate, keep the rest (the
              // partition-scoped daily-overwrite contract,
              // `writers/writer.py` option passthrough + Delta semantics).
              // deleteWhere prunes to matching hive partitions when the
              // predicate is partition-only — O(touched) — then the new
              // data appends. Crash between the two re-runs cleanly (the
              // delete is idempotent, the append re-applies).
              val loc = spec.location.getOrElse(
                sys.error("replaceWhere fallback needs a location"))
              // Delta rejects a replaceWhere write whose batch contains
              // rows OUTSIDE the predicate; without this check the
              // fallback silently accretes rows that later replaceWhere
              // runs can never remove. One cheap isEmpty on the batch.
              // NULL-valued predicates count as violating too (real Delta
              // rejects them): !pred alone lets NULL rows slip through and
              // accrete rows no later replaceWhere can ever remove.
              val violating =
                df.where(!coalesce(expr(replaceWhere.get), lit(false)))
              if (!violating.isEmpty)
                sys.error(s"output spec ${spec.specId}: replaceWhere " +
                  s"'${replaceWhere.get}' rejected — the batch contains rows " +
                  "that do not match the predicate (Delta replaceWhere " +
                  "constraint); sample: " + violating.take(3).mkString("; "))
              val fsP = new Path(loc)
              val fsx = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
              if (fsx.exists(fsP))
                new graft.maintain.TableManager(spark)
                  .deleteWhere(loc, replaceWhere.get)
              val w = df.write.format(effFmt)
                .options(spec.options - "replaceWhere").mode("append")
              val wp =
                if (spec.partitions.nonEmpty) w.partitionBy(spec.partitions: _*) else w
              wp.save(loc)
              spec.dbTable.foreach(registerExternal(spark, _, loc, spec.partitions))
            } else {
              // delta requested but stored as parquet: keep Delta's WRITE
              // SCHEMA CONTRACT, which plain parquet would silently skip
              // (see deltaSchemaContract).
              // the CATALOG schema is authoritative when the table exists
              // (Delta reads its log; file-discovered schemas can distort
              // partition-column types under
              // spark.sql.sources.partitionColumnTypeInference.enabled=false)
              val outDf =
                if (fmt == "delta" && effFmt == "parquet")
                  spec.dbTable.filter(spark.catalog.tableExists)
                    .map(deltaTableSchemaContract(spark, spec, df, mode, _))
                    .orElse(spec.location.map(
                      deltaSchemaContract(spark, spec, df, mode, _)))
                    .getOrElse(df)
                else df
              // delta versions every commit; the fallback records an
              // append MANIFEST (file listing, no data copy) so RESTORE
              // can drop exactly the files this append adds
              if (fmt == "delta" && effFmt == "parquet" && mode == "append")
                spec.location.foreach(l => Versioned.recordAppendManifest(
                  spark.sparkContext.hadoopConfiguration, l))
              val w = outDf.write.format(effFmt).options(spec.options).mode(mode)
              val withParts =
                if (spec.partitions.nonEmpty) w.partitionBy(spec.partitions: _*) else w
              (spec.dbTable, spec.location) match {
                // db_table + location = EXTERNAL table at the location
                // (the reference's delta writers always address both)
                case (Some(t), Some(loc)) =>
                  withParts.option("path", loc).saveAsTable(t)
                case (Some(t), None) => withParts.saveAsTable(t)
                case (_, Some(loc)) => withParts.save(loc)
                case _ => sys.error(s"output spec ${spec.specId}: needs db_table or location")
              }
            }
        }
    }
  }

  /** Delta's write-time schema contract, applied to the parquet fallback
    * (`delta` format requested, no Delta jars). Plain parquet happily
    * appends mismatched files; Delta validates against the table schema
    * (`tests/feature/test_schema_evolution.py` pins the matrix):
    *
    *   - APPEND: source columns missing from the table are only accepted
    *     with schema auto-merge on (conf
    *     `spark.databricks.delta.schema.autoMerge.enabled`, or a
    *     `mergeSchema` write option) — they EVOLVE the table schema;
    *     otherwise the write fails ("A schema mismatch detected").
    *     Columns the source omits land NULL. Same-name columns whose type
    *     cannot up-cast to the table's fail ("Failed to merge fields").
    *   - OVERWRITE: `overwriteSchema=true` replaces the schema outright;
    *     auto-merge unions it; otherwise the column sets must match
    *     exactly ("Failed to merge the new schema").
    *
    * The batch is ALIGNED to the evolved schema (table column order and
    * casing, missing columns null, up-castable types cast), so every
    * parquet footer written carries the full evolved schema and a
    * mergeSchema read of the location reconstructs the Delta table view.
    * Name matching is case-insensitive, like Spark/Delta resolution. */
  private def deltaSchemaContract(
      spark: SparkSession, spec: OutputSpec, df: DataFrame,
      mode: String, loc: String): DataFrame = {
    val p = new Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return df // first write defines the schema
    val tgt =
      try spark.read.option("mergeSchema", "true").parquet(loc).schema
      catch { case _: Exception => return df } // empty/partial location
    val autoMerge =
      spark.conf.getOption("spark.databricks.delta.schema.autoMerge.enabled")
        .exists(_.equalsIgnoreCase("true")) ||
      spec.options.get("mergeSchema").exists(_.equalsIgnoreCase("true"))
    val overwriteSchema =
      spec.options.get("overwriteSchema").exists(_.equalsIgnoreCase("true"))
    if (mode == "overwrite" && overwriteSchema) return df

    val tgtByLower = tgt.fields.map(f => f.name.toLowerCase -> f).toMap
    val srcByLower = df.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    val extra = df.schema.fields.filterNot(f => tgtByLower.contains(f.name.toLowerCase))

    // same-name type conflicts: Delta accepts an up-cast, and — with
    // auto-merge — widens STRUCT columns by unioning their fields (the
    // kwargs-splat sink columns grow this way run over run)
    def structMergeable(a: org.apache.spark.sql.types.DataType,
        b: org.apache.spark.sql.types.DataType): Boolean = (a, b) match {
      case (sa: org.apache.spark.sql.types.StructType,
            sb: org.apache.spark.sql.types.StructType) =>
        val byName = sb.fields.map(f => f.name.toLowerCase -> f).toMap
        sa.fields.forall(f => byName.get(f.name.toLowerCase)
          .forall(o => o.dataType == f.dataType || structMergeable(f.dataType, o.dataType)))
      case _ => false
    }
    tgt.fields.foreach { tf =>
      srcByLower.get(tf.name.toLowerCase).foreach { sf =>
        val ok = sf.dataType == tf.dataType ||
          org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(sf.dataType, tf.dataType) ||
          (autoMerge && structMergeable(sf.dataType, tf.dataType))
        if (!ok)
          sys.error(s"output spec ${spec.specId}: Failed to merge fields " +
            s"'${tf.name}' and '${sf.name}' — incompatible types " +
            s"${tf.dataType.sql} and ${sf.dataType.sql} (Delta schema contract)")
      }
    }
    if (extra.nonEmpty && !autoMerge) {
      if (mode == "overwrite")
        sys.error(s"output spec ${spec.specId}: Failed to merge the new schema " +
          s"into $loc — extra columns ${extra.map(_.name).mkString(", ")}; " +
          "set overwriteSchema=true to replace the schema or enable " +
          "spark.databricks.delta.schema.autoMerge.enabled (Delta schema contract)")
      else
        sys.error(s"output spec ${spec.specId}: A schema mismatch detected when " +
          s"writing to the Delta table at $loc — source columns " +
          s"${extra.map(_.name).mkString(", ")} are not in the table schema; " +
          "enable spark.databricks.delta.schema.autoMerge.enabled or pass " +
          "mergeSchema=true to evolve it (Delta schema contract)")
    }
    // Overwrite with a source MISSING table columns: real Delta rejects
    // this without overwriteSchema/autoMerge ("column sets must match
    // exactly") — silently null-filling would drop the absent columns'
    // data on every daily overwrite.
    val missing = tgt.fields.filterNot(f => srcByLower.contains(f.name.toLowerCase))
    if (missing.nonEmpty && mode == "overwrite" && !autoMerge)
      sys.error(s"output spec ${spec.specId}: Failed to merge the new schema " +
        s"into $loc — table columns ${missing.map(_.name).mkString(", ")} are " +
        "missing from the source; set overwriteSchema=true to replace the " +
        "schema or enable spark.databricks.delta.schema.autoMerge.enabled " +
        "(Delta schema contract)")
    // evolved schema: table columns (table casing/type), then additions.
    // Struct columns rebuild to the UNION of target + source fields
    // (null-filled), the one-level analogue of Delta's struct evolution.
    def alignColumn(src: org.apache.spark.sql.Column, srcType: org.apache.spark.sql.types.DataType,
        tf: org.apache.spark.sql.types.StructField): org.apache.spark.sql.Column = (srcType, tf.dataType) match {
      case (ss: org.apache.spark.sql.types.StructType,
            ts: org.apache.spark.sql.types.StructType) if ss != ts =>
        val srcFields = ss.fields.map(f => f.name.toLowerCase -> f).toMap
        val unioned = ts.fields ++
          ss.fields.filterNot(f => ts.fields.exists(_.name.equalsIgnoreCase(f.name)))
        struct(unioned.map { f =>
          srcFields.get(f.name.toLowerCase)
            .map(sf => src.getField(sf.name).cast(f.dataType).as(f.name))
            .getOrElse(lit(null).cast(f.dataType).as(f.name))
        }.toSeq: _*).as(tf.name)
      case _ => src.cast(tf.dataType).as(tf.name)
    }
    val aligned =
      tgt.fields.map { tf =>
        srcByLower.get(tf.name.toLowerCase)
          .map(sf => alignColumn(col(sf.name), sf.dataType, tf))
          .getOrElse(lit(null).cast(tf.dataType).as(tf.name))
      } ++ extra.map(f => col(f.name))
    df.select(aligned.toSeq: _*)
  }

  /** [[deltaSchemaContract]] for catalog-table targets (`db_table`-only
    * output specs, e.g. DQ result-sink tables): appends with schema
    * auto-merge EVOLVE the table via ALTER TABLE ADD COLUMNS — the
    * catalog analogue of a Delta metadata commit — and the batch is
    * aligned to the evolved schema; without auto-merge, extra columns
    * fail like Delta's append validation. */
  private def deltaTableSchemaContract(
      spark: SparkSession, spec: OutputSpec, df: DataFrame,
      mode: String, table: String): DataFrame = {
    if (mode != "append" || !spark.catalog.tableExists(table)) return df
    val tgt = spark.table(table).schema
    val autoMerge =
      spark.conf.getOption("spark.databricks.delta.schema.autoMerge.enabled")
        .exists(_.equalsIgnoreCase("true")) ||
      spec.options.get("mergeSchema").exists(_.equalsIgnoreCase("true"))
    val tgtByLower = tgt.fields.map(f => f.name.toLowerCase -> f).toMap
    val srcByLower = df.schema.fields.map(f => f.name.toLowerCase -> f).toMap
    val extra = df.schema.fields.filterNot(f => tgtByLower.contains(f.name.toLowerCase))
    if (extra.nonEmpty && !autoMerge)
      sys.error(s"output spec ${spec.specId}: A schema mismatch detected when " +
        s"writing to the Delta table $table — source columns " +
        s"${extra.map(_.name).mkString(", ")} are not in the table schema; " +
        "enable spark.databricks.delta.schema.autoMerge.enabled or pass " +
        "mergeSchema=true to evolve it (Delta schema contract)")
    if (extra.nonEmpty)
      spark.sql(s"ALTER TABLE $table ADD COLUMNS (" +
        extra.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ") + ")")
    val evolved = spark.table(table).schema
    df.select(evolved.fields.map { tf =>
      srcByLower.get(tf.name.toLowerCase)
        .map(sf => col(sf.name).cast(tf.dataType).as(tf.name))
        .getOrElse(lit(null).cast(tf.dataType).as(tf.name))
    }.toSeq: _*)
  }

  // ---- merge (native, no Delta in this build) ---------------------------

  /** MERGE into a parquet location/table: read current target, apply
    * Delta-semantics merge, write staged, swap via [[StagedSwap]] (checked
    * renames; see its doc for the crash window).
    *
    * When the target is PARTITIONED and every partition column exists on
    * the source, the merge is PARTITION-SCOPED: only the partitions the
    * source touches are read (partition-pruned scan), merged, and
    * rewritten — one stage write, then a rename of each staged partition
    * dir into place — while every other partition's files are left
    * physically untouched. That is what makes a daily delta load into a
    * 100 TB table cost O(touched partitions), not O(table). Unpartitioned
    * or unscopable targets fall back to the full rewrite + whole-location
    * staged swap ([[PartitionedRewrite.rewriteAll]]), which keeps the
    * declared layout, else the discovered one. A crash mid-commit leaves
    * a torn (some-partitions-new) table only until the next rewrite of
    * the location (merge, delete-where, optimize), whose
    * [[StagedSwap.recover]] rolls the commit forward from its intent;
    * re-running the same merge then converges — the
    * recency-guarded update/delete predicates the delta loads use make
    * merges idempotent (the reference's loaded-twice streaming golden
    * test pins exactly that property). */
  private def mergeWrite(spark: SparkSession, spec: OutputSpec, source: DataFrame): Unit = {
    val opts = spec.mergeOpts.getOrElse(sys.error("merge write_type needs merge_opts"))
    val loc = spec.location.getOrElse(sys.error("native merge needs a location"))
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Settle any interrupted previous swap BEFORE probing existence: a
    // crash between StagedSwap's renames leaves loc missing while the
    // staged data (and intent) exist — probing then would take the
    // create branch and silently drop every previously merged row.
    // recover() rolls that swap forward first; no-op on a clean location.
    StagedSwap.recover(spark.sparkContext.hadoopConfiguration, loc)
    val targetExists = fs.exists(new Path(loc))
    // data_format: delta + Delta jars on the classpath -> the real
    // DeltaTable MERGE (transaction-log commit); otherwise the native
    // join + staged swap below. Same ACON, same clause semantics.
    if (DeltaSupport.routes(spec.dataFormat) && targetExists) {
      DeltaSupport.merge(spark, loc, source, opts)
      return
    }
    // `delta` requested but not on the classpath: store as parquet —
    // the merge semantics are preserved by the native join + staged
    // swap; only the storage format differs (documented fallback).
    val mergeFmt = spec.dataFormat match {
      case Some("delta") if !DeltaSupport.available => "parquet"
      case other => other.getOrElse("parquet")
    }
    if (!targetExists) {
      val w = source.write.format(mergeFmt)
        .options(spec.options).mode("overwrite")
      (if (spec.partitions.nonEmpty) w.partitionBy(spec.partitions: _*) else w).save(loc)
    } else {
      // The DISCOVERED layout (not the declared one) gates partition
      // scoping: the partition commit only replaces partition DIRS, so
      // scoping a target whose files actually sit unpartitioned at the
      // root would leave every stale root file in place. A declared-but-
      // different layout falls through to the full rewrite, which
      // converts the layout; the next merge can then scope. Layout
      // detection is a driver-side dir walk — the scoped path must never
      // pay Spark's O(all partitions) distributed discovery, that's the
      // cost it exists to avoid.
      // Schema auto-merge honors the same session conf the reference's
      // schema-evolution acons set (Delta OSS conf name; exec_env applies
      // it via DataLoader). Evolution forces the full-rewrite path: the
      // scoped path would leave un-touched partitions on the old schema.
      val autoMerge = spark.conf
        .getOption("spark.databricks.delta.schema.autoMerge.enabled")
        .exists(_.trim.equalsIgnoreCase("true"))
      val discovered: Seq[String] = PartitionedRewrite.discoverLayout(fs, new Path(loc))
      // The autoMerge evolution probe needs only the target's COLUMN SET;
      // reading one leaf file's footer plus the discovered partition-col
      // names gets it without Spark's O(all partitions) discovery, so a
      // non-evolving merge on a big partitioned table still takes the
      // scoped path at scoped cost. Falls back to the full-location read
      // when no data file is found (degenerate layouts).
      val evolving = autoMerge && {
        val tCols: Set[String] = PartitionedRewrite
          .firstDataFile(fs, new Path(loc))
          .map(f => ParquetSchema.load(spark, Seq(f.toString), spec.options, mergeFmt)
            .columns.map(_.toLowerCase).toSet ++
            discovered.map(_.toLowerCase))
          .getOrElse(spark.read.format(mergeFmt).options(spec.options)
            .load(loc).columns.map(_.toLowerCase).toSet)
        !(source.columns.forall(c => tCols(c.toLowerCase)) &&
          tCols.size == source.columns.size)
      }
      if (!evolving && discovered.nonEmpty &&
          (spec.partitions.isEmpty || spec.partitions == discovered) &&
          discovered.forall(source.columns.contains) &&
          partitionScopedMerge(spark, source, opts, mergeFmt, spec.options, loc, discovered))
        return
      PartitionedRewrite.rewriteAll(spark, loc, mergeFmt, spec.options, spec.partitions) {
        (current, _) =>
          val target = current.get // settled above, and the target exists
          val (t2, s2, opts2) =
            if (autoMerge) MergeOps.evolveForAutoMerge(target, source, opts)
            else (target, source, opts)
          MergeOps.mergeWithOptions(t2, s2, opts2)
      }
    }
  }

  /** Partition-scoped MERGE: read only the partitions the source touches,
    * merge, and rewrite exactly those partitions
    * ([[PartitionedRewrite.rewriteTouched]]). A source that touches no
    * partition leaves the table as it is. Returns false (caller falls back
    * to the full rewrite) when the merge is not scopable.
    *
    * SEMANTIC guards — scoping is only equivalent to the full merge when
    * a source row cannot match, or land in, a partition outside the
    * touched set:
    *  - the merge predicate must PIN every partition column (an equality
    *    conjunct `current.p = new.p`); otherwise a key match living in an
    *    un-read partition is missed and the row duplicates;
    *  - update/insert column sets must not assign partition columns (an
    *    assigned value could land outside the touched set, and the commit
    *    would then replace that un-read live partition);
    *  - the touched set and the merge read ONE evaluation of the source:
    *    unless it is already materialized ([[graft.exec.Stage]]), it is
    *    staged first (job description `merge-source:<location>`), so a
    *    source nondeterministic in a partition column cannot do the same. */
  private def partitionScopedMerge(
      spark: SparkSession, source: DataFrame, opts: graft.spec.MergeOptions,
      mergeFmt: String, options: Map[String, String], loc: String,
      partCols: Seq[String]): Boolean = {
    val pinned = MergeOps.equalityConjuncts(opts.mergePredicate).exists(eqs =>
      partCols.forall(c => eqs.contains(Some(c.toLowerCase(java.util.Locale.ROOT)))))
    if (!pinned || (opts.updateColumnSet.keySet ++ opts.insertColumnSet.keySet)
        .exists(partCols.contains)) return false
    val fs = new Path(loc).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged =
      if (graft.exec.Stage.isMaterialized(source)) source
      else graft.exec.Stage.eager(source, s"merge-source:$loc")
    PartitionedRewrite.resolveTouched(fs, loc, partCols, staged) match {
      case PartitionedRewrite.NothingTouched => true
      case PartitionedRewrite.NotScopable => false
      case touched: PartitionedRewrite.TouchedDirs =>
        // merged values are source values cast to the slice's types, so
        // their dir spellings match the touched names (collision-checked)
        PartitionedRewrite.rewriteTouched(spark, loc, partCols, touched, mergeFmt, options)(
          MergeOps.mergeWithOptions(_, staged, opts))
        true
    }
  }

  // ---- streaming --------------------------------------------------------

  def resolveTrigger(spec: OutputSpec): Trigger = spec.streamingTrigger match {
    case None | Some("availableNow") => Trigger.AvailableNow()
    case Some("once") => Trigger.Once()
    case Some(s) if s.startsWith("processingTime=") =>
      Trigger.ProcessingTime(s.stripPrefix("processingTime="))
    case Some(s) if s.startsWith("continuous=") =>
      Trigger.Continuous(s.stripPrefix("continuous="))
    case Some(other) => sys.error(s"unknown streaming_trigger: $other")
  }

  private def applyBatchId(df: DataFrame, spec: OutputSpec, batchId: Option[Long]): DataFrame =
    if (spec.withBatchId) df.withColumn("lhe_batch_id", lit(batchId.getOrElse(-1L)))
    else df

  private def writeStreaming(
      spark: SparkSession,
      spec: OutputSpec,
      df: DataFrame,
      plan: Option[MicroBatchPlan]): StreamingQuery = {
    // streaming ingest faces (minhash_dedup / chunk_dedup /
    // ivfadc_ingest): index-aware foreachBatch sinks of their own — any
    // deferred transformer/DQ plan runs on the raw micro-batch first
    if (graft.streaming.StreamingFaces.routes(spec.dataFormat))
      return graft.streaming.StreamingFaces.start(spark, spec, df,
        b => plan.map(_.transform(b)).getOrElse(b))
    val trigger = resolveTrigger(spec)
    val needsForeachBatch = plan.isDefined || spec.writeType == "merge" ||
      spec.dataFormat.contains("jdbc") || spec.dataFormat.contains("dataframe") ||
      spec.dataFormat.contains("rest_api") ||
      // container-file fallback is a batch writer
      (spec.dataFormat.contains("avro") && !AvroFiles.dataSourceAvailable)
    if (needsForeachBatch) {
      df.writeStream
        .trigger(trigger)
        .options(spec.options.filter { case (k, _) => k == "checkpointLocation" })
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val transformed = plan.map(_.transform(batch)).getOrElse(batch)
          val withId = applyBatchId(transformed, spec, Some(batchId))
          if (spec.dataFormat.contains("dataframe")) {
            // materialize the batch (all partitions) before registering:
            // a lazy view never runs the plan, so stateful upstream
            // operators (dedup/union distinct) would miss their state
            // commits and fail Spark's batch commit validation
            withId.localCheckpoint(true)
              .createOrReplaceGlobalTempView(s"lhe_stream_${spec.specId}")
          }
          else writeBatch(spark, spec, withId)
        }
        .start()
    } else {
      val base = df.writeStream.trigger(trigger)
        .outputMode(spec.writeType match {
          case "complete" => "complete"
          case "update" => "update"
          case _ => "append"
        })
        .options(spec.options)
      spec.dataFormat match {
        case Some("console") => base.format("console").start()
        case Some("kafka") => base.format("kafka").start()
        case Some("sharepoint") =>
          // `io/writers/sharepoint_writer.py:42-44`
          throw new UnsupportedOperationException(
            "Sharepoint writer doesn't support streaming!")
        case _ =>
          // same fallback as the batch path: `delta` without the Delta
          // jars stores as parquet (same data, different log)
          val fmt = spec.dataFormat.getOrElse("parquet") match {
            case "delta" if !DeltaSupport.available => "parquet"
            case f => f
          }
          // delta fallback: record the pre-run file set so RESTORE can
          // drop exactly what this run appends (one manifest per run —
          // the availableNow analogue of a Delta commit). Safe to list
          // here: the previous run's query was awaited before this one.
          if (fmt == "parquet" && spec.dataFormat.contains("delta") &&
              spec.writeType != "complete")
            spec.location.foreach(l => Versioned.recordAppendManifest(
              spark.sparkContext.hadoopConfiguration, l))
          val withParts =
            if (spec.partitions.nonEmpty) base.partitionBy(spec.partitions: _*) else base
          (spec.dbTable, spec.location) match {
            // db_table + location = EXTERNAL table at the location
            case (Some(t), Some(loc)) =>
              withParts.format(fmt).option("path", loc).toTable(t)
            case (Some(t), None) => withParts.format(fmt).toTable(t)
            case (_, Some(loc)) => withParts.format(fmt).start(loc)
            case _ => sys.error(s"output spec ${spec.specId}: needs db_table or location")
          }
      }
    }
  }
}
