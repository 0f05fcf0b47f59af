package graft.algo

import graft.io.Readers
import graft.spec.InputSpec
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stand-alone data-quality validation over any readable input.
  *
  * Capability parity with `lakehouse_engine/algorithms/dq_validator.py`:
  * read via the reader factory (streaming inputs are drained with a
  * trigger-once foreachBatch, as in the reference), run the DQ engine,
  * optionally write the result sink. `restorePrevVersion` mirrors the
  * reference's Delta restore-on-failure (`dq_validator.py:154-169`) over
  * [[graft.io.Versioned]] parquet locations: a breached policy rolls the
  * input back to its previous version before rethrowing.
  */
object DQValidator {

  def validate(
      spark: SparkSession,
      input: InputSpec,
      dqSpec: graft.spec.DQSpec,
      restorePrevVersion: Boolean = false,
      dfs: Readers.DfSupplier =
        name => sys.error(s"no DataFrame registered as '$name'")): graft.dq.DQRunResult = try {
    val df = Readers.read(spark, input, dfs)
    // duplicated PRISMA rule ids fail the validator before any DQ runs
    // (`dq_validator.py:95-103`)
    graft.dq.Prisma.raiseOnDuplicates(spark, Seq(dqSpec))
    val batchDf =
      if (!df.isStreaming) df
      else {
        // drain the stream once into a temp batch view (reference
        // `dq_validator.py:105-117`)
        val tmp = java.nio.file.Files.createTempDirectory("dq-validate").toString
        df.writeStream
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", s"$tmp/ckpt")
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.write.mode("append").parquet(s"$tmp/data")
          }.start().awaitTermination()
        spark.read.parquet(s"$tmp/data")
      }
    // PRISMA specs resolve at the stand-alone execution point
    // (`engine.py:108` execute_dq_validation -> "at_rest")
    val dq = graft.dq.Prisma.resolve(spark, dqSpec, "at_rest")
    val (result, failure) = graft.dq.DQEngine.runOutcome(spark, batchDf, dq)
    dq.resultSink.foreach(sink => graft.io.Writers.writeBatch(
      spark, graft.dq.DQEngine.resultSinkSpec(dq, sink),
      graft.dq.DQEngine.resultSinkOutput(spark, batchDf, dq, result)))
    graft.dq.Prisma.writeProcessedKeys(spark, dq, batchDf, result.runName)
    failure.foreach(throw _)
    result
  } catch {
    case e: graft.dq.DQValidationFailedException
        if restorePrevVersion && resolveLocation(spark, input).isDefined =>
      val loc = resolveLocation(spark, input).get
      // The DQ failure is the primary error: a failed restore (e.g. no
      // archived versions at the location) must not mask it. A Delta
      // input with Delta on the classpath restores through the
      // transaction log (reference `dq_validator.py:154-169`); otherwise
      // through the Versioned parquet history.
      val conf = spark.sparkContext.hadoopConfiguration
      scala.util.Try(
        if (graft.io.DeltaSupport.routes(input.dataFormat) &&
            graft.io.DeltaSupport.available)
          graft.io.DeltaSupport.restorePrevious(spark, loc).toInt
        else if (graft.io.Versioned.hasAppendManifests(conf, loc))
          graft.io.Versioned.restoreAppendManifest(conf, loc)
        else graft.io.Versioned.restorePrevious(conf, loc)) match {
        case scala.util.Success(restored) =>
          throw new graft.dq.DQValidationFailedException(
            "Data Quality Validations Failed! The delta table/files were " +
              s"restored to the previous version! (v$restored at $loc; " +
              s"${e.getMessage})", e)
        case scala.util.Failure(restoreErr) =>
          e.addSuppressed(restoreErr)
          throw e
      }
  }

  /** The input's physical location: explicit, or looked up from the
    * catalog for db_table inputs (the reference restores managed tables
    * through the DeltaTable API; the fallback needs the path). */
  private def resolveLocation(
      spark: SparkSession, input: InputSpec): Option[String] =
    input.location.orElse(input.dbTable.flatMap { t =>
      scala.util.Try {
        val parts = t.split("\\.")
        val ident =
          if (parts.length == 2)
            org.apache.spark.sql.catalyst.TableIdentifier(parts(1), Some(parts(0)))
          else org.apache.spark.sql.catalyst.TableIdentifier(t)
        spark.sessionState.catalog.getTableMetadata(ident)
          .location.getPath
      }.toOption
    })
}
