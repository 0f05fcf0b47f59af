package graft.io

import graft.spec.InputSpec
import graft.transform.SchemaTools
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reader factory: input spec -> lazy DataFrame.
  *
  * Capability parity with `lakehouse_engine/io/reader_factory.py:22-63`
  * and the readers under `lakehouse_engine/io/readers/`. Formats:
  *   - files (csv/json/parquet/avro/orc/text) batch + streaming
  *   - metastore tables batch + streaming
  *   - jdbc (options passthrough; predicate-parallel via JdbcExtraction)
  *   - kafka (format passthrough — needs the kafka connector jar)
  *   - sql query, programmatic DataFrame pass-through
  */
object Readers {

  /** Programmatically provided DataFrames, keyed by `df_name`. */
  type DfSupplier = String => DataFrame

  def read(
      spark: SparkSession,
      spec: InputSpec,
      dfs: DfSupplier = name => sys.error(s"no DataFrame registered as '$name'")): DataFrame = {
    val streaming = spec.readType == "streaming"
    val fmt = spec.dataFormat.getOrElse(
      if (spec.dbTable.isDefined) "table"
      else if (spec.query.isDefined) "sql"
      else if (spec.dfName.isDefined) "dataframe"
      else sys.error(s"input spec ${spec.specId}: cannot infer data_format"))

    val df = fmt match {
      case "table" =>
        val t = spec.dbTable.getOrElse(sys.error("table reader needs db_table"))
        if (streaming) spark.readStream.options(spec.options).table(t)
        else spark.read.options(spec.options).table(t)
      case "sql" => spark.sql(spec.query.getOrElse(sys.error("query reader needs query")))
      case "dataframe" => dfs(spec.dfName.getOrElse(sys.error("dataframe reader needs df_name")))
      case "jdbc" =>
        // `io/readers/jdbc_reader.py:26-68`: predicates belong to the
        // jdbc() function signature, never to .format("jdbc") options —
        // Spark would silently ignore them there, so the reference
        // raises, and so do we.
        if (spec.options.contains("predicates"))
          throw new WrongArgumentsException(
            "Predicates can only be used with jdbc_args.")
        if (spec.jdbcArgs.nonEmpty) {
          // `spark.read.options(**options).jdbc(**jdbc_args)` passthrough
          // (`jdbc_reader.py:57-60`). The reference surfaces a TypeError
          // for any key outside the jdbc() signature — mirror it before
          // touching the source.
          val allowed = Set("url", "table", "column", "lowerBound",
            "upperBound", "numPartitions", "predicates", "properties")
          spec.jdbcArgs.keys.find(!allowed(_)).foreach(k =>
            throw new WrongArgumentsException(
              s"jdbc() got an unexpected keyword argument '$k'"))
          val url = String.valueOf(spec.jdbcArgs.getOrElse("url",
            sys.error("jdbc_args needs url")))
          val table = String.valueOf(spec.jdbcArgs.getOrElse("table",
            sys.error("jdbc_args needs table")))
          val props = new java.util.Properties()
          spec.jdbcArgs.get("properties").collect { case m: Map[_, _] =>
            m.foreach { case (k, v) =>
              props.setProperty(String.valueOf(k), String.valueOf(v)) }
          }
          val reader = spark.read.options(spec.options)
          (spec.jdbcArgs.get("column"), spec.jdbcArgs.get("predicates")) match {
            case (Some(col), _) =>
              reader.jdbc(url, table, String.valueOf(col),
                String.valueOf(spec.jdbcArgs("lowerBound")).toLong,
                String.valueOf(spec.jdbcArgs("upperBound")).toLong,
                String.valueOf(spec.jdbcArgs.getOrElse("numPartitions", "1")).toInt,
                props)
            case (None, Some(preds: Seq[_])) =>
              reader.jdbc(url, table,
                preds.map(String.valueOf).toArray, props)
            case _ => reader.jdbc(url, table, props)
          }
        } else JdbcExtraction.read(spark, spec.options)
      case "sap_b4" => SapB4Extraction.read(spark, spec)
      case "sap_bw" => SapBwExtraction.read(spark, spec)
      case "delta" if spec.dbTable.isDefined =>
        // DeltaFilesReader over a metastore table
        // (`io/readers/deltafiles_reader.py`). Without Delta jars the
        // table is the parquet fallback; `readChangeFeed` synthesizes
        // append-only CDF columns (every fallback write is an append or
        // a staged swap, so arriving rows are inserts by construction).
        val t = spec.dbTable.get
        val cdf = spec.options.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))
        val opts = spec.options - "readChangeFeed"
        val base =
          if (streaming) spark.readStream.options(opts).table(t)
          else spark.read.options(opts).table(t)
        if (cdf && !DeltaSupport.available) {
          import org.apache.spark.sql.functions.lit
          base.withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(null).cast("long"))
            .withColumn("_commit_timestamp", lit(null).cast("timestamp"))
        } else base
      case "kafka" =>
        if (streaming) spark.readStream.format("kafka").options(spec.options).load()
        else spark.read.format("kafka").options(spec.options).load()
      case "sftp" =>
        if (streaming) sys.error("sftp reader supports only batch mode")
        else {
          // the reference nests pandas read args under options.args
          // (`sftp_reader.py:112-150`) — map the Spark-relevant ones:
          // sep passes through; `names` is the fwf column list; the
          // pandas-only knobs (index_col, orient, lines) have Spark
          // defaults that already match the reference's usage
          val pdArgs = spec.optionsRaw.get("args").collect {
            case mm: Map[_, _] => mm.map { case (k, v) =>
              String.valueOf(k) -> v }.toMap[String, Any]
          }.getOrElse(Map.empty)
          val mapped: Map[String, String] =
            pdArgs.get("sep").map(v => "sep" -> String.valueOf(v)).toMap ++
              pdArgs.get("names").collect { case s: Seq[_] =>
                "fwf_columns" -> s.map(String.valueOf(_)).mkString(",")
              }.toMap
          SftpReader.read(spark,
            spec.location.getOrElse(sys.error("sftp reader needs location")),
            (spec.options - "args") ++ mapped)
        }
      case "sharepoint" =>
        if (streaming) sys.error("Sharepoint reader doesn't support streaming input.")
        else SharepointIo.read(spark, spec.options)
      case "avro" if !AvroFiles.dataSourceAvailable =>
        // no spark-avro DataSource on the classpath: container files are
        // read on the core Avro runtime (one task per file)
        if (streaming) sys.error(
          "streaming avro reads need the spark-avro DataSource jar")
        AvroFiles.read(spark,
          spec.location.getOrElse(sys.error("avro reader needs location")))
      case requested =>
        // `delta` without the Delta jars reads the parquet the merge-writer
        // fallback produced — same fallback contract as Writers.mergeWrite.
        val fileFormat =
          if (requested == "delta" && !DeltaSupport.available) "parquet" else requested
        val loc = spec.location.getOrElse(sys.error(s"file reader needs location"))
        val declared = resolvedSchema(spark, spec)
        if (streaming) {
          val r = spark.readStream.format(fileFormat).options(spec.options)
          // streaming file sources require a schema
          val withSchema = declared.map(r.schema)
            .getOrElse(r.schema(ParquetSchema.load(spark, Seq(loc), spec.options, fileFormat).schema))
          withSchema.load(loc)
        } else {
          // delta fallback: the write path evolves schemas across files
          // (deltaSchemaContract), so the table view is the FOOTER UNION
          val options =
            if (requested == "delta" && fileFormat == "parquet" &&
                !spec.options.contains("mergeSchema"))
              spec.options + ("mergeSchema" -> "true")
            else spec.options
          declared.fold(ParquetSchema.load(spark, Seq(loc), options, fileFormat))(
            spark.read.format(fileFormat).options(options).schema(_).load(loc))
        }
    }

    val withPath =
      if (spec.withFilepath)
        df.selectExpr("*", "_metadata.file_path AS lhe_extraction_filepath")
      else df
    spec.tempView.foreach(v => withPath.createOrReplaceTempView(v))
    withPath
  }

  /** Declared-schema resolution, reference precedence
    * (`utils/schema_utils.py:76-99`): enforce-from-table wins, then a
    * schema FILE (JSON StructType or DDL text at any Hadoop-visible
    * path), then the inline schema. */
  private def resolvedSchema(
      spark: SparkSession, spec: InputSpec): Option[org.apache.spark.sql.types.StructType] =
    spec.enforceSchemaFromTable.map(t => spark.table(t).schema)
      .orElse(spec.schemaPath.map { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val in = fs.open(path)
        try SchemaTools.schemaFromAny(
          new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      })
      .orElse(spec.schema.map(SchemaTools.schemaFromAny))
}

/** Misused-argument signal of the reader surface (reference
  * `transformers/exceptions.py` WrongArgumentsException). */
final class WrongArgumentsException(msg: String) extends RuntimeException(msg)

/** JDBC parallel-extraction helpers.
  *
  * Capability parity with
  * `lakehouse_engine/utils/extraction/jdbc_extraction_utils.py:163-320`:
  * predicate-list parallelism (one partition per distinct partition-column
  * value) and automatic upperBound derivation, both computed with
  * pushed-down JDBC queries before the parallel read.
  */
object JdbcExtraction {

  def read(spark: SparkSession, options: Map[String, String]): DataFrame = {
    val calcUpper = options.get("calculate_upper_bound").contains("true")
    val predicatesCol = options.get("generate_predicates_col")
    val base = options -- Seq("calculate_upper_bound", "generate_predicates_col")
    // ANSI identifier quoting for the generated pushdown SQL (many sources
    // store Spark-written columns as case-sensitive quoted identifiers)
    def q(ident: String): String =
      if (ident.startsWith("\"")) ident else "\"" + ident + "\""
    (calcUpper, predicatesCol) match {
      case (_, Some(pcol)) =>
        // distinct partition values -> one predicate per value (+ IS NULL)
        val table = base("dbtable")
        val distinctDf = spark.read.format("jdbc").options(base)
          .option("dbtable", s"(SELECT DISTINCT ${q(pcol)} FROM $table) t").load()
        val values = distinctDf.collect().map(_.get(0)).toSeq
        val predicates = values.collect { case v if v != null => s"${q(pcol)} = '$v'" } :+
          s"${q(pcol)} IS NULL"
        val props = new java.util.Properties()
        base.foreach { case (k, v) => props.setProperty(k, v) }
        spark.read.jdbc(base("url"), table, predicates.toArray, props)
      case (true, None) =>
        val pcol = base("partitionColumn")
        val table = base("dbtable")
        // the 1-row probe must not carry the partitioning options
        val probeOpts = base -- Seq("partitionColumn", "lowerBound", "upperBound", "numPartitions")
        val maxDf = spark.read.format("jdbc").options(probeOpts)
          .option("dbtable", s"(SELECT MAX(${q(pcol)}) AS mx FROM $table) t").load()
        val upper = String.valueOf(maxDf.collect()(0).get(0))
        spark.read.format("jdbc").options(base).option("upperBound", upper).load()
      case _ =>
        spark.read.format("jdbc").options(base).load()
    }
  }
}
