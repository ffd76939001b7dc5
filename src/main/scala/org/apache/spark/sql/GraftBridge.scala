package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column↔Expression conversion for graft's
  * custom Catalyst expressions (Spark 4 removed the public
  * `new Column(expr)` constructor). Standard extension-library pattern.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Nullability-insensitive type equality (`asNullable` is
    * `private[spark]`): fresh in-memory batches carry non-nullable
    * primitives / containsNull=false arrays where parquet read-back
    * is all-nullable — that difference is not a retype. */
  def sameTypeIgnoreNullability(a: types.DataType,
      b: types.DataType): Boolean = a.asNullable == b.asNullable

  /** Drain the listener bus (`listenerBus` is `private[spark]`) — lets
    * specs count Spark jobs deterministically after a driver call. */
  def waitListenerEmpty(spark: SparkSession): Unit = spark match {
    case c: classic.SparkSession =>
      c.sparkContext.listenerBus.waitUntilEmpty()
    case _ => ()
  }

  /** The session's SQL conf (`sessionState` is `private[sql]`); a
    * non-classic session falls back to the active thread's conf. */
  def sqlConf(spark: SparkSession): internal.SQLConf = spark match {
    case c: classic.SparkSession => c.sessionState.conf
    case _ => internal.SQLConf.get
  }

  /** The Hadoop conf a session's file sources read with: the context's
    * conf overlaid with the session's `spark.hadoop.*` settings. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark match {
      case c: classic.SparkSession => c.sessionState.newHadoopConf()
      case _ => spark.sparkContext.hadoopConfiguration
    }

  /** `StructType.merge` (`private[sql]`): the union Spark's parquet
    * schema merging builds, failing on a conflicting field type. */
  def mergeSchemas(a: types.StructType, b: types.StructType,
      caseSensitive: Boolean): types.StructType = a.merge(b, caseSensitive)

  /** `StructType.asNullable` (`private[spark]`): a file source reports
    * every column, element and value as nullable. */
  def nullable(s: types.StructType): types.StructType = s.asNullable

  /** Spark's file-index rule for names it never reads as data: `_x`
    * and `.x` (except parquet summary files and `k=v` dirs) and
    * in-flight `._COPYING_` copies. */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Spark's streaming file sink (the one behind
    * `writeStream.format(format).option("path", path)`), to be driven
    * from a `foreachBatch`: `addBatch(id, df)` appends `df` through the
    * manifest committer and records it as batch `id` in the table's
    * `_spark_metadata` log, and skips any id at or below the log's
    * latest, so a replayed micro-batch writes nothing twice. Readers see
    * the table through that log. `format` resolves as `writeStream`
    * resolves it; a name that is not a file format throws here. */
  def fileStreamSink(spark: SparkSession, path: String, format: String,
      partitionColumns: Seq[String])
      : execution.streaming.sinks.FileStreamSink = {
    val provider = execution.datasources.DataSource
      .lookupDataSource(format, sqlConf(spark))
      .getDeclaredConstructor().newInstance()
    val fileFormat = provider match {
      case v2: execution.datasources.v2.FileDataSourceV2 =>
        v2.fallbackFileFormat.getDeclaredConstructor().newInstance()
      case f: execution.datasources.FileFormat => f
      case _ => throw new IllegalArgumentException(
        s"format '$format' is not a file format: no streaming file sink " +
          s"can write $path")
    }
    new execution.streaming.sinks.FileStreamSink(spark, path, fileFormat,
      partitionColumns, Map.empty)
  }

  /** The latest batch id in the `_spark_metadata` log of the streaming
    * file sink table at `path`; None when the log holds no batch. */
  def fileSinkLatestBatchId(spark: SparkSession, path: String)
      : Option[Long] = {
    import execution.streaming.sinks.{FileStreamSink, FileStreamSinkLog}
    val base = new org.apache.hadoop.fs.Path(path)
    val log = FileStreamSink.getMetadataLogPath(
      base.getFileSystem(hadoopConf(spark)), base, sqlConf(spark))
    new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark, log.toString,
      None).getLatestBatchId()
  }

  /** Stable per-session identity (`sessionUUID` is `private[sql]`).
    * Exotic non-classic sessions fall back to JVM object identity —
    * still never shared across distinct session objects. */
  def sessionUUID(spark: SparkSession): String = spark match {
    case c: classic.SparkSession => c.sessionUUID
    case other => s"ident-${System.identityHashCode(other)}"
  }
}
