package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Path-addressed medallion table IO (SURVEY.md §1.1): the reference's
  * Delta-on-MinIO layout re-expressed with a pluggable format — parquet
  * in this offline environment, delta when the jars are present. Write
  * modes mirror the reference's append (bronze), overwrite (silver/gold
  * snapshot) and partitioned-write semantics
  * (02_ingest_smartpool.py:68-72; 03_silver_smartpool.py:29-43;
  * 05_ingest_electricity_csv.py:82-87).
  */
final case class LakeLayout(root: String, format: String = "parquet") {
  def bronze(name: String): String = s"$root/bronze/$name"
  def silver(name: String): String = s"$root/silver/$name"
  def gold(name: String): String = s"$root/gold/$name"
  def state(name: String): String = s"$root/_state/$name"
  def checkpoints(name: String): String = s"$root/_checkpoints/$name"
}

object TableIO {

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  /** `mergeSchema = true` reconstructs the UNION schema across files
    * written at different schema versions (rows from files missing a
    * column read as null) — the read half of additive schema evolution
    * (reference mergeSchema, 05_ingest_electricity_csv.ipynb §4).
    *
    * A parquet table's data schema is resolved from its footers on the
    * driver ([[ParquetSchema.ofPath]]) and passed with `.schema(...)`,
    * so the read launches no inference job; Spark still infers the
    * partition columns from the `k=v` directories. Other formats, and
    * paths the driver cannot resolve, keep Spark's own resolution. */
  def read(spark: SparkSession, layout: LakeLayout, path: String,
      mergeSchema: Boolean = false): DataFrame = {
    val r0 = spark.read.format(layout.format)
    val r = if (mergeSchema) r0.option("mergeSchema", "true") else r0
    val known =
      if (layout.format == "parquet")
        ParquetSchema.ofPath(spark, path, mergeSchema)
      else None
    known.fold(r)(r.schema).load(path)
  }

  private def fieldNames(s: StructType): Set[String] =
    s.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet

  /** Existing-table schema for the evolution guards (resolved like
    * [[read]]: no job for parquet); None when the path holds nothing
    * readable (e.g. an empty dir from an aborted write) — then there
    * is no schema to enforce against. */
  private def existingSchema(spark: SparkSession, layout: LakeLayout,
      path: String): Option[StructType] =
    if (!exists(spark, path)) None
    else scala.util.Try(read(spark, layout, path).schema).toOption

  /** Append with Delta-style schema enforcement: writing NEW columns
    * into an existing table is refused unless `mergeSchema = true`
    * (the reference's `.option("mergeSchema", "true")` append,
    * 05_ingest_electricity_csv.ipynb §4). With it, the new files carry
    * the wider schema and `read(…, mergeSchema = true)` reconstructs
    * the union. */
  def append(df: DataFrame, layout: LakeLayout, path: String,
      partitionCols: Seq[String] = Nil, mergeSchema: Boolean = false)
      : Unit = {
    if (!mergeSchema) existingSchema(df.sparkSession, layout, path)
      .foreach { s =>
        val added = fieldNames(df.schema) -- fieldNames(s)
        val missing = fieldNames(s) -- fieldNames(df.schema)
        // a missing column is as dangerous as an added one: the table
        // would mix footers and a default (non-mergeSchema) read can
        // resolve its schema from the narrow file, silently dropping
        // the column for every row
        require(added.isEmpty && missing.isEmpty,
          s"append to $path changes columns (added: " +
            s"${added.mkString(", ")}; missing: " +
            s"${missing.mkString(", ")}); " +
            "pass mergeSchema = true to evolve the schema")
        // same-named columns must keep their type too — appending a
        // retyped column writes conflicting footers that a later read
        // either fails to merge or silently resolves one-sided (the
        // same guard overwrite() applies)
        def types(t: org.apache.spark.sql.types.StructType) =
          t.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
        val existing = types(s); val next = types(df.schema)
        val retyped = existing.keySet.intersect(next.keySet)
          .filter(k => existing(k) != next(k))
        require(retyped.isEmpty,
          s"append to $path changes column types for " +
            s"${retyped.mkString(", ")} " +
            s"(${retyped.map(k => s"$k: ${existing(k)} -> ${next(k)}")
              .mkString("; ")})")
      }
    val w = df.write.format(layout.format).mode(SaveMode.Append)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .save(path)
  }

  /** Overwrite with Delta-style schema enforcement: replacing an
    * existing table with a DIFFERENT column set is refused unless
    * `overwriteSchema = true` (the reference's
    * `.option("overwriteSchema", "true")`, 03_silver_smartpool.py:33) —
    * a snapshot job that silently changes the schema is usually a bug
    * upstream, not an intended migration. */
  def overwrite(df: DataFrame, layout: LakeLayout, path: String,
      partitionCols: Seq[String] = Nil, overwriteSchema: Boolean = false)
      : Unit = {
    if (!overwriteSchema) existingSchema(df.sparkSession, layout, path)
      .foreach { s =>
        // names AND types: a same-named column changing type is the
        // classic silent upstream bug this guard exists to refuse
        def shape(t: org.apache.spark.sql.types.StructType) =
          t.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
        val existing = shape(s)
        val next = shape(df.schema)
        require(existing == next,
          s"overwrite of $path changes schema ($existing -> $next); " +
            "pass overwriteSchema = true to replace it")
      }
    val w = df.write.format(layout.format).mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .save(path)
  }

  /** Dynamic partition overwrite: replace ONLY the partitions present
    * in `df`, leaving every other partition's files untouched — the
    * idempotent daily-reprocess shape at 100 TB (re-running one day
    * must not rewrite, or worse truncate, the other 3 650). Plain
    * `SaveMode.Overwrite` + partitionBy drops the WHOLE table first;
    * this scopes the delete to the incoming partition values via
    * Spark's dynamic partitionOverwriteMode, set per-write (not
    * session-wide) so concurrent static-mode writers are unaffected. */
  def overwritePartitions(df: DataFrame, layout: LakeLayout,
      path: String, partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty,
      "overwritePartitions needs at least one partition column")
    df.write.format(layout.format)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .mode(SaveMode.Overwrite)
      .save(path)
  }

  /** Snapshot-isolated overwrite: publish `df` as the next version of
    * a [[VersionedTable]] at `path` instead of delete-and-write. A
    * reader concurrent with the publish keeps its resolved file set
    * (the old snapshot's files are immutable and still present) — the
    * isolation the reference gets from Delta's log
    * (smartpool_config.py:68-70), here from the manifest commit. Same
    * Delta-style schema enforcement as [[overwrite]].
    *
    * Versioned tables carry would-be partition columns as ordinary
    * data columns: file skipping at scale comes from parquet footer
    * stats / [[ManifestStats]] rather than Hive directory layout (the
    * same direction Delta/Iceberg took). Returns the new version. */
  def publishSnapshot(df: DataFrame, layout: LakeLayout, path: String,
      overwriteSchema: Boolean = false): Int = {
    if (!overwriteSchema && snapshotExists(df.sparkSession, path)) {
      def shape(t: org.apache.spark.sql.types.StructType) =
        t.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
      val existing =
        shape(VersionedTable.read(df.sparkSession, path).schema)
      val next = shape(df.schema)
      require(existing == next,
        s"snapshot publish to $path changes schema " +
          s"($existing -> $next); pass overwriteSchema = true")
    }
    VersionedTable.commitOverwrite(df, path)
  }

  /** Latest snapshot of a [[publishSnapshot]]-maintained table (or a
    * pinned `version` for time travel). */
  def readSnapshot(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame =
    VersionedTable.read(spark, path, version)

  def snapshotExists(spark: SparkSession, path: String): Boolean =
    VersionedTable.latestVersion(spark, path) > 0

  // ---- table-maintenance / metadata ops (SURVEY §2.10) --------------
  // Delta's history / DESCRIBE DETAIL degrade to a version-log sidecar
  // and filesystem introspection in parquet mode (SURVEY §7.4 risk 2).

  private def logPath(path: String) = s"$path/_graft_log"

  /** Append one version record per write — the parquet-mode stand-in
    * for `DeltaTable.history` (03_silver_smartpool.ipynb §6). */
  def logVersion(spark: SparkSession, path: String, op: String,
      rows: Long): Unit = {
    import spark.implicits._
    val entry = Seq((System.currentTimeMillis(), op, rows))
      .toDF("ts_millis", "operation", "num_rows")
    entry.coalesce(1).write.mode(SaveMode.Append)
      .json(logPath(path))
  }

  /** Version history, newest first (empty if never logged). */
  def history(spark: SparkSession, path: String, limit: Int = 10)
      : DataFrame = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "ts_millis BIGINT, operation STRING, num_rows BIGINT"))
    if (!exists(spark, logPath(path))) empty
    else spark.read.schema(empty.schema).json(logPath(path))
      .orderBy(org.apache.spark.sql.functions.col("ts_millis").desc)
      .limit(limit)
  }

  /** The values of Hive partition column `column` at `path`, read from
    * its `column=value` directories rather than from the rows: a table
    * written with `partitionBy(column)` holds a directory for exactly
    * the values its rows carry. Hidden directories and the null
    * partition are skipped; a missing path has none. */
  def partitionValues(spark: SparkSession, path: String,
      column: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = s"$column="
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .map(st => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(st.getPath.getName.stripPrefix(prefix)))
      .filter(_ != org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME)
  }

  /** DESCRIBE DETAIL-ish physical introspection: format, file count,
    * bytes, partition columns inferred from hive-style dirs
    * (03_silver_smartpool.ipynb §6's partition-layout assertion). The
    * files are the data files a read of `path` scans: [[LeafFiles]]
    * without parquet summary files. */
  def describe(spark: SparkSession, path: String): Map[String, Any] = {
    val p0 = new org.apache.hadoop.fs.Path(path)
    val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = fs.makeQualified(p0) // listStatus returns qualified paths
    val files = LeafFiles.list(fs, p).toSeq.flatMap(_.files)
      .filterNot(_.getPath.getName.startsWith("_"))
    val partCols = files.map(_.getPath.getParent.toString
        .stripPrefix(p.toString))
      .flatMap(_.split("/").filter(_.contains("=")).map(_.split("=")(0)))
      .distinct.toSeq
    Map(
      "numFiles" -> files.length,
      "sizeInBytes" -> files.map(_.getLen).sum,
      "partitionColumns" -> partCols)
  }

  /** Overwrite `path` with a DataFrame that READS FROM `path`: write
    * to a sibling tmp dir first, then swap via delete+rename. (A
    * localCheckpoint-then-overwrite would lose the table if an
    * executor holding checkpoint blocks died after the delete — the
    * source files would already be gone.) The `_graft_log` version
    * sidecar lives INSIDE the table dir, so it is moved into the tmp
    * dir before the swap — otherwise every compaction would wipe the
    * table's history. A crash mid-swap leaves the tmp dir (log
    * included) intact for manual recovery. */
  def replaceContents(spark: SparkSession, layout: LakeLayout,
      df: DataFrame, path: String, partitionCols: Seq[String] = Nil)
      : Unit = {
    val tmp = s"$path.__tmp_${System.currentTimeMillis()}"
    val w = df.write.format(layout.format).mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .save(tmp)
    val p = new org.apache.hadoop.fs.Path(path)
    val t = new org.apache.hadoop.fs.Path(tmp)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log = new org.apache.hadoop.fs.Path(logPath(path))
    if (fs.exists(log) &&
        !fs.rename(log, new org.apache.hadoop.fs.Path(logPath(tmp))))
      // some FS impls signal failure by returning false, not throwing;
      // proceeding would let the delete below wipe the version history
      throw new java.io.IOException(
        s"rename $log -> ${logPath(tmp)} failed; aborting swap")
    fs.delete(p, true)
    if (!fs.rename(t, p))
      throw new java.io.IOException(s"rename $tmp -> $path failed")
  }

  /** Small-file compaction — at 100 TB the streaming sinks and
    * per-batch appends fragment tables; rewrite to ~targetMB files.
    * Coalesce (no shuffle) is enough because we only merge. */
  def compact(spark: SparkSession, layout: LakeLayout, path: String,
      targetMB: Int = 128): Unit = {
    val bytes = describe(spark, path)("sizeInBytes")
      .asInstanceOf[Long]
    val targetFiles = math.max(1,
      (bytes / (targetMB.toLong * 1024 * 1024)).toInt)
    val df = read(spark, layout, path).coalesce(targetFiles)
    replaceContents(spark, layout, df, path)
    logVersion(spark, path, s"COMPACT($targetFiles files)",
      read(spark, layout, path).count())
  }

  /** Pre-create an empty table to fix the schema before streams start
    * (reference `ensure_delta`, 07_kafka….ipynb §3). */
  def ensureTable(spark: SparkSession, layout: LakeLayout, path: String,
      schema: StructType, partitionCols: Seq[String] = Nil): Unit =
    if (!exists(spark, path)) {
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      val w = empty.write.format(layout.format).mode(SaveMode.Overwrite)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .save(path)
    }
}
