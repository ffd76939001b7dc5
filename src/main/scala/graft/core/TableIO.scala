package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** The lake's path naming (SURVEY.md §1.1): the reference's bucket
  * prefix with its bronze/silver/gold/_state/_checkpoints layers
  * (smartpool_config.py:13-17). */
final case class LakeLayout(root: String) {
  def bronze(name: String): String = s"$root/bronze/$name"
  def silver(name: String): String = s"$root/silver/$name"
  def gold(name: String): String = s"$root/gold/$name"
  def state(name: String): String = s"$root/_state/$name"
  def checkpoints(name: String): String = s"$root/_checkpoints/$name"
}

/** Path-addressed parquet table IO for the plain (Hive-partitioned)
  * medallion tables: the reference's append (bronze), overwrite
  * (silver/gold snapshot) and partitioned-write semantics
  * (02_ingest_smartpool.py:68-72; 03_silver_smartpool.py:29-43;
  * 05_ingest_electricity_csv.py:82-87), with Delta-style schema
  * enforcement. History, compaction, partition replace and upsert are
  * [[VersionedTable]]'s (`compact`, `vacuum`, `commitReplaceWhere`,
  * `commitMerge`, and `DESCRIBE DETAIL` over its manifests); the
  * snapshot tables publish through it ([[publishSnapshot]]). */
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
    * The data schema is resolved from the footers on the driver
    * ([[ParquetSchema.ofPath]]) and passed with `.schema(...)`, so the
    * read launches no inference job; Spark still infers the partition
    * columns from the `k=v` directories. Paths the driver cannot
    * resolve keep Spark's own resolution. */
  def read(spark: SparkSession, path: String,
      mergeSchema: Boolean = false): DataFrame = {
    val r0 = spark.read.format("parquet")
    val r = if (mergeSchema) r0.option("mergeSchema", "true") else r0
    ParquetSchema.ofPath(spark, path, mergeSchema).fold(r)(r.schema)
      .load(path)
  }

  private def fieldNames(s: StructType): Set[String] =
    s.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet

  /** Lower-cased column name -> type: what the schema guards of
    * [[append]], [[overwrite]] and [[publishSnapshot]] compare. */
  private def columnTypes(s: StructType): Map[String, DataType] =
    s.fields.map(f => f.name.toLowerCase -> f.dataType).toMap

  /** Existing-table schema for the evolution guards (resolved like
    * [[read]]: no job); None when the path holds nothing
    * readable (e.g. an empty dir from an aborted write) — then there
    * is no schema to enforce against. */
  private def existingSchema(spark: SparkSession, path: String)
      : Option[StructType] =
    if (!exists(spark, path)) None
    else scala.util.Try(read(spark, path).schema).toOption

  /** Append with Delta-style schema enforcement: writing NEW columns
    * into an existing table is refused unless `mergeSchema = true`
    * (the reference's `.option("mergeSchema", "true")` append,
    * 05_ingest_electricity_csv.ipynb §4). With it, the new files carry
    * the wider schema and `read(…, mergeSchema = true)` reconstructs
    * the union. */
  def append(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil, mergeSchema: Boolean = false)
      : Unit = {
    if (!mergeSchema) existingSchema(df.sparkSession, path)
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
        val existing = columnTypes(s); val next = columnTypes(df.schema)
        val retyped = existing.keySet.intersect(next.keySet)
          .filter(k => existing(k) != next(k))
        require(retyped.isEmpty,
          s"append to $path changes column types for " +
            s"${retyped.mkString(", ")} " +
            s"(${retyped.map(k => s"$k: ${existing(k)} -> ${next(k)}")
              .mkString("; ")})")
      }
    val w = df.write.format("parquet").mode(SaveMode.Append)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .save(path)
  }

  /** Overwrite with Delta-style schema enforcement: replacing an
    * existing table with a DIFFERENT column set is refused unless
    * `overwriteSchema = true` (the reference's
    * `.option("overwriteSchema", "true")`, 03_silver_smartpool.py:33) —
    * a snapshot job that silently changes the schema is usually a bug
    * upstream, not an intended migration. */
  def overwrite(df: DataFrame, path: String,
      partitionCols: Seq[String] = Nil, overwriteSchema: Boolean = false)
      : Unit = {
    if (!overwriteSchema) existingSchema(df.sparkSession, path)
      .foreach { s =>
        // names AND types: a same-named column changing type is the
        // classic silent upstream bug this guard exists to refuse
        val existing = columnTypes(s)
        val next = columnTypes(df.schema)
        require(existing == next,
          s"overwrite of $path changes schema ($existing -> $next); " +
            "pass overwriteSchema = true to replace it")
      }
    val w = df.write.format("parquet").mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
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
    * same direction Delta/Iceberg took). `beforeClaim` is
    * [[VersionedTable.commitOverwrite]]'s pre-claim hook: a check that
    * throws there publishes nothing. Returns the new version. */
  def publishSnapshot(df: DataFrame, path: String,
      overwriteSchema: Boolean = false,
      beforeClaim: () => Unit = () => ()): Int = {
    if (!overwriteSchema && snapshotExists(df.sparkSession, path)) {
      val existing =
        columnTypes(VersionedTable.read(df.sparkSession, path).schema)
      val next = columnTypes(df.schema)
      require(existing == next,
        s"snapshot publish to $path changes schema " +
          s"($existing -> $next); pass overwriteSchema = true")
    }
    VersionedTable.commitOverwrite(df, path, beforeClaim)
  }

  /** Latest snapshot of a [[publishSnapshot]]-maintained table (or a
    * pinned `version` for time travel). */
  def readSnapshot(spark: SparkSession, path: String,
      version: Option[Int] = None): DataFrame =
    VersionedTable.read(spark, path, version)

  def snapshotExists(spark: SparkSession, path: String): Boolean =
    VersionedTable.latestVersion(spark, path) > 0

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

  /** DESCRIBE DETAIL-ish physical introspection: file count, bytes,
    * partition columns inferred from hive-style dirs
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
}
