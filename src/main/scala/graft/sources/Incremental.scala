package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{LeafFiles, ParquetSchema, TableIO}

/** Incremental-ingest watermark protocols (SURVEY.md §2.10).
  *
  * The canonical JDBC protocol — (b) in the survey — keeps the watermark
  * as an ISO STRING with full 7-digit fractional seconds plus a primary-key
  * tie-breaker, because the reference lost rows truncating DATETIME2(7)
  * to Spark's µs timestamps (reference: notebooks/02_ingest_smartpool.ipynb
  * §1; ProyectoFinal main.tex:150). We replicate the string protocol
  * exactly: the predicate is built engine-side and pushed to the remote
  * database via the JDBC `query` option, so the database evaluates it at
  * full precision and Spark never parses the boundary timestamp.
  */
final case class JdbcWatermark(lastUpdatedAtStr: String, lastPk: Long)

object IncrementalJdbc {

  /** WHERE clause evaluated on the remote DB at native precision.
    * Reference predicate shape: 02_ingest_smartpool.ipynb §1 —
    * `updated > ts OR (updated = ts AND pk > last_pk)`. */
  def incrementalPredicate(wm: JdbcWatermark, updatedCol: String,
      pkCol: String): String = {
    val ts = wm.lastUpdatedAtStr.replace("'", "''")
    s"($updatedCol > '$ts' OR ($updatedCol = '$ts' AND $pkCol > ${wm.lastPk}))"
  }

  /** How a dialect renders "timestamp column → lossless ISO string".
    * SQL Server is the reference dialect (CONVERT(varchar(33),…,126),
    * 02_ingest_smartpool.ipynb §1); Derby/ANSI uses a plain VARCHAR
    * cast. The string is what the watermark stores, so it must carry
    * the column's full native precision. */
  type TimestampToString = String => String
  val SqlServerDialect: TimestampToString =
    c => s"CONVERT(varchar(33), $c, 126)"
  val AnsiCastDialect: TimestampToString =
    c => s"CAST($c AS VARCHAR(29))"

  /** Pushdown query for the JDBC `query` option: the remote engine
    * evaluates both the watermark predicate and the lossless string
    * conversion at native precision. */
  def pushdownQuery(table: String, updatedCol: String, pkCol: String,
      wm: Option[JdbcWatermark],
      dialect: TimestampToString = SqlServerDialect): String = {
    val base = s"SELECT t.*, ${dialect(updatedCol)} AS " +
      s"${updatedCol}_str FROM $table t"
    wm.fold(base)(w =>
      s"$base WHERE ${incrementalPredicate(w, updatedCol, pkCol)}")
  }

  /** Next watermark from an ingested batch: max (updated_str, pk) pair,
    * compared lexicographically-then-numerically — safe because the string
    * is fixed-width ISO-8601. */
  def nextWatermark(batch: DataFrame, updatedStrCol: String, pkCol: String,
      current: Option[JdbcWatermark]): Option[JdbcWatermark] = {
    val top = batch
      .select(col(updatedStrCol).as("u"), col(pkCol).cast("long").as("p"))
      .orderBy(col("u").desc, col("p").desc)
      .limit(1)
      .collect()
    top.headOption
      .map(r => JdbcWatermark(r.getString(0), r.getLong(1)))
      .orElse(current)
  }

  def read(spark: SparkSession, url: String, query: String,
      props: Map[String, String] = Map.empty): DataFrame = {
    val r = spark.read.format("jdbc").option("url", url)
      .option("query", query)
    props.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  /** N disjoint stride predicates over the PK, covering ALL of the key
    * space (first/last clauses are open-ended, so keys outside the
    * sampled [minPk, maxPk] are not lost), each optionally ANDed with
    * an extra predicate (the watermark clause). */
  def partitionPredicates(pkCol: String, minPk: Long, maxPk: Long,
      numPartitions: Int, extra: Option[String] = None): Array[String] = {
    require(numPartitions >= 1, "numPartitions must be >= 1")
    val span = math.max(1L, maxPk - minPk + 1)
    val step = math.max(1L, (span + numPartitions - 1) / numPartitions)
    val parts = (0 until numPartitions).map { i =>
      val lo = minPk + i * step
      val hi = lo + step
      if (numPartitions == 1) "1=1"
      else if (i == 0) s"$pkCol < $hi"
      else if (i == numPartitions - 1) s"$pkCol >= $lo"
      else s"$pkCol >= $lo AND $pkCol < $hi"
    }
    parts.map(p => extra.fold(p)(e => s"($p) AND $e")).toArray
  }

  /** Partitioned parallel ingest (reference 02_ingest_smartpool.py:30-31):
    * same pushdown subquery as [[read]] — lossless timestamp string and
    * all — but split into per-partition WHERE clauses on the PK via the
    * `predicates` JDBC API, so the read fans out over `numPartitions`
    * concurrent connections instead of serializing through one task.
    * `minPk`/`maxPk` only set the stride layout; rows outside the range
    * still land in the edge partitions. */
  def readPartitioned(spark: SparkSession, url: String, table: String,
      updatedCol: String, pkCol: String, wm: Option[JdbcWatermark],
      minPk: Long, maxPk: Long, numPartitions: Int,
      dialect: TimestampToString = SqlServerDialect,
      props: Map[String, String] = Map.empty): DataFrame = {
    val sub = s"(SELECT t.*, ${dialect(updatedCol)} AS " +
      s"${updatedCol}_str FROM $table t) AS g"
    val preds = partitionPredicates(pkCol, minPk, maxPk, numPartitions,
      wm.map(w => incrementalPredicate(w, updatedCol, pkCol)))
    val jprops = new java.util.Properties()
    props.foreach { case (k, v) => jprops.setProperty(k, v) }
    spark.read.jdbc(url, sub, preds, jprops)
  }
}

/** File-ingest incremental state — protocol (c): a `last_date` string in a
  * tiny single-row state table, new hive-style `date=` partitions read
  * selectively (reference: notebooks/05_ingest_electricity_csv.ipynb §2-§4).
  * State lives as a 1-row parquet; overwrite is the commit.
  */
object IncrementalFiles {
  /** The stored `last_date`; None only when no state was ever written
    * (the path is missing). Any other failure — a corrupt or
    * unreadable state file — propagates: treating it as "no state"
    * would silently re-ingest the whole landing zone. */
  def readState(spark: SparkSession, statePath: String): Option[String] =
    if (!TableIO.exists(spark, statePath)) None
    else {
      val r = spark.read
      ParquetSchema.ofPath(spark, statePath, merge = false).fold(r)(r.schema)
        .parquet(statePath).select("last_date").collect()
        .headOption.map(_.getString(0))
    }

  def writeState(spark: SparkSession, statePath: String, lastDate: String)
      : Unit = {
    import spark.implicits._
    Seq(lastDate).toDF("last_date")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(statePath)
  }

  /** Read partitions at-or-after the state date. `>=` (not `>`): files
    * can keep landing into the current date's partition after a run has
    * ingested it — a strict comparison would skip them forever. The
    * boundary partition is re-read instead, and silver's latest-wins
    * dedup makes the re-ingest idempotent. Only the `date=` directories
    * at or after the state date are listed and read, which is what
    * keeps this O(new-data) at 100 TB.
    *
    * One frame holds one CSV header: when the new files carry several
    * (a landing zone mixing schema variants) this fails loudly —
    * read them with [[readNewGroups]] instead.
    *
    * LIMIT OF THE DATE WATERMARK: once `last_date` advances, partitions
    * strictly older than it are FROZEN — a file backfilled into an old
    * `date=` dir is never picked up. That is the protocol's contract
    * (partition == arrival date). For out-of-band backfills, use
    * [[readNewByModTime]], which watermarks on file modification time
    * instead of the partition value. */
  def readNew(spark: SparkSession, landingRoot: String,
      lastDate: Option[String], format: String = "csv"): DataFrame =
    readNewGroups(spark, landingRoot, lastDate, format) match {
      case Seq() => load(spark, Seq(landingRoot), landingRoot, lastDate,
        format)
      case Seq(one) => one
      case many => throw new IllegalArgumentException(
        s"new files under $landingRoot carry ${many.size} different " +
          "CSV headers; read them with readNewGroups")
    }

  /** The files [[readNew]] reads, one frame per distinct CSV header
    * line (each file's first non-blank line, read on the driver), in
    * order of each group's first file. Spark applies the first file's
    * header to every file of one read, so files of different schema
    * variants must not share a read; each group keeps Spark's own
    * header inference. With one header (or a non-CSV format, or no
    * new file that holds a line) the result is the single read of the
    * root that [[readNew]] always made — same listing, same jobs; only
    * mixed headers read each group's files by name.
    *
    * No frame at all when the driver-side listing finds no file at or
    * after `lastDate`: the caller learns there is nothing new without
    * a job. A missing `landingRoot` fails like Spark's read of it. */
  def readNewGroups(spark: SparkSession, landingRoot: String,
      lastDate: Option[String], format: String = "csv")
      : Seq[DataFrame] = {
    def read(paths: Seq[String]) =
      load(spark, paths, landingRoot, lastDate, format)
    // a missing root fails in Spark's read, as it always did
    if (!TableIO.exists(spark, landingRoot))
      return Seq(read(Seq(landingRoot)))
    val files = newFiles(spark, landingRoot, lastDate)
    val groups =
      if (format != "csv") Nil
      else {
        val headers = files.flatMap(f => headerLine(spark, f).map(f -> _))
        headers.map(_._2).distinct
          .map(h => headers.collect { case (f, `h`) => f.toString })
      }
    if (files.isEmpty) Nil
    else if (groups.size < 2) Seq(read(Seq(landingRoot)))
    else groups.map(read)
  }

  private def load(spark: SparkSession, paths: Seq[String],
      landingRoot: String, lastDate: Option[String], format: String)
      : DataFrame = {
    val base = spark.read
      .option("header", "true")
      .option("basePath", landingRoot)
      .format(format)
      .load(paths: _*)
    lastDate.fold(base)(d => base.filter(col("date") >= lit(d)))
  }

  /** Data files under `landingRoot` ([[LeafFiles]]), sorted by path,
    * skipping `date=` directories that are certainly older than
    * `lastDate`; the read's `date >= lastDate` filter stays the
    * authority for anything else. */
  private def newFiles(spark: SparkSession, landingRoot: String,
      lastDate: Option[String]): Seq[org.apache.hadoop.fs.Path] = {
    val root = new org.apache.hadoop.fs.Path(landingRoot)
    def day(s: String) =
      scala.util.Try(java.time.LocalDate.parse(s.trim)).toOption
    val since = lastDate.flatMap(day)
    def older(dirName: String) = dirName.startsWith("date=") &&
      since.exists(d =>
        day(dirName.stripPrefix("date=")).exists(_.isBefore(d)))
    LeafFiles.list(root.getFileSystem(
        spark.sparkContext.hadoopConfiguration), root, older)
      .fold(Seq.empty[org.apache.hadoop.fs.Path])(_.files.map(_.getPath))
  }

  /** A CSV file's header: its first non-blank line, through the
    * file's compression codec when its suffix names one. */
  private def headerLine(spark: SparkSession,
      file: org.apache.hadoop.fs.Path): Option[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val raw = file.getFileSystem(conf).open(file)
    val codec = new org.apache.hadoop.io.compress.CompressionCodecFactory(
      conf).getCodec(file)
    val in = if (codec == null) raw else codec.createInputStream(raw)
    val lines = new java.io.BufferedReader(new java.io.InputStreamReader(
      in, java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(lines.readLine()).takeWhile(_ != null)
      .find(_.trim.nonEmpty)
    finally lines.close()
  }

  /** Modification-time incremental pickup — the late-backfill
    * complement to [[readNew]]: lists the landing root and reads every
    * data file with mtime strictly greater than `sinceMtime`, wherever
    * its partition sits. Catches files backfilled into partitions the
    * date watermark has frozen. Cost: one recursive listing, O(#files)
    * on the driver — fine into the millions of files; beyond that, a
    * manifest or storage-notification source is the right tool.
    *
    * Two boundary protections:
    *   - the files are listed by [[LeafFiles]], with Spark's rule for
    *     what is data: hidden names, anything under a hidden directory
    *     (`_temporary`, `.staging`, …) and in-flight `._COPYING_`
    *     copies are neither read nor counted in the watermark, so a
    *     copy renamed into place later still lands;
    *   - only files with mtime at or below `now - graceMs` are
    *     ingested, and the returned watermark advances only over what
    *     was ingested. A file committed with an mtime equal to the
    *     previous max (same filesystem timestamp tick) therefore still
    *     lands in the next batch instead of being skipped forever.
    *     Caveat that no mtime watermark can fix: a rename-in of a file
    *     PRESERVING an mtime at or below the watermark is invisible —
    *     backfills must copy (fresh mtime) or use the manifest path.
    *
    * Returns the batch (None when nothing new) and the next watermark
    * to persist. */
  def readNewByModTime(spark: SparkSession, landingRoot: String,
      sinceMtime: Long, format: String = "csv",
      graceMs: Long = 2000L): (Option[DataFrame], Long) = {
    val root = new org.apache.hadoop.fs.Path(landingRoot)
    val files = LeafFiles.list(root.getFileSystem(
        spark.sparkContext.hadoopConfiguration), root).toSeq
      .flatMap(_.files)
      .map(st => (st.getPath.toString, st.getModificationTime))
    val horizon = System.currentTimeMillis() - graceMs
    val fresh = files.filter { case (_, m) =>
      m > sinceMtime && m <= horizon }
    if (fresh.isEmpty) (None, sinceMtime)
    else {
      val df = spark.read
        .option("header", "true")
        .option("basePath", landingRoot)
        .format(format)
        .load(fresh.map(_._1): _*)
      (Some(df), fresh.map(_._2).max)
    }
  }
}
