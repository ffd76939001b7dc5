package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided star schema (TESTDATA.md). One parquet
  * file per table under `sfDir`. At cluster scale these would be
  * partitioned directories; the API is path-based either way.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // one normalized-events scratch copy per (session, sfDir) — see load()
  private val normalizedEvents =
    scala.collection.mutable.Map[String, String]()
  // (session, sfDir) keys confirmed µs/NTZ layout — no scratch copy
  // needed, but the probe that detects the layout (a throwaway child
  // session + footer read) must still run only once per key
  private val ntzEvents = scala.collection.mutable.Set[String]()

  // Parquet schema per (path, length, mtime), resolved on the driver
  // (ParquetSchema, no job) and memoized: a file regenerated at a
  // cached path gets a new key, so a hit is what inference over the
  // path's current contents returns. A full bench pass loads the same
  // immutable inputs thousands of times. Bounded like VersionedTable's
  // memo: cleared when it outgrows its cap.
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]()
  private def readCached(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val st =
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p)
      catch { // Spark's own PATH_NOT_FOUND
        case _: java.io.FileNotFoundException =>
          return spark.read.parquet(path)
      }
    val key = (path, st.getLen, st.getModificationTime)
    var s = schemaCache.get(key)
    if (s == null) {
      if (schemaCache.size > 4096) schemaCache.clear()
      s = ParquetSchema.ofPath(spark, path, merge = false)
        .getOrElse(spark.read.parquet(path).schema)
      schemaCache.put(key, s)
    }
    spark.read.schema(s).parquet(path)
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet has shipped as TIMESTAMP(NANOS) (which Spark's
    // vectorized reader rejects — read the ns epoch as long and
    // floor-convert to µs) and as plain TIMESTAMP(MICROS) without the
    // UTC flag (reads as TIMESTAMP_NTZ). Normalize both layouts to a
    // session-TZ TimestampType `ts` so every downstream query and the
    // DuckDB oracle see identical µs instants (session TZ is UTC).
    //
    // The NANOS layout needs `spark.sql.legacy.parquet.nanosAsLong`,
    // which Spark only honours as a SESSION conf (ParquetFileFormat
    // copies it from the session's SQLConf into the scan's hadoopConf
    // at planning time — a per-reader option is overwritten). Leaving
    // it set session-wide would silently read any UNRELATED nanos
    // column elsewhere as long, so the conf is scoped: set, normalize
    // the table to a µs scratch copy (executing the one scan that
    // needs it), restore, and serve plain reads of the copy. The
    // rewrite is a one-time linear, partition-parallel ingest
    // normalization per session — the job a production pipeline runs
    // once at landing time, not per query.
    if (name == "events") Tables.synchronized {
      val key = s"${System.identityHashCode(spark)}:$sfDir"
      normalizedEvents.get(key) match {
        case Some(path) => readCached(spark, path)
        case None if ntzEvents.contains(key) =>
          readCached(spark, s"$sfDir/$name.parquet")
            .withColumn("ts", col("ts").cast("timestamp"))
        case None =>
          // the legacy conf is set on a THROWAWAY child session only
          // (own SQLConf, shared SparkContext): the main session's
          // conf is never touched, so concurrent queries can't race a
          // set/restore window and misread an unrelated nanos column
          val probe = spark.newSession()
          probe.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          val raw = probe.read.parquet(s"$sfDir/$name.parquet")
          raw.schema("ts").dataType match {
            case org.apache.spark.sql.types.LongType =>
              // NANOS layout: normalize to a µs scratch copy — the
              // one job that needs the conf executes entirely under
              // the probe session
              // pinningScope: the path lives in the session-level
              // normalizedEvents map, so it must survive per-pass
              // scratch reclamation exactly like ModelCache artifacts
              val (_, path) = Scratch.pinningScope(
                Scratch.materializeWithPath(
                  raw.withColumn("ts",
                    expr("timestamp_micros(ts div 1000)")),
                  "events_us"))
              normalizedEvents(key) = path
              readCached(spark, path)
            case _ =>
              // µs/NTZ layout: no legacy conf involved — serve it
              // from the MAIN session (frames must not cross sessions)
              ntzEvents += key
              readCached(spark, s"$sfDir/$name.parquet")
                .withColumn("ts", col("ts").cast("timestamp"))
          }
      }
    } else {
      readCached(spark, s"$sfDir/$name.parquet")
    }
  }
}
