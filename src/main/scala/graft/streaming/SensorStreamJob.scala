package graft.streaming

import java.util.concurrent.TimeoutException

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{LakeLayout, TableIO}

/** EP3 production wiring (SURVEY.md §2.9): Kafka source → the
  * [[SensorPipeline]] stages → checkpointed parquet sinks, with the
  * reference's parameter surface (--bootstrap/--topic/--run-seconds/
  * --trigger-seconds/--watermark; 07_kafka_smartpool_sensors.py:16-23).
  *
  * The Kafka connector (spark-sql-kafka) is a spark-submit --packages
  * dependency exactly as in the reference's DAG
  * (dags/dag_30_sensors_streaming.py:25-35); this offline environment
  * has no broker, so [[kafkaSource]] is exercised in production and the
  * stages are covered by MemoryStream tests.
  */
object SensorStreamJob {

  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String,
      maxOffsetsPerTrigger: Long = 2000L,
      startingOffsets: String = "latest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .option("failOnDataLoss", "false")
      .load()

  /** The notebook topology (the architecturally-correct variant,
    * SURVEY §2.9): 3 queries writing 4 tables — bronze raw, silver
    * parsed, and the gold 1-minute agg, whose every micro-batch also
    * writes gold enriched — each query with its own checkpoint dir.
    *
    * The agg runs once per trigger for both gold tables (one JSON
    * parse, one shuffle, one state store): its `foreachBatch` persists
    * the closed windows a micro-batch emits, appends them to
    * `gold/sensors_minute_agg`, then appends their enrichment to
    * `gold/sensors_enriched`. Both appends go through Spark's own file
    * sink ([[appendSink]]), which skips a batch id already in the
    * table's `_spark_metadata` log: replaying a micro-batch duplicates
    * neither table, and readers see both through their logs as before.
    *
    * Fails before any query starts when `layout.format` is not a file
    * format, or when the enriched log is not at the agg log's batch or
    * one behind it (a crash between the two appends): any other gap
    * would make the enriched sink skip or miss batches. */
  def start(spark: SparkSession, layout: LakeLayout, kafka: DataFrame,
      pools: DataFrame, prices: DataFrame,
      triggerSeconds: Int = 10, watermark: String = "2 minutes")
      : Seq[StreamingQuery] = {
    val trigger = Trigger.ProcessingTime(s"$triggerSeconds seconds")
    val aggPath = layout.gold("sensors_minute_agg")
    val enrichedPath = layout.gold("sensors_enriched")
    val aggSink = appendSink(spark, layout, aggPath, Seq("calc_date"))
    val enrichedSink =
      appendSink(spark, layout, enrichedPath, Seq("calc_date"))
    val aggAt = GraftBridge.fileSinkLatestBatchId(spark, aggPath)
      .getOrElse(-1L)
    val enrichedAt = GraftBridge.fileSinkLatestBatchId(spark, enrichedPath)
      .getOrElse(-1L)
    if (enrichedAt != aggAt && enrichedAt != aggAt - 1)
      throw new IllegalStateException(
        s"$enrichedPath/_spark_metadata is at batch $enrichedAt but " +
          s"$aggPath/_spark_metadata at batch $aggAt: the enriched table " +
          "must be at the agg table's batch or one behind it, or its " +
          "sink would skip or miss batches")

    val bronze = SensorPipeline.bronze(kafka)
    val qBronze = bronze.writeStream.format(layout.format)
      .option("checkpointLocation", layout.checkpoints("bronze_sensors"))
      .option("path", layout.bronze("sensors"))
      .partitionBy("ingest_date")
      .outputMode("append").trigger(trigger)
      .queryName("bronze_sensors").start()

    val silver = SensorPipeline.silver(bronze, watermark)
    val qSilver = silver.writeStream.format(layout.format)
      .option("checkpointLocation", layout.checkpoints("silver_sensors"))
      .option("path", layout.silver("sensors"))
      .partitionBy("event_date")
      .outputMode("append").trigger(trigger)
      .queryName("silver_sensors").start()

    val qAgg = SensorPipeline.goldMinuteAgg(silver).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // the batch is a LogicalRDD over the stateful plan's output: a
        // second action without persist re-runs the plan and its
        // state-store commit
        batch.persist()
        try {
          aggSink.addBatch(batchId, batch)
          enrichedSink.addBatch(batchId,
            SensorPipeline.goldEnriched(batch, pools, prices))
        } finally batch.unpersist()
      }
      .option("checkpointLocation", layout.checkpoints("sensors_minute_agg"))
      .outputMode("append").trigger(trigger)
      .queryName("sensors_minute_agg").start()

    Seq(qBronze, qSilver, qAgg)
  }

  /** Spark's streaming file sink for the table at `path`
    * ([[GraftBridge.fileStreamSink]]): exactly-once appends from a
    * `foreachBatch` through the table's `_spark_metadata` log. A
    * non-empty table without that log fails here — the log would hide
    * its existing files from every reader. */
  private def appendSink(spark: SparkSession, layout: LakeLayout,
      path: String, partitionColumns: Seq[String]) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && fs.listStatus(p).nonEmpty &&
        !fs.exists(new Path(p, "_spark_metadata")))
      throw new IllegalStateException(s"$path holds files written " +
        "without a _spark_metadata log; a streaming sink would hide them")
    GraftBridge.fileStreamSink(spark, path, layout.format, partitionColumns)
  }

  /** Bounded run + graceful reverse-order stop (07:…py:163-171). The
    * run ends early when a query dies. Each stop is bounded: one that
    * does not finish in [[StopTimeoutMs]] throws once every query has
    * been asked to stop. A query's failure is rethrown after the stop,
    * so a query that died mid-run fails the job. */
  def runBounded(queries: Seq[StreamingQuery], runSeconds: Int): Unit = {
    val deadline = System.currentTimeMillis() + runSeconds * 1000L
    while (queries.forall(_.isActive) &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(math.max(1L,
        math.min(100L, deadline - System.currentTimeMillis())))
    val stopFailures = queries.reverse.flatMap { q =>
      val stop = Future(q.stop())(ExecutionContext.global)
      try { Await.result(stop, StopTimeoutMs.millis); None }
      catch {
        case _: TimeoutException => Some(new TimeoutException(
          s"query ${q.name} did not stop within $StopTimeoutMs ms"))
        case NonFatal(e) => Some(e)
      }
    }
    queries.flatMap(_.exception).headOption.foreach(e => throw e)
    stopFailures.headOption.foreach(e => throw e)
  }

  private val StopTimeoutMs = 30000L

  /** K6: console debug sink (reference 07_kafka….ipynb §9) — prints
    * each micro-batch to stdout; never a production sink. */
  def consoleSink(df: DataFrame, numRows: Int = 20,
      truncate: Boolean = false, triggerSeconds: Int = 10)
      : StreamingQuery =
    df.writeStream.format("console")
      .option("numRows", numRows.toString)
      .option("truncate", truncate.toString)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(s"$triggerSeconds seconds"))
      .start()

  /** Stream-static join with a PER-BATCH dim refresh (SURVEY §7.4 risk
    * 4): a plain stream-static join against a parquet dim resolves the
    * static side's file listing once at query start, so dim updates
    * made while the stream runs are invisible until restart. foreachBatch
    * re-reads the dim table at every micro-batch — an update lands in
    * the NEXT batch. The dim is broadcast (it is small by contract).
    *
    * Exactly-once: Structured Streaming re-runs a micro-batch whose
    * write finished but whose checkpoint commit didn't, and a blind
    * append would then duplicate it. The append goes through Spark's
    * own file sink ([[appendSink]]), which records each batch id in
    * `outPath/_spark_metadata` in the same commit as its files and skips
    * a replayed id. Readers see the table through that log. */
  def startWithDimRefresh(stream: DataFrame, layout: LakeLayout,
      dimPath: String, joinKeys: Seq[String], outPath: String,
      checkpointPath: String): StreamingQuery = {
    val out = appendSink(stream.sparkSession, layout, outPath, Nil)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val dim = batch.sparkSession.read.format(layout.format).load(dimPath)
        out.addBatch(batchId, batch.join(
          org.apache.spark.sql.functions.broadcast(dim), joinKeys, "left"))
      }
      .option("checkpointLocation", checkpointPath)
      .queryName("dim_refresh_sink")
      .start()
  }

  /** Streaming MERGE sink: each micro-batch UPSERTS into the target by
    * key (latest-wins inside the batch, then K4 merge semantics against
    * the table) instead of blind-appending — the streaming twin of the
    * reference's Delta MERGE silver step (03_silver_smartpool.ipynb §4).
    *
    * Replay idempotence is free here, unlike the append sink: re-merging
    * an already-applied batch maps every key to the value it already
    * has, so no commit marker is needed. The swap goes through
    * `TableIO.replaceContents` (tmp-dir write + rename) because the
    * merged frame READS FROM the table it replaces. */
  def startUpsertSink(stream: DataFrame, layout: LakeLayout,
      outPath: String, keys: Seq[String], orderCol: String,
      checkpointPath: String): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val order = Seq(org.apache.spark.sql.functions.col(orderCol).desc)
        if (!TableIO.exists(spark, outPath)) {
          // create ONLY on the first-ever batch. On any later batch a
          // missing table means state was lost (e.g. a crash between
          // replaceContents' delete and rename) — rebuilding from one
          // micro-batch would silently truncate every prior key, so
          // fail loudly and let the operator restore the table
          if (batchId != 0L) throw new IllegalStateException(
            s"upsert target $outPath missing at batch $batchId — " +
              "refusing to rebuild merged state from a single batch")
          TableIO.overwrite(
            graft.ops.DedupLatest(batch, keys, order), layout, outPath)
        } else {
          val target = TableIO.read(spark, layout, outPath)
          // Upsert dedups its source latest-wins internally
          TableIO.replaceContents(spark, layout,
            graft.ops.Upsert(target, batch, keys, order), outPath)
        }
      }
      .option("checkpointLocation", checkpointPath)
      .queryName("upsert_sink")
      .start()
}
