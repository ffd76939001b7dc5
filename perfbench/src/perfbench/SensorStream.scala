package perfbench

import java.sql.Timestamp
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.LakeLayout
import graft.streaming.SensorStreamJob

/** One Kafka record as the Kafka source delivers it. */
final case class KafkaRow(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp)

/** A single-partition MemoryStream that several queries can read: the
  * EP3 topology starts four queries over one source, and the plain
  * MemoryStream drops rows once the first of them commits. Rows stay in
  * memory for the whole run instead. One partition, like a one-partition
  * Kafka topic, rather than one per `addData` call. */
final class SharedMemoryStream[A: Encoder](spark: SparkSession)
    extends MemoryStream[A](SharedMemoryStream.nextId(), spark, Some(1)) {
  override def commit(end: OffsetV2): Unit = ()
}

object SharedMemoryStream {
  private val ids = new java.util.concurrent.atomic.AtomicInteger(1 << 20)
  def nextId(): Int = ids.incrementAndGet()
}

/** The four-query EP3 topology from `SensorStreamJob.start`, fed by an
  * open-loop generator on the benchmark's main thread (the queries run on
  * their own threads) that appends Kafka-envelope rows on a fixed
  * schedule, whatever the queries' progress.
  *
  * Every row carries its due time as its Kafka timestamp (its creation
  * stamp). Event time runs `Compression` times faster than wall time,
  * so 1-minute windows close under the 2-minute watermark within a
  * short run. The rate ladder starts at the reference's design ceiling,
  * 2000 offsets per 10 s trigger (200 events/s); latency is measured on
  * that first rung. The trigger is shortened to 3 s so a short run holds
  * enough micro-batches. It is not shorter because the four queries fire
  * together on each trigger and the slowest of them, the enriched sink,
  * takes 1.2-2 s: with a 2 s trigger it ran back to back in slow runs,
  * every query then shared the cores with it all the time, and batch
  * times differed twofold between runs of the same code. */
final class SensorStream extends Workload {
  import SensorStream._

  override def jobCountersVary: Boolean = true

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val root = ctx.work.resolve("stream")
    val layout = LakeLayout(root.resolve("lake").toString)
    val gen = new Gen(ctx.seed)
    val progress = new StreamProgress
    spark.streams.addListener(progress)

    val (dims, datagenS) = ctx.timed {
      val sc = spark.sparkContext
      sc.setJobDescription(Attribution.BenchLabel + "dimensions")
      try {
        import spark.implicits._
        val poolsPath = root.resolve("dims/pools").toString
        (1 to Pools).map(p => (p, s"pool $p", Owners(p % Owners.size),
            p % 3 == 0)).toDF("pool_id", "pool_name", "owner_type",
            "is_heated")
          .coalesce(1).write.parquet(poolsPath)
        val pricesPath = root.resolve("dims/prices").toString
        (0 until 24).map(h => (java.sql.Date.valueOf(BaseDate), h,
            0.05 + h * 0.004)).toDF("date", "hour", "price_eur_kwh")
          .coalesce(1).write.parquet(pricesPath)
        (spark.read.parquet(poolsPath), spark.read.parquet(pricesPath))
      } finally sc.setJobDescription(null)
    }
    ctx.values("setup.datagen_s") = datagenS

    val source = new SharedMemoryStream[KafkaRow](spark)(
      org.apache.spark.sql.Encoders.product[KafkaRow])
    // chunk k of the source (its offset k) holds rows [start(k), start(k+1))
    val chunkStart = mutable.ArrayBuffer.empty[Int]
    def addChunk(rows: Seq[KafkaRow]): Unit = {
      chunkStart += gen.emitted - rows.size
      source.addData(rows)
    }

    val queries = ctx.spans("streaming.start") {
      SensorStreamJob.start(spark, layout, source.toDF(), dims._1, dims._2,
        triggerSeconds = TriggerSeconds)
    }

    // the open loop: from `from`, rows are due at `rate` per second for
    // `durMs`, whatever the queries' progress; returns the rows' range
    var lateMs = 0L
    def feed(rate: Int, from: Long, durMs: Long): (Int, Int) = {
      val firstRow = gen.emitted
      var sent = 0L
      val total = rate * durMs / 1000
      while (sent < total) {
        val now = System.currentTimeMillis()
        val due = math.min(total, (now - from) * rate / 1000)
        if (due > sent) {
          val firstDue = from + sent * 1000 / rate
          lateMs = math.max(lateMs, now - firstDue)
          addChunk((sent until due).map(i =>
            gen.row(from + i * 1000 / rate, 1000L / rate)))
          sent = due
        }
        Thread.sleep(GeneratorTickMs)
      }
      (firstRow, gen.emitted)
    }

    // set-up: the cold first micro-batch round over one second of input,
    // then a warm-up on the first rung: micro-batch times fall by half
    // over the first tens of seconds while the JIT compiler catches up
    val (_, warmS) = ctx.timed {
      addChunk(gen.rows(System.currentTimeMillis(), Rungs.head._1))
      ctx.attempt("first micro-batch round")(
        awaitOffset(queries, chunkStart.size - 1, WarmupTimeoutMs))
      feed(Rungs.head._1, System.currentTimeMillis(),
        (ctx.seconds * 1000 * WarmupShare).toLong)
    }
    ctx.values("setup.warmup_s") = warmS
    ctx.markSetupDone()

    // the measured rungs follow the warm-up without a pause
    val schedule = Rungs.map { case (rate, share) =>
      (rate, math.max(1000L, (ctx.seconds * 1000 * share).toLong)) }
    val rungBounds = mutable.ArrayBuffer.empty[(Int, Int, Int)]
    var rungStart = System.currentTimeMillis()
    for ((rate, durMs) <- schedule) {
      val (firstRow, endRow) = feed(rate, rungStart, durMs)
      rungBounds += ((rate, firstRow, endRow))
      rungStart += durMs
    }
    val lastOffset = chunkStart.size - 1
    ctx.attempt("drain")(awaitOffset(queries, lastOffset, DrainTimeoutMs))
    ctx.attempt("stop")(stopAll(queries))
    try org.apache.spark.PerfbenchBridge.drainListeners(
      spark.sparkContext, 30000L)
    catch { case scala.util.control.NonFatal(e) =>
      ctx.fail("listener drain", e) }
    progress.errors.foreach { case (q, msg) =>
      ctx.fail(q, new RuntimeException(msg)) }
    // file sinks write outside any plan metric: count their data files
    ctx.counters("streaming.output_files") = Seq(layout.bronze("sensors"),
      layout.silver("sensors"), layout.gold("sensors_minute_agg"),
      layout.gold("sensors_enriched")).map(p => Disk.dataFiles(
        java.nio.file.Paths.get(p))).sum
    ctx.varying += "streaming.output_files"

    val batches = progress.all
    val starts = chunkStart.toIndexedSeq
    // source rows a batch read: offsets (start, end] are chunks
    // start+1 .. end
    val rows: StreamProgress#Batch => Range = b => {
      def at(chunk: Long) =
        if (chunk < starts.size) starts(chunk.toInt) else gen.emitted
      at(b.startOffset + 1) until at(b.endOffset + 1)
    }
    ctx.info("stream_batches") = batches.map(b => Map("query" -> b.query,
      "batch" -> b.batchId, "start_ms" -> b.startMs,
      "durations" -> b.durations, "input_rows" -> b.inputRows,
      "start_offset" -> b.startOffset, "end_offset" -> b.endOffset,
      "watermark_ms" -> b.watermarkMs, "state_rows" -> b.stateRows))
    measure(ctx, gen, batches, rows, rungBounds.toSeq, lateMs)
    checkOutputs(ctx, spark, layout, gen, batches, rows)
  }

  /** Wait until every query has processed source offset `offset`. */
  private def awaitOffset(queries: Seq[StreamingQuery], offset: Int,
      timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done(q: StreamingQuery) = q.recentProgress.exists(p =>
      p.sources.exists(s => Option(s.endOffset).exists(_.trim == offset.toString)))
    while (!queries.forall(done)) {
      queries.foreach(q => q.exception.foreach(e => throw e))
      if (System.currentTimeMillis() > deadline)
        throw new java.util.concurrent.TimeoutException(
          s"queries did not reach offset $offset in $timeoutMs ms")
      Thread.sleep(20)
    }
  }

  /** Stop in reverse start order, each stop bounded. */
  private def stopAll(queries: Seq[StreamingQuery]): Unit =
    queries.reverse.foreach { q =>
      val t = new Thread(() => q.stop())
      t.start()
      t.join(StopTimeoutMs)
      if (t.isAlive) throw new java.util.concurrent.TimeoutException(
        s"query ${q.name} did not stop in $StopTimeoutMs ms")
    }

  private def measure(ctx: Ctx, gen: Gen, batches: Seq[StreamProgress#Batch],
      rows: StreamProgress#Batch => Range, rungs: Seq[(Int, Int, Int)],
      lateMs: Long): Unit = {
    val silver = batches.filter(b => b.query == "silver_sensors" &&
      b.inputRows > 0).sortBy(_.batchId)
    val (_, first0, end0) = rungs.head
    // latency and batch time on the first rung only
    silver.foreach { b =>
      val mine = rows(b).filter(r => r >= first0 && r < end0)
      mine.foreach(r => ctx.sample("event_latency_s",
        (b.commitMs - gen.dueMs(r)) / 1000.0))
      if (mine.nonEmpty)
        ctx.sample("microbatch_s", b.durations("triggerExecution") / 1000.0)
    }
    // the micro-batches of the first rung, each about one trigger's
    // input; a batch that reaches into the next rung holds a share of
    // the faster input that depends on timing, so it is left out
    val measured = silver.filter(b =>
      rows(b).end > first0 && rows(b).end <= end0)
    ctx.values("silver_rows_per_busy_s") =
      measured.map(_.inputRows).sum * 1000.0 /
        measured.map(_.durations("triggerExecution")).sum

    // backlog: rows due but not yet committed by silver, at each commit
    val backlog = silver.map { b =>
      val dueBy = gen.rowsDueBy(b.commitMs)
      b -> math.max(0, dueBy - rows(b).end)
    }
    ctx.counters("stream.backlog_max_rows") =
      if (backlog.isEmpty) 0 else backlog.map(_._2).max
    // a rung is sustained when the backlog at its end is no larger than
    // one trigger's worth of its input
    val sustained = rungs.filter { case (rate, first, end) =>
      val inRung = backlog.filter { case (b, _) =>
        rows(b).end > first && rows(b).end <= end }
      inRung.nonEmpty && inRung.last._2 <= rate * TriggerSeconds
    }
    ctx.values("sustained_events_per_s") =
      if (sustained.isEmpty) 0 else sustained.map(_._1).max
    ctx.counters("stream.generator_late_s") = lateMs / 1000.0
    ctx.counters("stream.batches") = batches.size
    ctx.counters("stream.state_rows") =
      if (batches.isEmpty) 0 else batches.map(_.stateRows).max
    ctx.counters("stream.state_bytes") =
      if (batches.isEmpty) 0 else batches.map(_.stateBytes).max
    ctx.varying ++= Seq("stream.backlog_max_rows", "stream.generator_late_s",
      "stream.batches", "stream.state_rows", "stream.state_bytes")
    ctx.attempted += batches.count(_.inputRows > 0)
  }

  private def checkOutputs(ctx: Ctx, spark: SparkSession, layout: LakeLayout,
      gen: Gen, batches: Seq[StreamProgress#Batch],
      rows: StreamProgress#Batch => Range): Unit = {
    ctx.checkEq("silver rows", gen.validRows.toLong,
      spark.read.parquet(layout.silver("sensors")).count())

    // the aggregation drops a row whose window ended at or before the
    // watermark of the query's previous batch; it emits a window once
    // the watermark passes the window's end
    val agg = batches.filter(_.query == "sensors_minute_agg")
      .sortBy(_.batchId)
    val expected = mutable.Map.empty[(Int, Long), Long]
    var prevWm = 0L
    agg.foreach { b =>
      rows(b).filter(gen.valid).foreach { r =>
        val w = gen.eventMs(r) / 60000L * 60000L
        if (w + 60000L > prevWm) expected((gen.pool(r), w)) =
          expected.getOrElse((gen.pool(r), w), 0L) + 1
      }
      prevWm = b.watermarkMs
    }
    val closed = expected.filter { case ((_, w), _) => w + 60000L <= prevWm }
    val got = spark.read.parquet(layout.gold("sensors_minute_agg"))
      .select(col("pool_id"), col("window_start"), col("num_readings"))
      .collect().map(r => (r.getInt(0), r.getTimestamp(1).getTime) ->
        r.getLong(2)).toMap
    ctx.checkEq("closed gold windows", closed.size.toLong, got.size.toLong)
    val wrong = closed.count { case (k, n) => !got.get(k).contains(n) }
    ctx.checkEq("closed gold window counts that differ", 0L, wrong.toLong)
  }
}

object SensorStream {
  val Pools = 50
  val TriggerSeconds = 3
  val Compression = 30L
  // (events/s, share of the measured seconds)
  val Rungs: Seq[(Int, Double)] = Seq(200 -> 0.8, 800 -> 0.2)
  // unmeasured seconds on the first rung, as a share of the measured ones
  val WarmupShare = 0.75
  val GeneratorTickMs = 50L
  val WarmupTimeoutMs = 120000L
  val DrainTimeoutMs = 60000L
  val StopTimeoutMs = 30000L
  val BaseDate = "2026-01-15"
  val OutOfRangeShare = 0.02
  val OutOfOrderShare = 0.03
  val LateShare = 0.01
  private val Owners = Seq("private", "airbnb", "hotel", "sports_center")
  private val BaseMs = Instant.parse(s"${BaseDate}T00:00:00Z").toEpochMilli
  private val Formats = Seq(
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"),
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"),
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
    .map(_.withZone(ZoneOffset.UTC))

  /** Deterministic row content: row i's pool, event time and values
    * depend only on the seed and i; only its due time is wall-clock. */
  final class Gen(seed: Long) {
    private val rnd = new scala.util.Random(seed)
    private val pools = mutable.ArrayBuffer.empty[Int]
    private val events = mutable.ArrayBuffer.empty[Long]
    private val ok = mutable.ArrayBuffer.empty[Boolean]
    private val due = mutable.ArrayBuffer.empty[Long]
    private var clock = 0L // event-time offset of the schedule, in ms

    def emitted: Int = pools.size
    def pool(i: Int): Int = pools(i)
    def eventMs(i: Int): Long = events(i)
    def valid(i: Int): Boolean = ok(i)
    def validRows: Int = ok.count(identity)
    def dueMs(i: Int): Long = due(i)
    def rowsDueBy(ms: Long): Int = {
      val i = due.indexWhere(_ > ms)
      if (i < 0) due.size else i
    }

    /** One second of rows at `rate`, all due at `dueMs`. */
    def rows(dueMs: Long, rate: Int): Seq[KafkaRow] =
      (0 until rate).map(_ => row(dueMs, 1000L / rate))

    def row(dueMs: Long, stepMs: Long): KafkaRow = {
      val i = pools.size
      val p = 1 + rnd.nextInt(Pools)
      clock += stepMs * Compression
      val u = rnd.nextDouble()
      val back =
        if (u < LateShare) 300000L + rnd.nextInt(300000)
        else if (u < LateShare + OutOfOrderShare) 10000L + rnd.nextInt(80000)
        else 0L
      val ev = (BaseMs + clock - back) / 1000L * 1000L
      val outOfRange = rnd.nextDouble() < OutOfRangeShare
      val ph = if (outOfRange) 15.0 + rnd.nextDouble() else
        7.0 + rnd.nextDouble() * 0.8
      val json = s"""{"pool_id":$p,"sensor_ts":"${Formats(i % 3).format(
        Instant.ofEpochMilli(ev))}","ph":${Num(ph, 3)},"chlorine_mg_l":${
        Num(0.5 + rnd.nextDouble(), 3)},"temp_c":${
        Num(24 + rnd.nextDouble() * 6, 2)},"turbidity_ntu":${
        Num(rnd.nextDouble(), 3)},"water_level_pct":${
        Num(80 + rnd.nextDouble() * 20, 2)},"pump_kwh_est":${
        Num(rnd.nextDouble() * 0.1, 4)}}"""
      pools += p; events += ev; ok += !outOfRange; due += dueMs
      KafkaRow(p.toString.getBytes("UTF-8"), json.getBytes("UTF-8"),
        "smartpool.sensors", 0, i, new Timestamp(dueMs))
    }
  }
}
