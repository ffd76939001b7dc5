package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.{Date, Timestamp}

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery,
  StreamingQueryException, StreamingQueryListener}

import graft.core.LakeLayout
import graft.streaming.{SensorPipeline, SensorStreamJob}

/** A MemoryStream that several queries can read: the plain one drops
  * rows once the first query commits them. */
final class SharedMemoryStream[A: org.apache.spark.sql.Encoder](
    spark: SparkSession)
    extends MemoryStream[A](SharedMemoryStream.nextId(), spark, Some(1)) {
  override def commit(end: OffsetV2): Unit = ()
}

object SharedMemoryStream {
  private val ids = new java.util.concurrent.atomic.AtomicInteger(1 << 24)
  def nextId(): Int = ids.incrementAndGet()
}

/** The EP3 wiring of [[SensorStreamJob]] under a MemoryStream: the
  * topology `start` builds, the gold tables' exactly-once replay through
  * their `_spark_metadata` logs, and the bounded run. */
class SensorStreamJobSpec extends SparkTestBase {
  import spark.implicits._

  private def kafkaRow(poolId: Int, sensorTs: String, ph: Double,
      pump: Double = 0.2): KafkaLike = {
    val json = s"""{"pool_id":$poolId,"sensor_ts":"$sensorTs",""" +
      s""""ph":$ph,"chlorine_mg_l":1.0,"temp_c":25.0,""" +
      s""""turbidity_ntu":1.0,"water_level_pct":90.0,""" +
      s""""pump_kwh_est":$pump}"""
    KafkaLike(poolId.toString.getBytes, json.getBytes, "sensors", 0, 0L,
      Timestamp.valueOf("2026-01-25 10:00:00"))
  }

  private lazy val pools = Seq((1, "Pool A", "hotel", true),
      (2, "Pool B", "private", false))
    .toDF("pool_id", "pool_name", "owner_type", "is_heated")
  private lazy val prices = Seq(
      (Date.valueOf("2026-01-25"), 10, 0.2),
      (Date.valueOf("2026-01-25"), 11, 0.3))
    .toDF("date", "hour", "price_eur_kwh")

  private def start(layout: LakeLayout, mem: SharedMemoryStream[KafkaLike])
      : Seq[StreamingQuery] =
    SensorStreamJob.start(spark, layout, mem.toDF(), pools, prices,
      triggerSeconds = 1)

  private def drain(queries: Seq[StreamingQuery]): Unit =
    queries.foreach(_.processAllAvailable())

  /** Windows 10:00 and 10:01 for two pools, then an event that moves
    * the watermark past both. */
  private def feed(mem: SharedMemoryStream[KafkaLike],
      queries: Seq[StreamingQuery]): Unit = {
    mem.addData(
      kafkaRow(1, "2026-01-25T10:00:10Z", 7.2, pump = 0.5),
      kafkaRow(1, "2026-01-25T10:00:40Z", 7.6, pump = 0.5),
      kafkaRow(2, "2026-01-25T10:00:20Z", 7.1, pump = 1.0),
      kafkaRow(2, "2026-01-25T10:01:30Z", 7.3))
    drain(queries)
    mem.addData(kafkaRow(1, "2026-01-25 10:01:50", 7.4, pump = 0.25))
    drain(queries)
    mem.addData(kafkaRow(1, "2026-01-25T11:10:00Z", 7.3))
    drain(queries)
  }

  private def rowsOf(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.toString).toSeq.sorted

  /** Gold enriched equals batch `goldEnriched` over gold agg, row for
    * row, and neither table holds a window twice. */
  private def assertGold(layout: LakeLayout, windows: Int): Unit = {
    val agg = spark.read.parquet(layout.gold("sensors_minute_agg"))
    val enriched = spark.read.parquet(layout.gold("sensors_enriched"))
    assert(agg.count() == windows)
    assert(agg.select("pool_id", "window_start").distinct().count() ==
      windows)
    assert(enriched.count() == windows)
    val cols = enriched.columns.toSeq
    assert(rowsOf(enriched, cols) ==
      rowsOf(SensorPipeline.goldEnriched(agg, pools, prices), cols))
  }

  private def latestCommit(dir: Path): Long = {
    val ids = Files.list(dir).toArray.map(_.asInstanceOf[Path])
      .map(_.getFileName.toString).filter(_.forall(_.isDigit))
      .map(_.toLong)
    ids.max
  }

  test("start runs 3 queries with one state store; enriched = goldEnriched(agg)") {
    val root = Files.createTempDirectory("graft-ep3").toString
    val layout = LakeLayout(root)
    val mem = new SharedMemoryStream[KafkaLike](spark)
    val queries = start(layout, mem)
    try {
      assert(queries.map(_.name) ==
        Seq("bronze_sensors", "silver_sensors", "sensors_minute_agg"))
      feed(mem, queries)
      assert(queries.map(_.lastProgress.stateOperators.length) ==
        Seq(0, 0, 1))
      // the first batch updates 3 (pool, window) keys; the stateful plan
      // runs once for both gold appends, or its metrics would double
      val firstData = queries(2).recentProgress.find(_.numInputRows == 4)
      assert(firstData.map(_.stateOperators.head.numRowsUpdated) ==
        Some(3L))
    } finally queries.reverse.foreach(_.stop())
    assert(spark.read.parquet(layout.bronze("sensors")).count() == 6)
    assert(spark.read.parquet(layout.silver("sensors")).count() == 6)
    // pool 1: 10:00 (2 readings), 10:01 (1); pool 2: 10:00, 10:01
    assertGold(layout, windows = 4)
    val p1 = spark.read.parquet(layout.gold("sensors_enriched"))
      .filter(col("pool_id") === 1 && minute(col("window_start")) === 0)
      .head()
    assert(p1.getAs[Long]("num_readings") == 2L)
    assert(p1.getAs[String]("pool_name") == "Pool A")
    assert(math.abs(p1.getAs[Double]("energy_cost_est") - 0.2) < 1e-9)
  }

  test("replaying the last agg batch leaves both gold tables free of duplicates") {
    val root = Files.createTempDirectory("graft-ep3-replay").toString
    val layout = LakeLayout(root)
    val mem = new SharedMemoryStream[KafkaLike](spark)
    val first = start(layout, mem)
    try feed(mem, first) finally first.reverse.foreach(_.stop())
    assertGold(layout, windows = 4)

    // crash after the agg append, before the enriched append and the
    // checkpoint commit: the batch replays on restart
    val commits = Paths.get(layout.checkpoints("sensors_minute_agg"),
      "commits")
    val last = latestCommit(commits)
    deleteEntry(commits, last.toString)
    val enrichedLog = Paths.get(layout.gold("sensors_enriched"),
      "_spark_metadata")
    deleteEntry(enrichedLog, last.toString)

    val again = start(layout, mem)
    try drain(again) finally again.reverse.foreach(_.stop())
    assert(Files.exists(enrichedLog.resolve(last.toString)),
      "the replay did not rewrite the enriched batch")
    assert(latestCommit(commits) >= last)
    assertGold(layout, windows = 4)
  }

  test("an enriched log ahead of the agg log fails start, no query starts") {
    val root = Files.createTempDirectory("graft-ep3-ahead").toString
    val layout = LakeLayout(root)
    val log = Paths.get(layout.gold("sensors_enriched"), "_spark_metadata")
    Files.createDirectories(log)
    Files.write(log.resolve("0"), "v1".getBytes("UTF-8"))
    val before = spark.streams.active.length
    val e = intercept[IllegalStateException](
      start(layout, new SharedMemoryStream[KafkaLike](spark)))
    assert(e.getMessage.contains(layout.gold("sensors_enriched")))
    assert(e.getMessage.contains(layout.gold("sensors_minute_agg")))
    assert(spark.streams.active.length == before)
  }

  test("dim-refresh sink: a replayed batch is not appended twice") {
    val root = Files.createTempDirectory("graft-dimrefresh-replay").toString
    val dimPath = s"$root/dim"
    val outPath = s"$root/out"
    val chk = s"$root/_chk"
    Seq((1, "v1"), (2, "v1")).toDF("user_id", "tag").write.parquet(dimPath)
    val mem = new SharedMemoryStream[(Int, Double)](spark)
    def run(feed: StreamingQuery => Unit): Unit = {
      val q = SensorStreamJob.startWithDimRefresh(
        mem.toDF().toDF("user_id", "value"), dimPath,
        Seq("user_id"), outPath, chk)
      try { feed(q); q.processAllAvailable() } finally q.stop()
    }
    run { q =>
      mem.addData((1, 10.0))
      q.processAllAvailable()
      mem.addData((2, 20.0))
    }
    val commits = Paths.get(chk, "commits")
    deleteEntry(commits, latestCommit(commits).toString)
    run(_ => ())
    val out = spark.read.parquet(outPath).orderBy("value").collect()
      .map(r => (r.getAs[Double]("value"), r.getAs[String]("tag"))).toSeq
    assert(out == Seq((10.0, "v1"), (20.0, "v1")))
  }

  test("dim-refresh sink refuses an output written without a metadata log") {
    val root = Files.createTempDirectory("graft-dimrefresh-nolog").toString
    val outPath = s"$root/out"
    Seq((1, 10.0)).toDF("user_id", "value").write.parquet(outPath)
    val e = intercept[IllegalStateException](
      SensorStreamJob.startWithDimRefresh(
        new SharedMemoryStream[(Int, Double)](spark).toDF()
          .toDF("user_id", "value"),
        s"$root/dim", Seq("user_id"), outPath,
        s"$root/_chk"))
    assert(e.getMessage.contains(outPath))
    // nothing hid the existing rows
    assert(!Files.exists(Paths.get(outPath, "_spark_metadata")))
    assert(spark.read.parquet(outPath).count() == 1)
  }

  test("runBounded fails with the cause of a query that died mid-run") {
    val mem = new SharedMemoryStream[Int](spark)
    val boom = new IllegalStateException("sink exploded")
    val q = mem.toDF().writeStream
      .foreachBatch { (_: DataFrame, _: Long) => throw boom }
      .queryName("dies_mid_run").start()
    mem.addData(1)
    val t0 = System.nanoTime()
    val e = intercept[StreamingQueryException](
      SensorStreamJob.runBounded(Seq(q), runSeconds = 60))
    assert((System.nanoTime() - t0) / 1e9 < 30, "did not end early")
    assert(!q.isActive)
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .contains(boom))
  }

  test("runBounded stops healthy queries in reverse order") {
    val mem = new SharedMemoryStream[Int](spark)
    val stopped = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new StreamingQueryListener {
      import StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        stopped.add(e.id.toString)
    }
    spark.streams.addListener(listener)
    val qs = Seq("a", "b").map(n => mem.toDF().writeStream.format("noop")
      .queryName(s"bounded_$n").start())
    SensorStreamJob.runBounded(qs, runSeconds = 1)
    assert(qs.forall(!_.isActive))
    GraftBridge.waitListenerEmpty(spark)
    spark.streams.removeListener(listener)
    assert(stopped.toArray.toSeq.map(_.toString)
      .filter(id => qs.exists(_.id.toString == id)) ==
      qs.reverse.map(_.id.toString))
  }
}
