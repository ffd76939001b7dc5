package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.SensorPipeline

/** EP3 streaming topology under MemoryStream (SURVEY.md §5 d):
  * watermark/window emission is tested by advancing event time past
  * window.end + watermark with crafted timestamps — no wall clock. */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  /** Kafka-envelope-shaped row carrying a sensor JSON payload. */
  private def kafkaRow(poolId: Int, sensorTs: String, ph: Double,
      chlorine: Double = 1.0, pump: Double = 0.2): KafkaLike = {
    val json = s"""{"pool_id":$poolId,"sensor_ts":"$sensorTs",""" +
      s""""ph":$ph,"chlorine_mg_l":$chlorine,"temp_c":25.0,""" +
      s""""turbidity_ntu":1.0,"water_level_pct":90.0,""" +
      s""""pump_kwh_est":$pump}"""
    KafkaLike(poolId.toString.getBytes, json.getBytes, "sensors", 0, 0L,
      Timestamp.valueOf("2026-01-25 10:00:00"))
  }

  test("bronze→silver parses multi-format ts and drops out-of-range") {
    val rows = Seq(
      kafkaRow(1, "2026-01-25T10:00:05.123+01:00", 7.4), // ISO w/ offset
      kafkaRow(1, "2026-01-25T10:00:06Z", 7.5),          // ISO Z
      kafkaRow(2, "2026-01-25 10:00:07", 7.2),           // space sep
      kafkaRow(3, "2026-01-25T10:00:08Z", 99.0))         // invalid pH
    val bronze = SensorPipeline.bronze(rows.toDF())
    val silver = SensorPipeline.silver(bronze)
    val got = silver.select("pool_id", "ph").orderBy("pool_id", "ph")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(got == Seq((1, 7.4), (1, 7.5), (2, 7.2))) // pH 99 dropped
    // offset-aware parse: +01:00 ts lands at 09:00:05 UTC
    val t = silver.filter(col("ph") === 7.4)
      .select(date_format(col("sensor_ts"),
        "yyyy-MM-dd HH:mm:ss").as("s")).as[String].head()
    assert(t == "2026-01-25 09:00:05")
  }

  test("windowed agg emits closed windows in append mode via watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KafkaLike]
    val silver = SensorPipeline.silver(
      SensorPipeline.bronze(mem.toDF()), watermark = "2 minutes")
    val gold = SensorPipeline.goldMinuteAgg(silver)
    // default micro-batch trigger: AvailableNow would terminate before
    // the second addData, and the window only emits on the no-data
    // batch that follows the watermark advance
    val q = gold.writeStream.format("memory").queryName("gold_agg")
      .outputMode("append").start()

    // window [10:00,10:01): 2 readings for pool 1
    mem.addData(
      kafkaRow(1, "2026-01-25T10:00:10Z", 7.2, pump = 0.5),
      kafkaRow(1, "2026-01-25T10:00:40Z", 7.6, pump = 0.5))
    q.processAllAvailable()
    // nothing emitted yet: watermark hasn't passed 10:01 + 2min
    assert(spark.table("gold_agg").isEmpty)

    // late-ish event far ahead pushes watermark past the first window
    mem.addData(kafkaRow(1, "2026-01-25T10:05:00Z", 7.3))
    q.processAllAvailable()
    val out = spark.table("gold_agg").collect()
    q.stop()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("num_readings") == 2L)
    assert(math.abs(r.getAs[Double]("avg_ph") - 7.4) < 1e-9)
    assert(math.abs(r.getAs[Double]("pump_kwh_sum") - 1.0) < 1e-9)
    assert(!r.getAs[Boolean]("ph_out_of_range"))
  }

  test("foreachBatch dim refresh sees a dim update in the next batch") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files
      .createTempDirectory("graft-dimrefresh").toString
    val dimPath = s"$root/dim"
    val outPath = s"$root/out"
    Seq((1, "v1")).toDF("user_id", "tag")
      .write.parquet(dimPath)

    val mem = MemoryStream[(Int, Double)]
    val stream = mem.toDF().toDF("user_id", "value")
    val q = graft.streaming.SensorStreamJob.startWithDimRefresh(
      stream, dimPath, Seq("user_id"), outPath,
      s"$root/_chk")
    mem.addData((1, 10.0))
    q.processAllAvailable()
    // update the dim WHILE the query runs — next batch must see it
    Seq((1, "v2")).toDF("user_id", "tag")
      .write.mode("overwrite").parquet(dimPath)
    // the dim's schema comes from its footer on the driver, so a
    // micro-batch starts no schema-inference job (3 jobs with one)
    val c = counted { mem.addData((1, 20.0)); q.processAllAvailable() }
    q.stop()
    assert(c.jobs == 2, c)
    val out = spark.read.parquet(outPath)
      .orderBy("value").collect()
      .map(r => (r.getAs[Double]("value"), r.getAs[String]("tag")))
    assert(out.toSeq == Seq((10.0, "v1"), (20.0, "v2")))
  }

  test("console sink runs as a debug tap on a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Int, Double)]
    val q = graft.streaming.SensorStreamJob.consoleSink(
      mem.toDF().toDF("user_id", "value"), numRows = 5,
      triggerSeconds = 1)
    mem.addData((1, 1.0), (2, 2.0))
    q.processAllAvailable()
    q.stop()
    assert(q.recentProgress.nonEmpty)
  }

  test("stream-static enrichment joins dims and prices, computes cost") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[KafkaLike]
    val pools = Seq((1, "Pool A", "hotel", true), (1, "dup-row", "x", false))
      .toDF("pool_id", "pool_name", "owner_type", "is_heated")
    val prices = Seq(
      (java.sql.Date.valueOf("2026-01-25"), 10, 0.2))
      .toDF("date", "hour", "price_eur_kwh")
    val silver = SensorPipeline.silver(
      SensorPipeline.bronze(mem.toDF()))
    val enriched = SensorPipeline.goldEnriched(
      SensorPipeline.goldMinuteAgg(silver), pools, prices)
    val q = enriched.writeStream.format("memory").queryName("gold_enr")
      .outputMode("append").start()
    mem.addData(kafkaRow(1, "2026-01-25T10:00:10Z", 7.2, pump = 2.0))
    q.processAllAvailable()
    mem.addData(kafkaRow(1, "2026-01-25T10:10:00Z", 7.3)) // wm pusher
    q.processAllAvailable()
    val out = spark.table("gold_enr").collect()
    q.stop()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("pool_name") == "Pool A") // deduped dim
    assert(math.abs(r.getAs[Double]("energy_cost_est") - 0.4) < 1e-9)
  }
}

case class KafkaLike(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp)
