package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.VersionedTable
import graft.ops.OhlcView

/** Incrementally maintained OHLC bars: the merge algebra must be
  * BIT-IDENTICAL to the batch twin — including a delta that extends a
  * key's OPEN bar in place — take the delta path exactly when lineage
  * and event-time order allow it, and recompute honestly otherwise. */
class OhlcViewSpec extends SparkTestBase {
  import spark.implicits._

  private val Bucket = 10000000L // 10-second bars (µs)

  private def tmp(): String = {
    val d = java.nio.file.Files
      .createTempDirectory("ohlcview").toString
    graft.core.Scratch.registerForCleanup(d)
    d
  }

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  // timestamps in SECONDS (ms-constructor truncation trap)
  private def rows(xs: (String, Long, Double)*): DataFrame =
    xs.map { case (k, t, v) => (k, ts(t), v) }.toDF("k", "t", "v")

  private def asSet(df: DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6),
      r.getDouble(7), r.getDouble(8))).toSet

  private def goldSet(goldPath: String) =
    asSet(OhlcView.read(spark, goldPath))

  private def twinSet(basePath: String) =
    asSet(OhlcView.ohlcBatch(VersionedTable.read(spark, basePath),
      Seq("k"), "t", "v", Bucket))

  private def maintain(base: String, gold: String) =
    OhlcView.maintainOhlc(spark, base, gold, Seq("k"), "t", "v", Bucket)

  test("batch twin: bars, endpoints, extremes on a hand series") {
    // key a, bucket [0s,10s): obs at 1s,4s,9s; bucket [10s,20s): 12s
    val df = rows(("a", 1L, 5.0), ("a", 4L, 9.0), ("a", 9L, 2.0),
      ("a", 12L, 7.0))
    val out = OhlcView.ohlcBatch(df, Seq("k"), "t", "v", Bucket)
      .orderBy("bucket_us").collect()
    assert(out.length == 2)
    val b0 = out(0)
    assert(b0.getLong(2) == 3L) // n
    assert(b0.getDouble(5) == 5.0 && b0.getDouble(6) == 9.0 &&
      b0.getDouble(7) == 2.0 && b0.getDouble(8) == 2.0,
      "open/high/low/close")
    assert(out(1).getLong(2) == 1L && out(1).getDouble(5) == 7.0)
  }

  test("init, open-bar extension, new buckets, noop — exact values") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    VersionedTable.commitAppend(
      rows(("a", 1L, 5.0), ("a", 4L, 9.0), ("b", 2L, 3.0)), base)
    val r1 = maintain(base, gold)
    assert(r1.mode === "init")
    assert(goldSet(gold) === twinSet(base))
    // the delta EXTENDS a's open [0s,10s) bar (close/high move) AND
    // opens a new [10s,20s) bar AND a brand-new key appears
    VersionedTable.commitAppend(
      rows(("a", 7L, 11.0), ("a", 13L, 6.0), ("c", 1L, 1.0)), base)
    val r2 = maintain(base, gold)
    assert(r2.mode === "incremental" && r2.filesScanned >= 1)
    assert(goldSet(gold) === twinSet(base),
      "merged bars must be bit-identical to the batch twin")
    // spot-check the rewritten open bar: high absorbed 11, close is 11
    val bar0 = OhlcView.read(spark, gold)
      .filter(col("k") === "a" && col("bucket_us") === 0L)
      .collect().head
    assert(bar0.getLong(2) == 3L && bar0.getDouble(6) == 11.0 &&
      bar0.getDouble(8) == 11.0)
    assert(maintain(base, gold).mode === "noop")
  }

  test("multi-version catch-up merges all pending deltas at once") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    VersionedTable.commitAppend(rows(("a", 1L, 1.0)), base)
    maintain(base, gold)
    VersionedTable.commitAppend(rows(("a", 5L, 2.0)), base)
    VersionedTable.commitAppend(rows(("a", 15L, 4.0)), base)
    val r = maintain(base, gold)
    assert(r.mode === "incremental" && r.filesScanned >= 2)
    assert(goldSet(gold) === twinSet(base))
  }

  test("late or duplicate-timestamp data recomputes honestly") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    VersionedTable.commitAppend(
      rows(("a", 1L, 10.0), ("a", 9L, 30.0)), base)
    maintain(base, gold)
    // late: before a's last absorbed observation
    VersionedTable.commitAppend(rows(("a", 5L, 99.0)), base)
    assert(maintain(base, gold).mode === "full")
    assert(goldSet(gold) === twinSet(base))
    // duplicate timestamp: max-collapse crosses the delta boundary
    VersionedTable.commitAppend(rows(("a", 9L, 77.0)), base)
    assert(maintain(base, gold).mode === "full")
    assert(goldSet(gold) === twinSet(base))
  }

  test("rewrites, RESTORE-shape backsteps and width changes recompute") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    VersionedTable.commitAppend(
      rows(("a", 1L, 10.0), ("a", 12L, 20.0)), base)
    maintain(base, gold)
    VersionedTable.commitOverwrite(
      rows(("a", 1L, 10.0), ("a", 22L, 40.0)), base)
    assert(maintain(base, gold).mode === "full")
    assert(goldSet(gold) === twinSet(base))
    // a bucket-width change is a state change, never a mixed merge
    VersionedTable.commitAppend(rows(("a", 31L, 60.0)), base)
    val r = OhlcView.maintainOhlc(spark, base, gold, Seq("k"), "t",
      "v", bucketUs = 20000000L)
    assert(r.mode === "full")
  }

  test("a NULL-keyed series recomputes honestly on the delta path") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    def nrows(xs: (Option[String], Long, Double)*): DataFrame =
      xs.map { case (k, t, v) => (k.orNull, ts(t), v) }
        .toDF("k", "t", "v")
    VersionedTable.commitAppend(
      nrows((Some("a"), 1L, 5.0), (None, 2L, 3.0)), base)
    maintain(base, gold)
    assert(goldSet(gold) === twinSet(base))
    // a strictly-later delta for the NULL key: the plain-equality
    // guard join can't see it — the view must recompute, not merge
    VersionedTable.commitAppend(nrows((None, 12L, 7.0)), base)
    val r = maintain(base, gold)
    assert(r.mode === "full",
      "NULL-keyed delta must take the honest recompute path")
    assert(goldSet(gold) === twinSet(base))
  }

  test("streaming sink: micro-batches, open-bar rewrites, replay noop") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    val sink = OhlcView.foreachBatchMaintainOhlc(
      base, gold, Seq("k"), "t", "v", Bucket)
    val in = MemoryStream[(String, Long, Double)]
    val q = in.toDF()
      .select(col("_1").as("k"),
        timestamp_micros(col("_2") * lit(1000000L)).as("t"),
        col("_3").as("v"))
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(sink).start()
    try {
      in.addData(("a", 1L, 5.0), ("b", 2L, 3.0))
      q.processAllAvailable()
      in.addData(("a", 4L, 9.0), ("a", 12L, 7.0))
      q.processAllAvailable()
      in.addData(("a", 15L, 2.0), ("b", 11L, 4.0))
      q.processAllAvailable()
      assert(goldSet(gold) === twinSet(base),
        "stream-built bars must equal the batch twin bit-for-bit")
    } finally q.stop()
    val before = goldSet(gold)
    val vGold = VersionedTable.latestVersion(spark, gold)
    sink(rows(("a", 15L, 2.0)), 2L)
    assert(goldSet(gold) === before)
    assert(VersionedTable.latestVersion(spark, gold) === vGold,
      "replayed batch must not commit a new gold version")
  }

  test("a zero-row base overwrite maintains once, then noops") {
    // the view keeps files but no rows, so no row carries the version
    // it reflects: the base holding no rows either makes it current
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    val seed = rows(("a", 1L, 5.0), ("b", 2L, 3.0))
    VersionedTable.commitAppend(seed, base)
    assert(maintain(base, gold).mode === "init")
    VersionedTable.commitOverwrite(seed.limit(0), base)
    val rs = (1 to 3).map(_ => maintain(base, gold))
    assert(rs.map(_.mode) === Seq("full", "noop", "noop"))
    assert(rs.map(_.version).distinct.size === 1)
    assert(rs.head.version === VersionedTable.latestVersion(spark, gold))
  }

  test("an emptied base commits an empty view, then noops") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    VersionedTable.commitAppend(
      rows(("a", 1L, 5.0), ("b", 2L, 3.0)), base)
    assert(maintain(base, gold).mode === "init")
    commitNoFiles(base)
    assert(VersionedTable.files(spark, base).isEmpty)
    val r = maintain(base, gold)
    assert(r.mode === "full" && r.filesScanned === 0)
    assert(r.version === VersionedTable.latestVersion(spark, gold))
    assert(VersionedTable.files(spark, gold).isEmpty ||
      OhlcView.read(spark, gold).isEmpty)
    val again = maintain(base, gold)
    assert(again.mode === "noop" && again.version === r.version)
  }

  test("a target without __base_version fails loudly, untouched") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    VersionedTable.commitAppend(rows(("a", 1L, 5.0)), base)
    // some other table already lives at the view's path
    VersionedTable.commitAppend(rows(("x", 9L, 1.0)), gold)
    val e = intercept[IllegalArgumentException](maintain(base, gold))
    assert(e.getMessage.contains("__base_version"))
    assert(VersionedTable.latestVersion(spark, gold) === 1)
  }

  test("an incremental maintain runs a pinned number of jobs") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    VersionedTable.commitAppend(
      rows(("a", 1L, 5.0), ("b", 2L, 3.0)), base)
    maintain(base, gold)
    VersionedTable.commitAppend(
      rows(("a", 7L, 11.0), ("b", 13L, 6.0)), base)
    var mode = ""
    val jobs = counted { mode = maintain(base, gold).mode }.jobs
    assert(mode === "incremental")
    assert(jobs === 11)
  }
}
