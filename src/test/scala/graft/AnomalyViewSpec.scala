package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.VersionedTable
import graft.ops.AnomalyView

/** Streaming-maintained anomaly log: the seeded incremental fold must
  * be BIT-IDENTICAL to the q201-shaped batch twin, take the delta path
  * exactly when lineage and event-time order allow it, recompute
  * honestly on late data / parameter changes / rewrites / torn writes,
  * and survive micro-batch replay without double-folding. */
class AnomalyViewSpec extends SparkTestBase {
  import spark.implicits._

  private val Alpha = 0.25
  private val K = 3.0

  private def tmp(): String = {
    val d = java.nio.file.Files
      .createTempDirectory("anomview").toString
    graft.core.Scratch.registerForCleanup(d)
    d
  }

  private def ts(us: Long) = new Timestamp(us / 1000L)

  // test timestamps are given in SECONDS (scaled to µs here): a raw
  // sub-millisecond tick would collapse in java.sql.Timestamp's ms
  // constructor and silently max-merge distinct observations
  private def rows(xs: (String, Long, Double)*): DataFrame =
    xs.map { case (k, t, v) => (k, ts(t * 1000000L), v) }
      .toDF("k", "t", "v")

  private def logSet(logPath: String) =
    AnomalyView.read(spark, logPath).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getBoolean(4))).toSet

  private def twinSet(basePath: String) =
    AnomalyView.anomalyBatch(VersionedTable.read(spark, basePath),
        Seq("k"), "t", "v", Alpha, K).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)),
        r.getBoolean(4))).toSet

  private def maintain(base: String, log: String) =
    AnomalyView.maintainAnomalies(spark, base, log, Seq("k"), "t", "v",
      Alpha, K)

  test("batch twin matches the q201 semantics on a hand series") {
    // series 10, 12, 11, 60: the spike is tested against the PRIOR
    // (mean, var) — it flags; the calm points do not
    val df = rows(("a", 1L, 10.0), ("a", 2L, 12.0), ("a", 3L, 11.0),
      ("a", 4L, 60.0))
    val out = AnomalyView.anomalyBatch(df, Seq("k"), "t", "v", Alpha, K)
      .orderBy("t_us").collect()
    assert(out.length == 4)
    assert(!out(0).getBoolean(4), "warmup must read false")
    assert(out(0).isNullAt(3), "warmup zscore is null")
    assert(!out(1).getBoolean(4) && !out(2).getBoolean(4))
    assert(out(3).getBoolean(4), "the spike must flag")
    // replay the fold by hand for the spike's z-score
    var m = 10.0; var s2 = 0.0
    for (x <- Seq(12.0, 11.0)) {
      val d = x - m
      s2 = 0.75 * (s2 + d * (0.25 * d)); m = m + 0.25 * d
    }
    assert(out(3).getDouble(3) == (60.0 - m) / math.sqrt(s2))
  }

  test("init, incremental extension, noop — modes and exact values") {
    val root = tmp()
    val (base, log) = (s"$root/base", s"$root/log")
    VersionedTable.commitAppend(
      rows(("a", 1L, 10.0), ("a", 2L, 12.0), ("b", 1L, 5.0)), base)
    val r1 = maintain(base, log)
    assert(r1.mode === "init")
    assert(logSet(log) === twinSet(base))
    // strictly-later observations: delta path, log appends only
    VersionedTable.commitAppend(
      rows(("a", 3L, 11.0), ("a", 4L, 60.0), ("b", 2L, 5.5),
        ("c", 1L, 7.0)), base) // c: brand-new key mid-stream
    val r2 = maintain(base, log)
    assert(r2.mode === "incremental")
    assert(r2.filesScanned >= 1)
    assert(logSet(log) === twinSet(base),
      "seeded incremental fold must be bit-identical to the batch twin")
    assert(logSet(log).exists(_._5), "the spike must flag in the log")
    // unchanged base: noop
    assert(maintain(base, log).mode === "noop")
  }

  test("multi-version catch-up folds all pending deltas at once") {
    val root = tmp()
    val (base, log) = (s"$root/base", s"$root/log")
    VersionedTable.commitAppend(rows(("a", 1L, 1.0)), base)
    maintain(base, log)
    VersionedTable.commitAppend(rows(("a", 2L, 2.0)), base)
    VersionedTable.commitAppend(rows(("a", 3L, 4.0)), base)
    val r = maintain(base, log)
    assert(r.mode === "incremental" && r.filesScanned >= 2)
    assert(logSet(log) === twinSet(base))
  }

  test("late or duplicate-timestamp data recomputes honestly") {
    val root = tmp()
    val (base, log) = (s"$root/base", s"$root/log")
    VersionedTable.commitAppend(
      rows(("a", 1L, 10.0), ("a", 3L, 30.0)), base)
    maintain(base, log)
    VersionedTable.commitAppend(rows(("a", 2L, 99.0)), base)
    val r = maintain(base, log)
    assert(r.mode === "full")
    assert(logSet(log) === twinSet(base))
    // duplicate timestamp is late too (max-collapse changes the value)
    VersionedTable.commitAppend(rows(("a", 3L, 77.0)), base)
    assert(maintain(base, log).mode === "full")
    assert(logSet(log) === twinSet(base))
  }

  test("base rewrite and parameter changes fall back to recompute") {
    val root = tmp()
    val (base, log) = (s"$root/base", s"$root/log")
    VersionedTable.commitAppend(
      rows(("a", 1L, 10.0), ("a", 2L, 20.0)), base)
    maintain(base, log)
    VersionedTable.commitOverwrite(
      rows(("a", 1L, 10.0), ("a", 4L, 40.0)), base)
    assert(maintain(base, log).mode === "full")
    assert(logSet(log) === twinSet(base))
    // alpha change is a state change, never a merge of mixed folds
    VersionedTable.commitAppend(rows(("a", 6L, 60.0)), base)
    assert(AnomalyView.maintainAnomalies(spark, base, log, Seq("k"),
      "t", "v", alpha = 0.5, k = K).mode === "full")
    // k change likewise (already-emitted flags would be lies)
    VersionedTable.commitAppend(rows(("a", 8L, 80.0)), base)
    assert(AnomalyView.maintainAnomalies(spark, base, log, Seq("k"),
      "t", "v", alpha = 0.5, k = 2.0).mode === "full")
  }

  test("crash between log append and state overwrite heals, no dupes") {
    val root = tmp()
    val (base, log) = (s"$root/base", s"$root/log")
    VersionedTable.commitAppend(
      rows(("a", 1L, 10.0), ("a", 2L, 30.0)), base)
    maintain(base, log)
    // simulate the torn maintain: log advanced but the state overwrite
    // never happened
    VersionedTable.commitAppend(
      AnomalyView.read(spark, log).limit(1), log)
    VersionedTable.commitAppend(rows(("a", 3L, 50.0)), base)
    val r = maintain(base, log)
    assert(r.mode === "full",
      "log ahead of the state's pin must recompute, not re-fold")
    assert(logSet(log) === twinSet(base),
      "the recompute must heal the torn write (no duplicate rows)")
    // and the system returns to the cheap path afterwards
    VersionedTable.commitAppend(rows(("a", 4L, 70.0)), base)
    assert(maintain(base, log).mode === "incremental")
    assert(logSet(log) === twinSet(base))
  }

  test("streaming sink: micro-batches, catch-up, replay no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tmp()
    val (base, log) = (s"$root/base", s"$root/log")
    val sink = AnomalyView.foreachBatchMaintainAnomalies(
      base, log, Seq("k"), "t", "v", Alpha, K)
    val in = MemoryStream[(String, Long, Double)]
    val q = in.toDF()
      .select(col("_1").as("k"),
        timestamp_micros(col("_2")).as("t"), col("_3").as("v"))
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(sink).start()
    try {
      in.addData(("a", 1L, 10.0), ("b", 1L, 3.0))
      q.processAllAvailable()
      in.addData(("a", 2L, 12.0), ("b", 2L, 3.1))
      q.processAllAvailable()
      in.addData(("a", 3L, 11.0), ("a", 4L, 60.0))
      q.processAllAvailable()
      assert(logSet(log) === twinSet(base),
        "stream-built log must equal the batch twin bit-for-bit")
      assert(logSet(log).exists(_._5), "the spike must flag")
    } finally q.stop()
    // replay of a delivered batch (checkpoint recovery): the commit
    // marker skips the append and the maintain no-ops — log unchanged
    val before = logSet(log)
    val vLog = VersionedTable.latestVersion(spark, log)
    sink(rows(("a", 4L, 60.0)), 2L)
    assert(logSet(log) === before)
    assert(VersionedTable.latestVersion(spark, log) === vLog,
      "replayed batch must not commit a new log version")
  }

  test("a zero-row base overwrite maintains once, then noops") {
    // the view keeps files but no rows, so no row carries the version
    // it reflects: the base holding no rows either makes it current
    val root = tmp()
    val (base, log) = (s"$root/base", s"$root/log")
    val seed = rows(("a", 1L, 10.0), ("a", 2L, 12.0))
    VersionedTable.commitAppend(seed, base)
    assert(maintain(base, log).mode === "init")
    VersionedTable.commitOverwrite(seed.limit(0), base)
    val rs = (1 to 3).map(_ => maintain(base, log))
    assert(rs.map(_.mode) === Seq("full", "noop", "noop"))
    assert(rs.map(_.version).distinct.size === 1)
    assert(rs.head.version === VersionedTable.latestVersion(spark, log))
  }

  test("an emptied base commits an empty view, then noops") {
    val root = tmp()
    val (base, log) = (s"$root/base", s"$root/log")
    VersionedTable.commitAppend(
      rows(("a", 1L, 10.0), ("a", 2L, 12.0)), base)
    assert(maintain(base, log).mode === "init")
    commitNoFiles(base)
    assert(VersionedTable.files(spark, base).isEmpty)
    val r = maintain(base, log)
    assert(r.mode === "full" && r.filesScanned === 0)
    assert(r.version === VersionedTable.latestVersion(spark, log))
    assert(VersionedTable.files(spark, log).isEmpty ||
      AnomalyView.read(spark, log).isEmpty)
    val again = maintain(base, log)
    assert(again.mode === "noop" && again.version === r.version)
  }

  test("a NULL-keyed series recomputes honestly on the delta path") {
    val root = tmp()
    val (base, log) = (s"$root/base", s"$root/log")
    def nrows(xs: (Option[String], Long, Double)*): DataFrame =
      xs.map { case (k, t, v) => (k.orNull, ts(t * 1000000L), v) }
        .toDF("k", "t", "v")
    VersionedTable.commitAppend(
      nrows((Some("a"), 1L, 5.0), (None, 2L, 3.0)), base)
    maintain(base, log)
    assert(logSet(log) === twinSet(base))
    // a strictly-later delta for the NULL key: the plain-equality
    // state joins can't see it — the view must recompute, not fold
    VersionedTable.commitAppend(nrows((None, 5L, 7.0)), base)
    val r = maintain(base, log)
    assert(r.mode === "full",
      "NULL-keyed delta must take the honest recompute path")
    assert(logSet(log) === twinSet(base))
  }

  test("an incremental maintain runs a pinned number of jobs") {
    val root = tmp()
    val (base, log) = (s"$root/base", s"$root/log")
    VersionedTable.commitAppend(
      rows(("a", 1L, 10.0), ("b", 1L, 5.0)), base)
    maintain(base, log)
    VersionedTable.commitAppend(
      rows(("a", 2L, 12.0), ("b", 2L, 5.5)), base)
    var mode = ""
    val jobs = counted { mode = maintain(base, log).mode }.jobs
    assert(mode === "incremental")
    assert(jobs === 17)
  }
}
