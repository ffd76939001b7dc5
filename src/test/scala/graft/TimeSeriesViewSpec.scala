package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.VersionedTable
import graft.ops.TimeSeriesView

/** Streaming-maintained resample+EWMA gold table: the incremental fold
  * must be BIT-IDENTICAL to the batch twin (seed-trick exactness), take
  * the delta path exactly when lineage and event-time order allow it,
  * recompute honestly on late data / parameter changes / rewrites, and
  * survive micro-batch replay without double-folding. */
class TimeSeriesViewSpec extends SparkTestBase {
  import spark.implicits._

  private val Step = 1000000L // 1-second grid
  private val Alpha = 0.3

  private def tmp(): String = {
    val d = java.nio.file.Files
      .createTempDirectory("tsview").toString
    graft.core.Scratch.registerForCleanup(d)
    d
  }

  private def ts(us: Long) = new Timestamp(us / 1000L)

  private def rows(xs: (String, Long, Double)*): DataFrame =
    xs.map { case (k, t, v) => (k, ts(t), v) }.toDF("k", "t", "v")

  private def goldSet(goldPath: String) =
    TimeSeriesView.read(spark, goldPath).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet

  private def twinSet(basePath: String) =
    TimeSeriesView.smoothedBatch(VersionedTable.read(spark, basePath),
        Seq("k"), "t", "v", Step, Alpha).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSet

  private def maintain(base: String, gold: String) =
    TimeSeriesView.maintainSmoothed(spark, base, gold, Seq("k"), "t",
      "v", Step, Alpha)

  test("init, incremental extension, noop — modes and exact values") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    VersionedTable.commitAppend(
      rows(("a", 400000L, 10.0), ("a", 2100000L, 30.0),
        ("b", 500000L, 5.0)), base)
    val r1 = maintain(base, gold)
    assert(r1.mode === "init")
    assert(goldSet(gold) === twinSet(base))
    // strictly-later observations: delta path, gold appends only
    VersionedTable.commitAppend(
      rows(("a", 4700000L, 50.0), ("b", 3200000L, 9.0),
        ("c", 1000000L, 7.0)), base) // c: brand-new key, exact hit
    val r2 = maintain(base, gold)
    assert(r2.mode === "incremental")
    assert(r2.filesScanned >= 1)
    assert(goldSet(gold) === twinSet(base),
      "incremental fold must be bit-identical to the batch twin")
    // unchanged base: noop
    assert(maintain(base, gold).mode === "noop")
  }

  test("multi-version catch-up folds all pending deltas at once") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    VersionedTable.commitAppend(rows(("a", 100000L, 1.0)), base)
    maintain(base, gold)
    // two commits land before the next maintain (crash-between shape)
    VersionedTable.commitAppend(rows(("a", 1500000L, 2.0)), base)
    VersionedTable.commitAppend(rows(("a", 3700000L, 4.0)), base)
    val r = maintain(base, gold)
    assert(r.mode === "incremental" && r.filesScanned >= 2)
    assert(goldSet(gold) === twinSet(base))
  }

  test("late or duplicate-timestamp data recomputes honestly") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    VersionedTable.commitAppend(
      rows(("a", 1000000L, 10.0), ("a", 3000000L, 30.0)), base)
    maintain(base, gold)
    // an observation BEFORE a's recorded last one rewrites history
    VersionedTable.commitAppend(rows(("a", 2000000L, 99.0)), base)
    val r = maintain(base, gold)
    assert(r.mode === "full")
    assert(goldSet(gold) === twinSet(base))
    // duplicate timestamp is late too (max-collapse changes the value)
    VersionedTable.commitAppend(rows(("a", 3000000L, 77.0)), base)
    assert(maintain(base, gold).mode === "full")
    assert(goldSet(gold) === twinSet(base))
  }

  test("base rewrite and parameter changes fall back to recompute") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    VersionedTable.commitAppend(
      rows(("a", 1000000L, 10.0), ("a", 2500000L, 20.0)), base)
    maintain(base, gold)
    // non-nesting lineage (overwrite) invalidates per-file deltas
    VersionedTable.commitOverwrite(
      rows(("a", 1000000L, 10.0), ("a", 4000000L, 40.0)), base)
    assert(maintain(base, gold).mode === "full")
    assert(goldSet(gold) === twinSet(base))
    // alpha change is a state change, never a merge of mixed folds
    VersionedTable.commitAppend(rows(("a", 6000000L, 60.0)), base)
    val r = TimeSeriesView.maintainSmoothed(spark, base, gold, Seq("k"),
      "t", "v", Step, alpha = 0.9)
    assert(r.mode === "full")
    // step change likewise
    VersionedTable.commitAppend(rows(("a", 8000000L, 80.0)), base)
    val r2 = TimeSeriesView.maintainSmoothed(spark, base, gold, Seq("k"),
      "t", "v", stepUs = 2000000L, alpha = 0.9)
    assert(r2.mode === "full")
  }

  test("a key with no aligned grid point yet extends correctly later") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    // span (1.2s, 1.8s) contains no aligned second: zero grid rows
    VersionedTable.commitAppend(
      rows(("a", 1200000L, 12.0), ("a", 1800000L, 18.0)), base)
    maintain(base, gold)
    assert(goldSet(gold).isEmpty)
    // the next batch opens the span: grid starts at ceil(first obs)
    VersionedTable.commitAppend(rows(("a", 4500000L, 45.0)), base)
    val r = maintain(base, gold)
    assert(r.mode === "incremental")
    assert(goldSet(gold) === twinSet(base))
    assert(goldSet(gold).map(_._2) === Set(2000000L, 3000000L, 4000000L))
  }

  test("crash between gold append and state overwrite heals, no dupes") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    VersionedTable.commitAppend(
      rows(("a", 400000L, 10.0), ("a", 2100000L, 30.0)), base)
    maintain(base, gold)
    // simulate the torn maintain: gold advanced (a delta's rows were
    // appended) but the state overwrite never happened — exactly what
    // a crash inside the incremental path leaves behind
    VersionedTable.commitAppend(
      TimeSeriesView.read(spark, gold).limit(1), gold)
    VersionedTable.commitAppend(rows(("a", 4700000L, 50.0)), base)
    val r = maintain(base, gold)
    assert(r.mode === "full",
      "gold ahead of the state's pin must recompute, not re-fold")
    assert(goldSet(gold) === twinSet(base),
      "the recompute must heal the torn write (no duplicate grid rows)")
    // and the system returns to the cheap path afterwards
    VersionedTable.commitAppend(rows(("a", 6300000L, 70.0)), base)
    assert(maintain(base, gold).mode === "incremental")
    assert(goldSet(gold) === twinSet(base))
  }

  test("streaming sink: micro-batches, crash catch-up, replay no-op") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    val sink = TimeSeriesView.foreachBatchMaintainSmoothed(
      base, gold, Seq("k"), "t", "v", Step, Alpha)
    val in = MemoryStream[(String, Long, Double)]
    val q = in.toDF()
      .select(col("_1").as("k"),
        timestamp_micros(col("_2")).as("t"), col("_3").as("v"))
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(sink).start()
    try {
      in.addData(("a", 400000L, 10.0), ("b", 900000L, 3.0))
      q.processAllAvailable()
      in.addData(("a", 2600000L, 26.0), ("b", 3100000L, 31.0))
      q.processAllAvailable()
      in.addData(("a", 5200000L, 52.0))
      q.processAllAvailable()
      assert(goldSet(gold) === twinSet(base),
        "stream-built gold must equal the batch twin bit-for-bit")
    } finally q.stop()
    // replay of a delivered batch (checkpoint recovery): the commit
    // marker skips the append and the maintain no-ops — gold unchanged
    val before = goldSet(gold)
    val vGold = VersionedTable.latestVersion(spark, gold)
    sink(rows(("a", 5200000L, 52.0)), 2L)
    assert(goldSet(gold) === before)
    assert(VersionedTable.latestVersion(spark, gold) === vGold,
      "replayed batch must not commit a new gold version")
  }

  test("a zero-row base overwrite maintains once, then noops") {
    // the view keeps files but no rows, so no row carries the version
    // it reflects: the base holding no rows either makes it current
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    val seed = rows(("a", 400000L, 10.0), ("a", 2100000L, 30.0))
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
      rows(("a", 400000L, 10.0), ("a", 2100000L, 30.0)), base)
    assert(maintain(base, gold).mode === "init")
    commitNoFiles(base)
    assert(VersionedTable.files(spark, base).isEmpty)
    val r = maintain(base, gold)
    assert(r.mode === "full" && r.filesScanned === 0)
    assert(r.version === VersionedTable.latestVersion(spark, gold))
    assert(VersionedTable.files(spark, gold).isEmpty ||
      TimeSeriesView.read(spark, gold).isEmpty)
    val again = maintain(base, gold)
    assert(again.mode === "noop" && again.version === r.version)
  }

  test("a NULL-keyed series recomputes honestly on the delta path") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    def nrows(xs: (Option[String], Long, Double)*): DataFrame =
      xs.map { case (k, t, v) => (k.orNull, ts(t), v) }
        .toDF("k", "t", "v")
    VersionedTable.commitAppend(
      nrows((Some("a"), 400000L, 5.0), (None, 900000L, 3.0)), base)
    maintain(base, gold)
    assert(goldSet(gold) === twinSet(base))
    // a strictly-later delta for the NULL key: the plain-equality
    // state joins can't see it — the view must recompute, not fold
    VersionedTable.commitAppend(nrows((None, 3200000L, 7.0)), base)
    val r = maintain(base, gold)
    assert(r.mode === "full",
      "NULL-keyed delta must take the honest recompute path")
    assert(goldSet(gold) === twinSet(base))
  }

  test("an incremental maintain runs a pinned number of jobs") {
    val root = tmp()
    val (base, gold) = (s"$root/base", s"$root/gold")
    VersionedTable.commitAppend(
      rows(("a", 400000L, 10.0), ("b", 500000L, 5.0)), base)
    maintain(base, gold)
    VersionedTable.commitAppend(
      rows(("a", 2100000L, 30.0), ("b", 3200000L, 9.0)), base)
    var mode = ""
    val jobs = counted { mode = maintain(base, gold).mode }.jobs
    assert(mode === "incremental")
    assert(jobs === 29)
  }
}
