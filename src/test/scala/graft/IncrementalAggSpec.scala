package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.core.VersionedTable
import graft.ops.IncrementalAgg

/** Incremental aggregate maintenance: the delta path must be
  * indistinguishable from recompute, take the cheap path exactly when
  * the lineage allows it, and fall back honestly when it doesn't. */
class IncrementalAggSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String = {
    val d = java.nio.file.Files
      .createTempDirectory("incagg").toString
    graft.core.Scratch.registerForCleanup(d)
    d
  }

  private def recompute(basePath: String): DataFrame =
    VersionedTable.read(spark, basePath)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("v"), lit(0L))).as("sum_val"))

  private def asMap(df: DataFrame): Map[Option[String], (Long, Long)] =
    df.collect().map(r => (Option(r.getAs[String]("k")),
      (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_val")))).toMap

  test("init, incremental appends, noop — modes and values") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(
      Seq(("a", 1L), ("a", 2L), ("b", 10L)).toDF("k", "v"), base)
    val r1 = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    assert(r1.mode === "init")
    assert(asMap(IncrementalAgg.read(spark, agg)) ===
      Map(Some("a") -> ((2L, 3L)), Some("b") -> ((1L, 10L))))

    VersionedTable.commitAppend(
      Seq(("b", 5L), ("c", 7L)).toDF("k", "v"), base)
    val r2 = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    assert(r2.mode === "incremental")
    assert(r2.filesScanned > 0 &&
      r2.filesScanned < VersionedTable.files(spark, base).size,
      "delta refresh must scan only the appended files")
    assert(asMap(IncrementalAgg.read(spark, agg)) ===
      Map(Some("a") -> ((2L, 3L)), Some("b") -> ((2L, 15L)),
        Some("c") -> ((1L, 7L))))

    val r3 = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    assert(r3.mode === "noop" && r3.filesScanned === 0)
  }

  test("null keys and null values merge correctly") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(Seq(
      (Option("a"), Option(1L)), (Option.empty[String], Option(4L)),
      (Option("a"), Option.empty[Long])).toDF("k", "v"), base)
    IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    VersionedTable.commitAppend(Seq(
      (Option.empty[String], Option(6L)),
      (Option.empty[String], Option.empty[Long])).toDF("k", "v"), base)
    val r = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    assert(r.mode === "incremental")
    // the NULL-keyed group must merge into ONE row (null-safe match),
    // null values count rows but add 0
    assert(asMap(IncrementalAgg.read(spark, agg)) ===
      Map(Some("a") -> ((2L, 1L)), None -> ((3L, 10L))))
  }

  test("overwrite lineage falls back to full recompute") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), base)
    IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    VersionedTable.commitOverwrite(Seq(("c", 9L)).toDF("k", "v"), base)
    val r = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    assert(r.mode === "full")
    assert(asMap(IncrementalAgg.read(spark, agg)) ===
      Map(Some("c") -> ((1L, 9L))))
  }

  test("merge lineage (rewrites files) falls back and stays correct") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), base)
    IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    VersionedTable.commitMerge(
      Seq(("b", 20L)).toDF("k", "v"), base, Seq("k"))
    val r = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    assert(r.mode === "full")
    assert(asMap(IncrementalAgg.read(spark, agg)) ===
      Map(Some("a") -> ((1L, 1L)), Some("b") -> ((1L, 20L))))
  }

  test("restore moving the base backward recomputes") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(Seq(("a", 1L)).toDF("k", "v"), base)
    VersionedTable.commitAppend(Seq(("b", 2L)).toDF("k", "v"), base)
    IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    // restore to v1 — a new version whose file set does NOT contain
    // the reflected version's files
    VersionedTable.restore(spark, base, 1)
    val r = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    assert(r.mode === "full")
    assert(asMap(IncrementalAgg.read(spark, agg)) ===
      Map(Some("a") -> ((1L, 1L))))
  }

  test("double value column is rejected (order-free sums only)") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(Seq(("a", 1.5)).toDF("k", "v"), base)
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("streaming foreachBatch: exactly-once under replay, crash-safe") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    val sink = IncrementalAgg.foreachBatchMaintain(
      base, agg, Seq("k"), "v")
    sink(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), 0L)
    sink(Seq(("a", 10L)).toDF("k", "v"), 1L)
    assert(asMap(IncrementalAgg.read(spark, agg)) ===
      Map(Some("a") -> ((2L, 11L)), Some("b") -> ((1L, 2L))))
    // replay of batch 1 (checkpoint recovery re-delivers): the commit
    // marker skips the append and maintain no-ops — no double count
    sink(Seq(("a", 10L)).toDF("k", "v"), 1L)
    assert(asMap(IncrementalAgg.read(spark, agg)) ===
      Map(Some("a") -> ((2L, 11L)), Some("b") -> ((1L, 2L))))
    // crash between append and maintain: batch 2 lands in the base
    // only; the NEXT batch's maintain must fold BOTH versions in
    VersionedTable.foreachBatchAppend(base)(
      Seq(("c", 5L)).toDF("k", "v"), 2L)
    sink(Seq(("b", 3L)).toDF("k", "v"), 3L)
    assert(asMap(IncrementalAgg.read(spark, agg)) ===
      Map(Some("a") -> ((2L, 11L)), Some("b") -> ((2L, 5L)),
        Some("c") -> ((1L, 5L))))
  }

  test("streaming foreachBatch: live MemoryStream end-to-end") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    val in = MemoryStream[(String, Long)]
    val q = in.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(IncrementalAgg.foreachBatchMaintain(
        base, agg, Seq("k"), "v"))
      .start()
    try {
      in.addData(("a", 1L), ("b", 2L)); q.processAllAvailable()
      in.addData(("b", 8L)); q.processAllAvailable()
      assert(asMap(IncrementalAgg.read(spark, agg)) ===
        asMap(recompute(base)))
      assert(asMap(IncrementalAgg.read(spark, agg)) ===
        Map(Some("a") -> ((1L, 1L)), Some("b") -> ((2L, 10L))))
    } finally q.stop()
  }

  test("maintains over a shallow clone: nesting holds across roots") {
    val root = tmp()
    val (src, cl, agg) = (s"$root/src", s"$root/clone", s"$root/agg")
    VersionedTable.commitAppend(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), src)
    VersionedTable.cloneFrom(spark, src, cl)
    IncrementalAgg.maintain(spark, cl, agg, Seq("k"), "v")
    // the clone's next append nests over manifests whose carried
    // files live under the SOURCE's data dir — the delta path must
    // still detect nesting (paths are absolute) and scan only the
    // clone-local new files
    VersionedTable.commitAppend(Seq(("b", 5L)).toDF("k", "v"), cl)
    val r = IncrementalAgg.maintain(spark, cl, agg, Seq("k"), "v")
    assert(r.mode === "incremental")
    assert(asMap(IncrementalAgg.read(spark, agg)) ===
      Map(Some("a") -> ((1L, 1L)), Some("b") -> ((2L, 7L))))
  }

  test("property: any append sequence equals recompute") {
    val batchGen = Gen.choose(0, 6).flatMap(n => Gen.listOfN(n,
      for {
        k <- Gen.oneOf("a", "b", "c", "d")
        v <- Gen.choose(-50L, 50L)
      } yield (k, v)))
    val seqGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, batchGen))
    for (i <- 0 until 8) {
      val batches = seqGen.pureApply(Gen.Parameters.default, Seed(i))
      val root = tmp()
      val (base, agg) = (s"$root/base", s"$root/agg")
      batches.foreach { b =>
        VersionedTable.commitAppend(
          spark.createDataFrame(b).toDF("k", "v"), base)
        IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
      }
      if (batches.exists(_.nonEmpty))
        assert(asMap(IncrementalAgg.read(spark, agg)) ===
          asMap(recompute(base)), s"seed=$i batches=$batches")
    }
  }

  private def asMinMaxMap(df: DataFrame)
      : Map[Option[String], (Long, Long, Long, Long)] =
    df.collect().map(r => (Option(r.getAs[String]("k")),
      (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_val"),
        r.getAs[Long]("min_val"), r.getAs[Long]("max_val")))).toMap

  private def recomputeMinMax(basePath: String): DataFrame =
    VersionedTable.read(spark, basePath)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_rows"),
        sum(coalesce(col("v"), lit(0L))).as("sum_val"),
        min(col("v")).as("min_val"), max(col("v")).as("max_val"))

  test("minMax: any append sequence equals recompute") {
    val batchGen = Gen.choose(1, 6).flatMap(n => Gen.listOfN(n,
      for {
        k <- Gen.oneOf("a", "b", "c")
        v <- Gen.choose(-50L, 50L)
      } yield (k, v)))
    val seqGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, batchGen))
    for (i <- 100 until 106) {
      val batches = seqGen.pureApply(Gen.Parameters.default, Seed(i))
      val root = tmp()
      val (base, agg) = (s"$root/base", s"$root/agg")
      var first = true
      batches.foreach { b =>
        VersionedTable.commitAppend(
          spark.createDataFrame(b).toDF("k", "v"), base)
        val r = IncrementalAgg.maintain(spark, base, agg, Seq("k"),
          "v", minMax = true)
        assert(r.mode == (if (first) "init" else "incremental"))
        first = false
      }
      assert(asMinMaxMap(IncrementalAgg.read(spark, agg)) ===
        asMinMaxMap(recomputeMinMax(base)), s"seed=$i")
    }
  }

  test("minMax: delete lineage falls back — a retired extremum heals") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(
      Seq(("a", 100L), ("a", 1L), ("b", 7L)).toDF("k", "v"), base)
    IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v",
      minMax = true)
    // delete the row holding a's max: a merge-style lineage (file set
    // rewritten) must recompute, or max_val would stay 100
    VersionedTable.commitDelete(spark, base,
      Seq(100L).toDF("v"), Seq("v"))
    val r = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v",
      minMax = true)
    assert(r.mode == "full")
    val m = asMinMaxMap(IncrementalAgg.read(spark, agg))
    assert(m(Some("a")) === ((1L, 1L, 1L, 1L)))
    assert(m(Some("b")) === ((1L, 7L, 7L, 7L)))
  }

  test("minMax setting change mid-life recomputes under the new shape") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(Seq(("a", 5L)).toDF("k", "v"), base)
    IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    VersionedTable.commitAppend(Seq(("a", 9L)).toDF("k", "v"), base)
    val r = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v",
      minMax = true)
    assert(r.mode == "full") // schema change, not a delta
    val m = asMinMaxMap(IncrementalAgg.read(spark, agg))
    assert(m(Some("a")) === ((2L, 14L, 5L, 9L)))
  }

  test("sketch view: delta-merged sketches stay inside the envelope") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    // three appends, values 0..999 interleaved so every batch spans
    // the whole range (the hard case for quantile merge)
    val batches = (0 until 3).map(i =>
      (0 until 1000).filter(_ % 3 == i).map(v =>
        ("t" + (v % 2), v.toLong, v.toDouble)))
    var first = true
    batches.foreach { b =>
      VersionedTable.commitAppend(
        spark.createDataFrame(b).toDF("k", "u", "v"), base)
      val r = IncrementalAgg.maintainSketch(spark, base, agg,
        Seq("k"), "u", "v")
      assert(r.mode == (if (first) "init" else "incremental"))
      first = false
    }
    val sk = IncrementalAgg.readSketch(spark, agg, Seq(0.5, 0.95))
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Long]("n_rows"),
          r.getAs[Long]("approx_distinct").toDouble,
          r.getAs[Double]("p50"), r.getAs[Double]("p95"))).toMap
    for (k <- Seq("t0", "t1")) {
      val (n, nd, p50, p95) = sk(k)
      assert(n === 500L)
      // u is unique per row: distinct = 500 within 5%
      assert(math.abs(nd - 500.0) <= 25.0, s"$k distinct $nd")
      // values per key are the evens (t0) / odds (t1) of 0..999:
      // true p50 ≈ 500, p95 ≈ 950; allow 3% rank error = 30 values
      assert(math.abs(p50 - 500.0) <= 60.0, s"$k p50 $p50")
      assert(math.abs(p95 - 950.0) <= 60.0, s"$k p95 $p95")
    }
    // rewrite lineage falls back (sketches cannot subtract)
    VersionedTable.commitDelete(spark, base,
      Seq(0L, 3L).toDF("u"), Seq("u"))
    val r = IncrementalAgg.maintainSketch(spark, base, agg,
      Seq("k"), "u", "v")
    assert(r.mode == "full")
    val n2 = IncrementalAgg.readSketch(spark, agg).collect()
      .map(r2 => r2.getAs[Long]("n_rows")).sum
    assert(n2 === 998L)
    // flavor switch sum<->sketch on the same path recomputes
    VersionedTable.commitAppend(
      Seq(("t0", 5L, 5.0)).toDF("k", "u", "v"), base)
    val r2 = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "u")
    assert(r2.mode == "full")
  }

  test("streaming sketch view: micro-batches merge, replay no-ops") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    val sink = IncrementalAgg.foreachBatchMaintainSketch(
      base, agg, Seq("k"), "u", "v")
    sink(Seq(("a", 1L, 10.0), ("a", 2L, 20.0), ("b", 3L, 5.0))
      .toDF("k", "u", "v"), 0L)
    sink(Seq(("a", 4L, 30.0)).toDF("k", "u", "v"), 1L)
    def state() = IncrementalAgg.readSketch(spark, agg, Seq(0.5))
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("approx_distinct")))
      .toMap
    // small exact-mode sketches: distinct is exact at this size
    assert(state() === Map("a" -> ((3L, 3L)), "b" -> ((1L, 1L))))
    // replay of batch 1: marker skips the append, maintain no-ops —
    // the sketch state must not absorb the batch twice
    sink(Seq(("a", 4L, 30.0)).toDF("k", "u", "v"), 1L)
    assert(state() === Map("a" -> ((3L, 3L)), "b" -> ((1L, 1L))))
  }

  test("joined view: fact appends delta-merge, dim change dim-deltas") {
    val root = tmp()
    val (fact, dim, agg) = (s"$root/fact", s"$root/dim", s"$root/agg")
    VersionedTable.commitAppend(
      Seq((1L, "east"), (2L, "west")).toDF("k", "region"), dim)
    VersionedTable.commitAppend(
      Seq((1L, 10L), (1L, 20L), (2L, 5L), (3L, 99L))
        .toDF("k", "v"), fact)
    // k=3 has no dim row: inner join drops it from the view
    val r0 = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    assert(r0.mode == "init")
    def view() = IncrementalAgg.read(spark, agg)
      .select("region", "n_rows", "sum_val")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(view() === Set(("east", 2L, 30L), ("west", 1L, 5L)))
    // fact append: delta-scanned, merged
    VersionedTable.commitAppend(
      Seq((2L, 7L), (1L, 1L)).toDF("k", "v"), fact)
    val r1 = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    assert(r1.mode == "incremental" && r1.filesScanned >= 1)
    assert(view() === Set(("east", 3L, 31L), ("west", 2L, 12L)))
    // dim change rewrites history for already-counted fact rows; the
    // slowly-changing-dim repair recomputes ONLY the groups reachable
    // from the changed keys (k=1 moved, k=3 appeared; k=2 untouched)
    VersionedTable.commitOverwrite(
      Seq((1L, "north"), (2L, "west"), (3L, "south"))
        .toDF("k", "region"), dim)
    val r2 = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    assert(r2.mode == "dim_delta")
    assert(view() === Set(("north", 3L, 31L), ("west", 2L, 12L),
      ("south", 1L, 99L)))
    // and with base+dim both unchanged, the next maintain no-ops
    val r3 = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    assert(r3.mode == "noop")
  }

  test("dim-delta repair touches ONLY the changed keys' groups") {
    val root = tmp()
    val (fact, dim, agg) = (s"$root/fact", s"$root/dim", s"$root/agg")
    VersionedTable.commitAppend(
      Seq((1L, "east"), (2L, "west"), (3L, "south"))
        .toDF("k", "region"), dim)
    VersionedTable.commitAppend(
      Seq((1L, 10L), (2L, 5L), (2L, 6L), (3L, 7L)).toDF("k", "v"), fact)
    IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    // DOCTOR an untouched group's value in the view. If the repair
    // recomputed the whole view, the doctored value would heal; if it
    // only rebuilds groups reachable from the changed dim keys, the
    // lie SURVIVES — the definitive observable that untouched groups
    // were never recomputed.
    val doctored = VersionedTable.read(spark, agg)
      .withColumn("sum_val",
        when(col("region") === "west", lit(777L))
          .otherwise(col("sum_val")))
    VersionedTable.commitOverwrite(doctored, agg)
    // 1-key change: k=1 east→north. k=2 (west) and k=3 (south) keys
    // are byte-identical dim rows — out of the diff
    VersionedTable.commitOverwrite(
      Seq((1L, "north"), (2L, "west"), (3L, "south"))
        .toDF("k", "region"), dim)
    val r = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    assert(r.mode == "dim_delta")
    def view() = IncrementalAgg.read(spark, agg)
      .select("region", "n_rows", "sum_val")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(view() === Set(("north", 1L, 10L), ("west", 2L, 777L),
      ("south", 1L, 7L)),
      "untouched groups must carry verbatim (777 survives); only the " +
        "changed key's groups rebuild")
  }

  test("dim-delta edge cases: identical rewrite, schema change, vacuum") {
    val root = tmp()
    val (fact, dim, agg) = (s"$root/fact", s"$root/dim", s"$root/agg")
    VersionedTable.commitAppend(
      Seq((1L, "east"), (2L, "west")).toDF("k", "region"), dim)
    VersionedTable.commitAppend(
      Seq((1L, 10L), (2L, 5L)).toDF("k", "v"), fact)
    IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    def view() = IncrementalAgg.read(spark, agg)
      .select("region", "n_rows", "sum_val")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    // content-identical dim rewrite: re-pin without touching values
    VersionedTable.commitOverwrite(
      Seq((1L, "east"), (2L, "west")).toDF("k", "region"), dim)
    val r1 = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    assert(r1.mode == "dim_delta" && r1.filesScanned == 0)
    assert(view() === Set(("east", 1L, 10L), ("west", 1L, 5L)))
    // ... and the very next maintain is a plain noop at the new pin
    assert(IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v").mode == "noop")
    // a dim SCHEMA change retypes the view's inputs: honest recompute
    VersionedTable.commitOverwrite(
      Seq((1L, "east", "E"), (2L, "west", "W"))
        .toDF("k", "region", "code"), dim)
    val r2 = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    // the decline REASON rides out in the mode so a permanently
    // declining repair is observable, not a routine-looking "full"
    assert(r2.mode == "full:dim_schema_change", r2.mode)
    assert(view() === Set(("east", 1L, 10L), ("west", 1L, 5L)))
    // dim change arriving TOGETHER with a fact append: repair then
    // delta-merge in one maintain
    VersionedTable.commitOverwrite(
      Seq((1L, "north", "N"), (2L, "west", "W"))
        .toDF("k", "region", "code"), dim)
    VersionedTable.commitAppend(Seq((2L, 2L)).toDF("k", "v"), fact)
    val r3 = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    assert(r3.mode == "dim_delta+incremental", r3.mode)
    assert(view() === Set(("north", 1L, 10L), ("west", 2L, 7L)))
    // a dim commit that REORDERS same-typed columns while changing
    // content: positional diffing would miss the swapped values —
    // the name-aligned diff must still catch the changed key
    VersionedTable.commitOverwrite(
      Seq((1L, "N", "east"), (2L, "W", "west"))
        .toDF("k", "code", "region"), dim) // k=1: north→east (+ swap)
    val r4 = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    assert(r4.mode == "dim_delta", r4.mode)
    assert(view() === Set(("east", 1L, 10L), ("west", 2L, 7L)))
  }

  test("streaming joined view: appends, dim commit, replay — all honest") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tmp()
    val (fact, dim, agg) = (s"$root/fact", s"$root/dim", s"$root/agg")
    VersionedTable.commitAppend(
      Seq((1L, "east"), (2L, "west")).toDF("k", "region"), dim)
    val sink = IncrementalAgg.foreachBatchMaintainJoined(
      fact, dim, agg, "k", Seq("region"), "v")
    def view() = IncrementalAgg.read(spark, agg)
      .select("region", "n_rows", "sum_val").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // live micro-batches: each appends the fact delta and refreshes
    // the enrichment rollup
    val in = MemoryStream[(Long, Long)]
    val q = in.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(sink).start()
    try {
      in.addData((1L, 10L), (2L, 5L)); q.processAllAvailable()
      assert(view() === Set(("east", 1L, 10L), ("west", 1L, 5L)))
      in.addData((1L, 20L)); q.processAllAvailable()
      assert(view() === Set(("east", 2L, 30L), ("west", 1L, 5L)))
    } finally q.stop()
    // dim commit mid-stream rewrites history for already-counted
    // fact rows: the next batch's maintain repairs the changed keys'
    // groups (dim-delta) and then delta-merges the batch itself
    // (stream-static enrichment's static-side refresh rule)
    VersionedTable.commitOverwrite(
      Seq((1L, "north"), (2L, "west")).toDF("k", "region"), dim)
    sink(Seq((2L, 7L)).toDF("k", "v"), 100L)
    assert(view() === Set(("north", 2L, 30L), ("west", 2L, 12L)))
    // replay of the same batch (checkpoint recovery re-delivers):
    // the commit marker skips the append, maintain no-ops at the
    // unchanged (base, dim) pair — no double count
    sink(Seq((2L, 7L)).toDF("k", "v"), 100L)
    assert(view() === Set(("north", 2L, 30L), ("west", 2L, 12L)))
  }

  test("sketch view: epsilon change mid-life recomputes, not merges") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(
      Seq(("a", 1L, 1.0), ("a", 2L, 2.0)).toDF("k", "u", "v"), base)
    IncrementalAgg.maintainSketch(spark, base, agg, Seq("k"), "u", "v",
      relativeError = 0.01)
    VersionedTable.commitAppend(
      Seq(("a", 3L, 3.0)).toDF("k", "u", "v"), base)
    // same epsilon: delta merge
    val r1 = IncrementalAgg.maintainSketch(spark, base, agg,
      Seq("k"), "u", "v", relativeError = 0.01)
    assert(r1.mode == "incremental")
    VersionedTable.commitAppend(
      Seq(("a", 4L, 4.0)).toDF("k", "u", "v"), base)
    // changed epsilon: merging mixed-epsilon GK partials would report
    // an envelope matching neither request — must recompute
    val r2 = IncrementalAgg.maintainSketch(spark, base, agg,
      Seq("k"), "u", "v", relativeError = 0.05)
    assert(r2.mode == "full")
  }

  test("readSketch refuses percentile labels that collide") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(
      Seq(("a", 1L, 1.0)).toDF("k", "u", "v"), base)
    IncrementalAgg.maintainSketch(spark, base, agg, Seq("k"), "u", "v")
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.readSketch(spark, agg, Seq(0.5, 0.504))
    }
    assert(e.getMessage.contains("collide"))
  }

  test("minMax: all-null group carries null extrema through merges") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(
      Seq(("a", Option(3L)), ("z", Option.empty[Long]))
        .toDF("k", "v"), base)
    IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v",
      minMax = true)
    VersionedTable.commitAppend(
      Seq(("z", Option.empty[Long])).toDF("k", "v"), base)
    val r = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v",
      minMax = true)
    assert(r.mode == "incremental")
    val rows = IncrementalAgg.read(spark, agg).collect()
      .map(r2 => r2.getString(0) -> (r2.getLong(1),
        if (r2.isNullAt(3)) None else Some(r2.getLong(3)))).toMap
    assert(rows("a") === ((1L, Some(3L))))
    assert(rows("z") === ((2L, None))) // sum is 0, extrema stay null
  }

  test("persisted dim pin: after a restart the static-dim probe is " +
    "scan-free (and the sidecar's absence is what costs)") {
    val root = tmp()
    val (fact, dim, agg) = (s"$root/fact", s"$root/dim", s"$root/agg")
    VersionedTable.commitAppend(
      Seq((1L, "east"), (2L, "west")).toDF("k", "region"), dim)
    VersionedTable.commitAppend(
      Seq((1L, 10L), (2L, 5L)).toDF("k", "v"), fact)
    IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    // the commit persisted the pin sidecar next to the view
    val pinDir = new org.apache.hadoop.fs.Path(s"$agg/_pins")
    val fsys = pinDir.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fsys.exists(pinDir), "_pins sidecar must exist after commit")
    // BASELINE: warm in-memory cache, static dim, one fact append —
    // the repair probe is free, drive runs its delta path
    VersionedTable.commitAppend(Seq((1L, 1L)).toDF("k", "v"), fact)
    val warm = counted {
      assert(IncrementalAgg.maintainJoined(spark, fact, dim, agg,
        "k", Seq("region"), "v").mode == "incremental")
    }.jobs
    // RESTART SIM: cleared cache, sidecar present — identical job
    // count proves the persisted pin replaced the view-read probe
    // (reading the ~10-byte pin file is driver IO, not a Spark job)
    VersionedTable.commitAppend(Seq((1L, 2L)).toDF("k", "v"), fact)
    IncrementalAgg.clearDimPinCacheForTest()
    val restart = counted {
      assert(IncrementalAgg.maintainJoined(spark, fact, dim, agg,
        "k", Seq("region"), "v").mode == "incremental")
    }.jobs
    assert(restart == warm,
      s"restart with sidecar must match warm-cache jobs: $restart vs " +
        s"$warm")
    // NEGATIVE CONTROL: no cache AND no sidecar forces the legacy
    // view-read probe — strictly more jobs, proving this test's
    // counter can see the probe it claims the pin eliminates
    VersionedTable.commitAppend(Seq((1L, 3L)).toDF("k", "v"), fact)
    IncrementalAgg.clearDimPinCacheForTest()
    fsys.delete(pinDir, true)
    val legacy = counted {
      assert(IncrementalAgg.maintainJoined(spark, fact, dim, agg,
        "k", Seq("region"), "v").mode == "incremental")
    }.jobs
    assert(legacy > warm,
      s"legacy probe must cost extra jobs: $legacy vs $warm")
    // ... and the legacy probe re-persisted what it discovered, so
    // the NEXT restart is scan-free again
    IncrementalAgg.clearDimPinCacheForTest()
    assert(IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v").mode == "noop")
    assert(fsys.exists(pinDir), "probe must heal the sidecar")
  }

  test("an injected repair bug PROPAGATES — never a silent recompute") {
    val root = tmp()
    val (fact, dim, agg) = (s"$root/fact", s"$root/dim", s"$root/agg")
    VersionedTable.commitAppend(
      Seq((1L, "east"), (2L, "west")).toDF("k", "region"), dim)
    VersionedTable.commitAppend(
      Seq((1L, 10L), (2L, 5L)).toDF("k", "v"), fact)
    IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    // a real dim change engages the repair algebra, where the
    // injected fault lives
    VersionedTable.commitOverwrite(
      Seq((1L, "north"), (2L, "west")).toDF("k", "region"), dim)
    IncrementalAgg.repairFaultHookForTest =
      () => throw new RuntimeException("injected repair bug")
    try {
      val e = intercept[RuntimeException] {
        IncrementalAgg.maintainJoined(spark, fact, dim, agg,
          "k", Seq("region"), "v")
      }
      assert(e.getMessage == "injected repair bug",
        "the blanket-catch era would have demoted this to recompute")
    } finally IncrementalAgg.repairFaultHookForTest = () => ()
    // with the fault cleared the same maintain repairs normally
    val r = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    assert(r.mode == "dim_delta", r.mode)
  }

  test("dim-delta repair Bloom-prunes the fact scan when a sidecar " +
    "exists") {
    val root = tmp()
    val (fact, dim, agg) = (s"$root/fact", s"$root/dim", s"$root/agg")
    VersionedTable.commitAppend(
      (1L to 8L).map(k => (k, s"r$k")).toDF("k", "region"), dim)
    // range-partitioned on k: each key lives in exactly one file, so
    // the Bloom probe must prune the repair scan to ~1 file
    VersionedTable.commitAppend(
      (1L to 800L).map(i => (i % 8 + 1, i)).toDF("k", "v")
        .repartitionByRange(8, col("k")), fact)
    VersionedTable.publishBloom(spark, fact, "k")
    val filesV1 = VersionedTable.files(spark, fact).size
    assert(filesV1 >= 4, s"setup needs file spread, got $filesV1")
    IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    def bump(tag: String) = VersionedTable.commitOverwrite(
      (1L to 8L).map(k =>
        (k, if (k == 3L) s"moved-$tag" else s"r$k")).toDF("k", "region"),
      dim)
    bump("a")
    val r = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    assert(r.mode == "dim_delta", r.mode)
    assert(r.filesScanned < filesV1,
      s"Bloom sidecar must prune the $filesV1-file fact scan, " +
        s"scanned ${r.filesScanned}")
    // values exact after the pruned repair — the oracle property
    val view = IncrementalAgg.read(spark, agg)
      .select("region", "n_rows", "sum_val").collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    val expect = VersionedTable.read(spark, fact)
      .join(VersionedTable.read(spark, dim), Seq("k"))
      .groupBy("region")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s")).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    assert(view === expect)
    // without a sidecar for the CURRENT pinned version the repair
    // falls back to the full file set — no silent on-the-fly build
    VersionedTable.commitAppend(
      Seq((3L, 9999L)).toDF("k", "v"), fact) // new base version, no bloom
    IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v") // catch up the base pin
    bump("b")
    val filesV2 = VersionedTable.files(spark, fact).size
    val r2 = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    assert(r2.mode == "dim_delta", r2.mode)
    assert(r2.filesScanned == filesV2,
      s"no sidecar for the new version: full $filesV2-file scan, got " +
        s"${r2.filesScanned}")
  }

  test("vacuumed dim history declines with an observable reason") {
    val root = tmp()
    val (fact, dim, agg) = (s"$root/fact", s"$root/dim", s"$root/agg")
    VersionedTable.commitAppend(
      Seq((1L, "east"), (2L, "west")).toDF("k", "region"), dim)
    VersionedTable.commitAppend(
      Seq((1L, 10L), (2L, 5L)).toDF("k", "v"), fact)
    IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    // the dim advances AND its pinned old version is vacuumed away:
    // the repair can't diff, and the decline must say why
    VersionedTable.commitOverwrite(
      Seq((1L, "north"), (2L, "west")).toDF("k", "region"), dim)
    VersionedTable.vacuum(spark, dim, retainLast = 1, graceMs = 0L)
    val r = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    assert(r.mode == "full:missing_version", r.mode)
    val v = IncrementalAgg.read(spark, agg)
      .select("region", "n_rows", "sum_val")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
      .toSet
    assert(v === Set(("north", 1L, 10L), ("west", 1L, 5L)))
  }

  test("a corrupt pin sidecar can never mis-diff the dim: the repair " +
    "re-derives the reflected version from the view") {
    val root = tmp()
    val (fact, dim, agg) = (s"$root/fact", s"$root/dim", s"$root/agg")
    VersionedTable.commitAppend(
      Seq((1L, "east"), (2L, "west")).toDF("k", "region"), dim)
    VersionedTable.commitAppend(
      Seq((1L, 10L), (2L, 5L)).toDF("k", "v"), fact)
    IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v") // view pins dim v1
    VersionedTable.commitOverwrite(
      Seq((1L, "north"), (2L, "west")).toDF("k", "region"), dim)
    IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v") // view pins dim v2
    // corrupt the persisted pin to a VALID-PARSING wrong version ("1"
    // — the truncated-read shape: the first byte of "12"), and clear
    // the in-memory tier so the sidecar is the only pin. A repair
    // that TRUSTED it would diff dim v1→v3 against a view reflecting
    // v2 and double-count the v1→v2 change — silent corruption
    val vAgg = VersionedTable.latestVersion(spark, agg)
    val pin = new org.apache.hadoop.fs.Path(
      f"$agg%s/_pins/dim-v$vAgg%05d")
    val fsys = pin.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fsys.create(pin, true)
    try out.write("1".getBytes("UTF-8")) finally out.close()
    IncrementalAgg.clearDimPinCacheForTest()
    VersionedTable.commitOverwrite(
      Seq((1L, "north"), (2L, "south")).toDF("k", "region"), dim)
    val r = IncrementalAgg.maintainJoined(spark, fact, dim, agg,
      "k", Seq("region"), "v")
    assert(r.mode == "dim_delta", r.mode)
    val view = IncrementalAgg.read(spark, agg)
      .select("region", "n_rows", "sum_val")
      .collect().map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
      .toSet
    assert(view === Set(("north", 1L, 10L), ("south", 1L, 5L)),
      "a trusted corrupt pin would have produced north(2,20)")
  }

  test("pin retirement sweeps stragglers: a skipped pin write cannot " +
    "orphan a sidecar file forever") {
    val root = tmp()
    val agg = s"$root/agg"
    // write pins for versions 1..60, SKIPPING version 40 (the crash-
    // between-commit-and-pin shape). Single-slot retirement (delete
    // exactly v-16) would leave version 24's pin orphaned forever —
    // its only retirement slot was version 40's write. The range
    // sweep (v-20..v-16) gives every pin five chances
    (1 to 60).filter(_ != 40).foreach { v =>
      IncrementalAgg.persistDimPin(spark, agg, v, v)
    }
    val dir = new org.apache.hadoop.fs.Path(s"$agg/_pins")
    val fsys = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pins = fsys.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("dim-v"))
    // everything at or below 60-16=44 must be retired despite the gap
    assert(pins.forall(_.stripPrefix("dim-v").toInt > 44),
      s"straggler pins survived the sweep: ${pins.sorted.mkString(",")}")
    assert(pins.length <= 16, s"_pins grew past its bound: ${pins.length}")
  }

  test("mergeAggFrames: union-reagg algebra (negative deltas cancel, " +
    "null keys merge once, minMax null-skips) in a single exchange") {
    // current: two groups, one NULL-keyed — the GROUP BY semantics the
    // old null-safe full-outer join existed to preserve
    val current = Seq(
      (Option("a"), 3L, 30L, Option(1L), Option(9L)),
      (Option.empty[String], 2L, 20L, Option(2L), Option(8L)))
      .toDF("k", "n_rows", "sum_val", "min_val", "max_val")
    val delta = Seq(
      (Option("a"), -3L, -30L, Option.empty[Long], Option.empty[Long]),
      (Option.empty[String], 1L, 5L, Option(0L), Option(99L)),
      (Option("b"), 4L, 40L, Option(4L), Option(4L)))
      .toDF("k", "n_rows", "sum_val", "min_val", "max_val")
    val merged = IncrementalAgg.mergeAggFrames(Seq("k"), minMax = true)(
      current, delta)
    val rows = merged.orderBy(col("k").asc_nulls_first)
      .collect().map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2),
        Option(r.get(3)), Option(r.get(4))))
    // group "a" reached zero rows (repair-path negative delta): gone;
    // NULL key merged ONCE (2+1 rows, 20+5 sum, min/max across both
    // sides with the delta's extrema winning); "b" is delta-only
    assert(rows.toSeq == Seq(
      (None, 3L, 25L, Some(0L), Some(99L)),
      (Some("b"), 4L, 40L, Some(4L), Some(4L))), rows.mkString(", "))
    // plan shape: ONE exchange (the re-aggregation), no join — the
    // old merge planned two exchanges + a null-safe full-outer
    // sort-merge join
    val plan = merged.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Join"),
      s"merge should not plan a join:\n$plan")
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1,
      s"merge should plan exactly one exchange, got $exchanges:\n$plan")
  }

  test("a zero-row base overwrite maintains once, then noops") {
    // the view keeps files but no rows, so no row carries the version
    // it reflects: the base holding no rows either makes it current
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    def maintain() = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    val seed = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    VersionedTable.commitAppend(seed, base)
    assert(maintain().mode === "init")
    VersionedTable.commitOverwrite(seed.limit(0), base)
    val rs = (1 to 3).map(_ => maintain())
    assert(rs.map(_.mode) === Seq("full", "noop", "noop"))
    assert(rs.map(_.version).distinct.size === 1)
    assert(rs.head.version === VersionedTable.latestVersion(spark, agg))
  }

  test("an emptied base commits an empty view, then noops") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), base)
    assert(IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
      .mode === "init")
    commitNoFiles(base)
    assert(VersionedTable.files(spark, base).isEmpty)
    val r = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    assert(r.mode === "full" && r.filesScanned === 0)
    assert(r.version === VersionedTable.latestVersion(spark, agg))
    assert(VersionedTable.files(spark, agg).isEmpty ||
      IncrementalAgg.read(spark, agg).isEmpty)
    val again = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    assert(again.mode === "noop" && again.version === r.version)
  }

  test("a target without __base_version fails loudly, untouched") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(Seq(("a", 1L)).toDF("k", "v"), base)
    // some other table already lives at the view's path
    VersionedTable.commitAppend(Seq(("x", 9L)).toDF("k", "n_rows"), agg)
    val e = intercept[IllegalArgumentException] {
      IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    }
    assert(e.getMessage.contains("__base_version"))
    assert(VersionedTable.latestVersion(spark, agg) === 1)
  }

  test("an incremental maintain runs a pinned number of jobs") {
    val root = tmp()
    val (base, agg) = (s"$root/base", s"$root/agg")
    VersionedTable.commitAppend(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), base)
    IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v")
    VersionedTable.commitAppend(Seq(("a", 3L)).toDF("k", "v"), base)
    var mode = ""
    val jobs = counted {
      mode = IncrementalAgg.maintain(spark, base, agg, Seq("k"), "v").mode
    }.jobs
    assert(mode === "incremental")
    assert(jobs === 5)
  }
}
