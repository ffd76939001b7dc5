package graft

import org.apache.spark.sql.functions._

import graft.operators.TextProfile
import graft.ops.{RobustStats, Sessionize}

/** Hand-computed answers for the round-2 profiling/robust-stats
  * operators (the DuckDB oracle covers them end-to-end at sf0.01; these
  * pin the semantics on inputs small enough to check by hand).
  */
class ProfilingOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("pmiBigrams: counts, support filter, and the PMI formula") {
    // "a b" ×5 and "a c" ×2 → only (a,b) survives minCount=5.
    // tokens: a×7 b×5 c×2 → N=14; pmi(a,b) = ln(5·14/(7·5)) = ln(2)
    val docs = (Seq.fill(5)("a b") ++ Seq.fill(2)("a c"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val out = TextProfile.pmiBigrams(docs, "text", minCount = 5L)
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("w1") == "a" && r.getAs[String]("w2") == "b")
    assert(r.getAs[Long]("c12") == 5L)
    assert(math.abs(r.getAs[Double]("pmi") - math.log(2.0)) < 1e-4)
  }

  test("tokenEntropy: uniform vs degenerate distributions") {
    val docs = Seq(
      (1L, "a b c d", "uniform"),   // 4 types, p=1/4 each → H = ln 4
      (2L, "x x x x", "constant")   // 1 type → H = 0
    ).toDF("doc_id", "text", "source")
    val out = TextProfile.tokenEntropy(docs, "source", "text")
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_types"),
          r.getAs[Double]("entropy"))).toMap
    assert(out("uniform")._1 == 4L && out("uniform")._2 == 4L)
    assert(math.abs(out("uniform")._3 - math.log(4.0)) < 1e-4)
    assert(out("constant") == ((4L, 1L, -0.0)) ||
      out("constant") == ((4L, 1L, 0.0)))
  }

  test("sessionize: gap splits, ids, duration, per-session sums") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00"), 7L, 1.0),
      (2L, ts("2024-01-01 10:10:00"), 7L, 2.0), // same session (10 min)
      (3L, ts("2024-01-01 11:00:00"), 7L, 4.0), // 50 min gap → new
      (4L, ts("2024-01-01 10:00:00"), 8L, 8.0)  // other user
    ).toDF("event_id", "ts", "user_id", "value")
    val out = Sessionize
      .byGap(ev, "user_id", "ts", "event_id", "value", gapSec = 1800L)
      .orderBy("user_id", "session_id").collect()
    assert(out.length == 3)
    val s1 = out(0) // user 7, session 1
    assert(s1.getAs[Long]("session_id") == 1L)
    assert(s1.getAs[Long]("n_events") == 2L)
    assert(s1.getAs[Double]("duration_sec") == 600.0)
    assert(s1.getAs[Double]("sum_value") == 3.0)
    val s2 = out(1) // user 7, session 2: single event
    assert(s2.getAs[Long]("session_id") == 2L)
    assert(s2.getAs[Long]("n_events") == 1L)
    assert(s2.getAs[Double]("duration_sec") == 0.0)
    assert(out(2).getAs[Long]("user_id") == 8L)
  }

  test("sessionize plans one exchange for both window passes") {
    val ev = Seq((1L, ts("2024-01-01 10:00:00"), 7L, 1.0))
      .toDF("event_id", "ts", "user_id", "value")
    val plan = Sessionize
      .byGap(ev, "user_id", "ts", "event_id", "value", 1800L)
      .queryExecution.executedPlan.toString
    // lag and the running sum share the (user_id) partitioning: the
    // two Window nodes must not be separated by an extra Exchange
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(plan).length
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got:\n$plan")
  }

  test("lmTrigramScore: common trigrams score higher than rare ones") {
    // c2(a,b) = 5 (all five docs). "a b c" ×4 → c3=4 → ln(4/5);
    // "a b d" → c3=1 → ln(1/5): the rare continuation scores lower
    val docs = ((1 to 4).map(i => (i.toLong, "a b c")) :+ (5L, "a b d"))
      .toDF("doc_id", "text")
    val out = TextProfile.lmTrigramScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length == 5)
    assert(out.take(4).forall(r =>
      math.abs(r.getAs[Double]("avg_logprob") -
        math.log(4.0 / 5.0)) < 1e-3))
    val r5 = out.last
    assert(r5.getAs[Long]("n_trigrams") == 1L)
    assert(math.abs(r5.getAs[Double]("avg_logprob") -
      math.log(1.0 / 5.0)) < 1e-3)
  }

  test("lmTrigramScore: docs under 3 tokens are absent") {
    val docs = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
    val out = TextProfile.lmTrigramScore(docs, "doc_id", "text").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L))
    assert(out.head.getAs[Long]("n_trigrams") == 2L)
  }

  test("cdc apply: latest op wins, deletes remove, inserts add") {
    import graft.ops.Cdc
    val base = Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "c", "z"))
      .toDF("k", "name", "seg")
    val log = Seq(
      (1L, "U", 10L, "a2", "x2"),  // update key 1
      (1L, "U", 5L, "a1", "x1"),   // superseded (lower seq)
      (2L, "D", 7L, "-", "-"),     // delete key 2
      (4L, "I", 3L, "d", "w"),     // insert new key 4
      (5L, "D", 9L, "-", "-")      // delete of unknown key: no-op
    ).toDF("k", "op", "seq", "name", "seg")
    val out = Cdc.apply(base, log, "k", "op", "seq", Seq("name", "seg"))
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq == Seq((1L, "a2", "x2"), (3L, "c", "z"), (4L, "d", "w")))
  }

  test("cdc apply: an update carrying NULL clears the column") {
    import graft.ops.Cdc
    val base = Seq((1L, Some("old"))).toDF("k", "name")
    val log = Seq((1L, "U", 5L, Option.empty[String]))
      .toDF("k", "op", "seq", "name")
    val out = Cdc.apply(base, log, "k", "op", "seq", Seq("name"))
      .collect().head
    // coalesce-based application would resurrect "old" here
    assert(out.isNullAt(1), s"expected NULL, got ${out.get(1)}")
  }

  test("cdc apply: same-seq tie prefers delete (deterministic)") {
    import graft.ops.Cdc
    val base = Seq((1L, "a")).toDF("k", "name")
    val log = Seq((1L, "U", 5L, "a2"), (1L, "D", 5L, "-"))
      .toDF("k", "op", "seq", "name")
    val out = Cdc.apply(base, log, "k", "op", "seq", Seq("name"))
    assert(out.count() == 0L)
  }

  test("string-id top-k callers fail loudly instead of nulling out") {
    // a plain cast('long') on a non-numeric id yields NULL for every
    // row and the heap silently drops them all — the guard must throw
    val docs = Seq(("doc-a", "d1"), ("doc-b", "d1"))
      .toDF("doc_id", "source")
    val e = intercept[IllegalArgumentException] {
      graft.ops.DomainCap.cap(docs, "doc_id", "source", 1, "s")
    }
    assert(e.getMessage.contains("integral id"))
  }

  test("winsorized: clip bounds and counts on a known distribution") {
    // values 1..100, one group; p05=5.95, p95=95.05 (linear interp)
    val df = (1 to 100).map(i => (i.toLong, i.toDouble, "g"))
      .toDF("id", "v", "grp")
    val out = RobustStats.winsorized(df, "v", "grp", 0.05, 0.95)
      .collect().head
    assert(out.getAs[Long]("n") == 100L)
    // 1..5 below lo, 96..100 above hi → 10 clipped
    assert(out.getAs[Long]("n_clipped") == 10L)
    val vals = (1 to 100).map(_.toDouble)
      .map(v => math.min(math.max(v, 5.95), 95.05))
    val mean = vals.sum / vals.length
    assert(math.abs(out.getAs[Double]("mean_w") - mean) < 1e-3)
  }

  test("madOutliers: flags the planted spike and nothing else") {
    // 20 points near 50 plus one spike at 500: median ≈ 50, MAD small,
    // only the spike crosses 3×MAD; a mean/σ threshold would have been
    // dragged by the spike itself
    val rows = ((1 to 20).map(i =>
        ("u", i.toLong, 50.0 + (i % 5) - 2)) :+ ("u", 21L, 500.0))
    val out = graft.ops.RobustStats.madOutliers(
        rows.toDF("k", "ts", "v"), Seq("k"), "ts", "v", k = 3.0)
      .collect()
      .map(r => r.getLong(1) -> r.getBoolean(5)).toMap
    assert(out(21L))
    assert(out.filter(_._2).keySet == Set(21L))
  }

  test("madOutliers matches an exact sequential replay incl. " +
      "interpolated medians") {
    // even counts force the d=0.5 interpolation branch on both the
    // median and the MAD; the replay uses the same integer-scaled
    // arithmetic so doubles compare with ==
    val rnd = new scala.util.Random(17)
    val rows: Seq[(String, Long, Double)] =
      for (k <- 0 until 3; i <- 0 until 24)
        yield (s"k$k", i.toLong, rnd.nextInt(10000) / 100.0)
    val out = graft.ops.RobustStats.madOutliers(
        rows.toDF("k", "ts", "v").repartition(5),
        Seq("k"), "ts", "v", k = 3.0)
      .collect()
      .map(r => ((r.getString(0), r.getLong(1)),
        (r.getDouble(3), r.getDouble(4), r.getBoolean(5)))).toMap
    def q50(xs: Seq[Double]): Double = {
      val s = xs.sorted; val pos = 0.5 * (s.length - 1)
      val lo = s(pos.toInt); val hi = s(math.ceil(pos).toInt)
      lo + (pos - pos.toInt) * (hi - lo)
    }
    rows.groupBy(_._1).foreach { case (k, rs) =>
      val ve = rs.map(r => math.rint(r._3 * 100))
      val med = q50(ve)
      val mad = q50(ve.map(x => math.abs(x - med)))
      rs.foreach { case (_, t, v) =>
        val exp = (med / 100.0, mad / 100.0,
          math.abs(math.rint(v * 100) - med) > 3.0 * mad)
        assert(out((k, t)) == exp, s"($k, $t)")
      }
    }
  }

  test("madOutliers: duplicate timestamps collapse, nulls drop, " +
      "zero-MAD keys flag any deviation") {
    val rows: Seq[(String, Long, java.lang.Double)] = Seq(
      ("z", 1L, Double.box(5.0)), ("z", 1L, Double.box(7.0)),
      ("z", 2L, null), ("z", 3L, Double.box(7.0)),
      ("z", 4L, Double.box(7.0)), ("z", 5L, Double.box(9.0)))
    val out = graft.ops.RobustStats.madOutliers(
        rows.toDF("k", "ts", "v"), Seq("k"), "ts", "v", k = 3.0)
      .collect().map(r => r.getLong(1) -> r.getBoolean(5)).toMap
    // collapsed series: 7, 7, 7, 9 → median 7, MAD 0: the 9 deviates
    assert(out.keySet == Set(1L, 3L, 4L, 5L))
    assert(out(5L) && !out(1L) && !out(3L))
  }

  test("madOutliers: a NULL-keyed series is a real group") {
    val rows: Seq[(String, Long, java.lang.Double)] = Seq(
      (null, 1L, Double.box(5.0)), (null, 2L, Double.box(5.0)),
      (null, 3L, Double.box(500.0)), ("x", 1L, Double.box(1.0)))
    val out = graft.ops.RobustStats.madOutliers(
        rows.toDF("k", "ts", "v"), Seq("k"), "ts", "v", k = 3.0)
      .collect()
    // plain-equality joins would have dropped the NULL key entirely
    assert(out.count(_.isNullAt(0)) == 3)
    assert(out.filter(_.isNullAt(0)).count(_.getBoolean(5)) == 1,
      "the NULL key's spike must flag")
  }

  test("psi drift: zero for identical slices, large for a shift, empty buckets finite") {
    import org.apache.spark.sql.functions._
    val base = (1 to 1000).map(i => (i.toLong, (i % 100).toDouble)).toDF("id", "v")
    val edges = Seq(20.0, 40.0, 60.0, 80.0)
    val same = graft.ops.DriftMonitor.psi(base, base, "v", edges).collect()
    assert(same.forall(_.getAs[Double]("psi") == 0.0))
    assert(same.length == edges.size + 1)
    // shift the current slice up by 50: mass moves across buckets
    val shifted = base.withColumn("v", col("v") + 50.0)
    val drift = graft.ops.DriftMonitor.psi(base, shifted, "v", edges)
      .collect()
    assert(drift.head.getAs[Double]("psi") > 0.25)
    // a bucket empty on one side stays finite (eps floor)
    val cur = (1 to 100).map(i => (i.toLong, 95.0)).toDF("id", "v")
    val oneBucket = graft.ops.DriftMonitor.psi(base, cur, "v", edges)
      .collect()
    assert(oneBucket.forall(r => !r.getAs[Double]("psi_term").isInfinite))
    assert(oneBucket.forall(r => !r.getAs[Double]("psi_term").isNaN))
  }

  test("ks: identical samples zero, disjoint supports one, known gap") {
    val a = (1 to 100).map(i => Tuple1((i % 10).toLong)).toDF("v")
    val same = graft.ops.DriftMonitor.ks(a, a, "v").collect().head
    assert(same.getAs[Double]("ks") == 0.0)
    assert(same.getAs[Long]("n_ref") == 100L)
    val b = (1 to 50).map(i => Tuple1((i % 10 + 100).toLong)).toDF("v")
    assert(graft.ops.DriftMonitor.ks(a, b, "v")
      .collect().head.getAs[Double]("ks") == 1.0)
    // ref {1,2,3} vs cur {2,3,4}: gap 1/3 at every step, first at v=1
    val r = Seq(1L, 2L, 3L).map(Tuple1(_)).toDF("v")
    val c = Seq(2L, 3L, 4L).map(Tuple1(_)).toDF("v")
    val got = graft.ops.DriftMonitor.ks(r, c, "v").collect().head
    assert(got.getAs[Double]("ks") == 0.333333)
    assert(got.getAs[Long]("ks_at") == 1L)
  }

  test("ks: empty side is null, doubles rejected, partitioning-proof") {
    import org.apache.spark.sql.functions._
    val a = (1 to 100).map(i => Tuple1((i % 7).toLong)).toDF("v")
    val empty = a.filter(col("v") < 0)
    val r = graft.ops.DriftMonitor.ks(a, empty, "v").collect().head
    assert(r.isNullAt(r.fieldIndex("ks")))
    intercept[IllegalArgumentException] {
      graft.ops.DriftMonitor.ks(
        a.withColumn("v", col("v").cast("double")), a, "v")
    }
    val b = (1 to 60).map(i => Tuple1((i % 5).toLong)).toDF("v")
    val once = graft.ops.DriftMonitor.ks(a, b, "v").collect().head
    val again = graft.ops.DriftMonitor
      .ks(a.repartition(7), b.repartition(3), "v").collect().head
    assert(once.toSeq == again.toSeq)
  }

  private def causeChain(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .map(t => Option(t.getMessage).getOrElse("")).toSeq

  test("ks spine guard: refuses a too-fine spine, coarsens when asked") {
    // 2000 distinct points — far past maxSupport = 100
    val a = (1 to 2000).map(i => Tuple1(i.toLong)).toDF("v")
    val b = (1 to 2000).map(i => Tuple1(i.toLong + 500)).toDF("v")
    // the refusal is raised AT EVALUATION, in the stage before the
    // single-task window materializes (the guard rides the KS plan
    // instead of running its own eager probe job)
    val e = intercept[Exception] {
      graft.ops.DriftMonitor.ks(a, b, "v", maxSupport = 100).collect()
    }
    assert(causeChain(e).exists(_.contains("distinct points")),
      s"the guard must explain itself, not OOM one task: " +
        causeChain(e).mkString(" | "))
    // with coarsenTo the guard re-buckets: the statistic is the exact
    // KS of the bucket-quantized distributions — a LOWER bound on the
    // fine-grained D, never an over-alarm; ks_hi adds the matching
    // UPPER bound (lower + largest one-sided within-bucket mass) so
    // the fine-grained D is certified inside [ks, ks_hi]
    val exact = graft.ops.DriftMonitor.ks(a, b, "v")
      .collect().head.getAs[Double]("ks")
    val coarse = graft.ops.DriftMonitor.ks(a, b, "v",
        maxSupport = 100, coarsenTo = 64)
      .collect().head
    val kc = coarse.getAs[Double]("ks")
    val kcHi = coarse.getAs[Double]("ks_hi")
    assert(kc > 0.0 && kc <= exact + 1e-9,
      s"coarse $kc must lower-bound exact $exact")
    assert(kcHi >= exact - 1e-9 && kcHi <= 1.0,
      s"ks_hi $kcHi must upper-bound exact $exact (and never exceed 1)")
    // counts survive re-bucketing intact
    assert(coarse.getAs[Long]("n_ref") == 2000L &&
      coarse.getAs[Long]("n_cur") == 2000L)
    // identical sides stay at zero through coarsening
    val same = graft.ops.DriftMonitor.ks(a, a, "v",
      maxSupport = 100, coarsenTo = 64).collect().head
    assert(same.getAs[Double]("ks") == 0.0)
    // ... and a shift of exactly one bucket width is still seen
    assert(kc >= 500.0 / 2500.0 - 0.1, s"gap visible after coarsening: $kc")
    // on a FINE spine the statistic is exact, so ks_hi collapses to ks
    val fine = graft.ops.DriftMonitor.ks(a, b, "v").collect().head
    assert(fine.getAs[Double]("ks_hi") == fine.getAs[Double]("ks"))
    // bad parameters still fail loudly AT THE CALL (plain validation)
    intercept[IllegalArgumentException] {
      graft.ops.DriftMonitor.ks(a, b, "v", maxSupport = 100,
        coarsenTo = 200)
    }
  }

  test("ks guard rides the KS action: constructing the guarded frame " +
    "runs zero Spark jobs") {
    // the old shape ran an eager countDistinct probe (one job) inside
    // every ksGuarded CALL — a job per micro-batch on the streaming
    // sink before the verdict's own action even started. Folded into
    // the spine, construction is free and the whole evaluation is one
    // action. The spine cache (persist, not a scratch write) is lazy
    // too, so ks()/ksGuarded construction runs zero jobs AND zero IO.
    val rc = (0 to 40).map(v => (v.toLong, 12L)).toDF("v", "n")
    val cc = (0 to 50).map(v => (v.toLong, 10L)).toDF("v", "n")
    var frame: org.apache.spark.sql.DataFrame = null
    val buildJobs = counted {
      frame = graft.ops.DriftMonitor.ksGuarded(rc, cc,
        maxSupport = 100, coarsenTo = 64)
    }.jobs
    assert(buildJobs == 0,
      s"building the guarded KS must not run the probe job, ran " +
        s"$buildJobs")
    // and the verdict still evaluates correctly from that lazy frame
    val row = frame.collect().head
    assert(row.getAs[Long]("n_ref") == 492L &&
      row.getAs[Long]("n_cur") == 510L)
    assert(row.getAs[Double]("ks") > 0.0)
  }

  test("ks single-scan contract: a raw-corpus input scans its source " +
    "once per side, for ANY caller") {
    // the guarded plan consumes the joined spine twice (guard stats +
    // KS math) and pruning divergence kills exchange reuse — without
    // the in-plan spine cache each side's corpus would scan TWICE
    // (measured as q222 doubling in round 12). The contract is now
    // enforced inside ksGuarded, so a caller handing in raw
    // aggregations (not pre-materialized tables) still pays one scan
    val dir = java.nio.file.Files
      .createTempDirectory("ks_scan").toString
    val n = 100000L
    spark.range(n).selectExpr("id % 10 AS v")
      .write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val read = counted {
      val row = graft.ops.DriftMonitor
        .ks(corpus, corpus.filter(col("v") >= 1), "v")
        .collect().head
      assert(row.getAs[Long]("n_ref") == n)
    }.inputRecords
    // one scan per side ≈ 2n rows from parquet (+ a ≤ 20-row spine
    // re-read from cache); the pre-cache shape read ~4n
    assert(read >= (1.8 * n).toLong && read < 3 * n,
      s"expected ~${2 * n} source rows (one scan per side), read " +
        s"$read — the spine cache is not collapsing the double scan")
    graft.core.Scratch.drop(spark, dir)
  }

  test("ks leaves no scratch behind and bounds live cache entries " +
    "across many calls in one session") {
    import spark.implicits._
    val scratchRoot = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-scratch")
    def scratchCount: Int =
      if (!java.nio.file.Files.isDirectory(scratchRoot)) 0
      else {
        val s = java.nio.file.Files.list(scratchRoot)
        try s.count().toInt finally s.close()
      }
    val a = (1 to 50).map(i => Tuple1((i % 7).toLong)).toDF("v")
    val b = (1 to 50).map(i => Tuple1((i % 5).toLong)).toDF("v")
    val before = scratchCount
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    (1 to 20).foreach { _ =>
      assert(graft.ops.DriftMonitor.ks(a, b, "v")
        .collect().head.getAs[Double]("ks") > 0.0)
    }
    // ks() used to write two scratch parquet tables per call and
    // reclaim only at bench pass boundaries / JVM exit — a long
    // interactive session looping ks() accumulated files forever.
    // The persist-based spine cache writes nothing...
    assert(scratchCount == before,
      s"ks() must not grow scratch: $before -> $scratchCount")
    // ...and the FIFO caps live persisted spines (oldest unpersisted;
    // an evicted frame that is re-acted on recomputes — still correct)
    val cachedAfter = spark.sparkContext.getPersistentRDDs.size
    assert(cachedAfter - cachedBefore <= 16,
      s"live ks cache entries must stay bounded: " +
        s"$cachedBefore -> $cachedAfter")
  }

  test("ks range refusal stays actionable under ANSI mode") {
    import spark.implicits._
    // an over-2^63 spine range must raise the friendly refusal, not a
    // cast-overflow from the __step projection (CaseWhen guards the
    // BIGINT cast) — ANSI is exactly the mode where the unguarded
    // projection threw first
    val rc = Seq((Long.MinValue, 5L), (Long.MaxValue, 5L), (0L, 5L))
      .toDF("v", "n")
    val cc = Seq((0L, 5L)).toDF("v", "n")
    val prev = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val e = intercept[Exception] {
        graft.ops.DriftMonitor
          .ksGuarded(rc, cc, maxSupport = 2, coarsenTo = 2).collect()
      }
      assert(causeChain(e).exists(_.contains("exceeds 2^63")),
        s"want the rangeRefuse message, got: " +
          causeChain(e).mkString(" | "))
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("madOutliers approx mode: GK at small n reproduces the exact " +
    "flags; envelope holds") {
    // n = 21 << accuracy: the sketch returns an exact middle element,
    // so the planted-spike flags must match the exact path verbatim
    val rows = ((1 to 20).map(i =>
        ("u", i.toLong, 50.0 + (i % 5) - 2)) :+ ("u", 21L, 500.0))
    val exact = graft.ops.RobustStats.madOutliers(
        rows.toDF("k", "ts", "v"), Seq("k"), "ts", "v", k = 3.0)
      .collect().map(r => r.getLong(1) -> r.getBoolean(5)).toMap
    val approx = graft.ops.RobustStats.madOutliers(
        rows.toDF("k", "ts", "v").repartition(4), Seq("k"), "ts", "v",
        k = 3.0, approx = true, accuracy = 1000)
      .collect().map(r => r.getLong(1) -> r.getBoolean(5)).toMap
    assert(approx == exact)
    assert(approx(21L) && approx.filter(_._2).keySet == Set(21L))
    intercept[IllegalArgumentException] {
      graft.ops.RobustStats.madOutliers(rows.toDF("k", "ts", "v"),
        Seq("k"), "ts", "v", k = 3.0, approx = true, accuracy = 10)
    }
  }

  test("streaming psi sink: per-batch drift log, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ref = (1 to 1000).map(i => (i.toLong, (i % 100).toDouble)).toDF("id", "v")
    val edges = Seq(20.0, 40.0, 60.0, 80.0)
    val logPath = graft.core.Scratch.root(ref) +
      s"/psilog_${java.util.UUID.randomUUID()}"
    graft.core.Scratch.registerForCleanup(logPath)
    val sink = graft.ops.DriftMonitor.foreachBatchPsi(ref, "v", edges, logPath)
    // drive two batches directly (the same function foreachBatch calls)
    sink((1 to 500).map(i => (i.toLong, (i % 100).toDouble)).toDF("id", "v"), 0L)
    sink((1 to 500).map(i => (i.toLong, 95.0)).toDF("id", "v"), 1L)
    sink((1 to 500).map(i => (i.toLong, 95.0)).toDF("id", "v"), 1L) // replay
    val log = graft.core.VersionedTable.read(spark, logPath)
    val rows = log.collect()
    assert(rows.length == 2 * (edges.size + 1), "replay duplicated rows")
    val byBatch = rows.groupBy(_.getAs[Long]("batch_id"))
    // batch 0 mirrors the reference: psi 0; batch 1 is all-one-bucket: large
    assert(byBatch(0L).forall(_.getAs[Double]("psi") == 0.0))
    assert(byBatch(1L).forall(_.getAs[Double]("psi") > 0.25))
  }

  test("streaming ks sink: per-batch verdict log, replay-safe, " +
    "rejects unquantized batches") {
    import org.apache.spark.sql.functions._
    val refCounts = (0L to 9L).map(v => (v, 100L)).toDF("v", "n")
    val logPath = graft.core.Scratch.root(refCounts) +
      s"/kslog_${java.util.UUID.randomUUID()}"
    graft.core.Scratch.registerForCleanup(logPath)
    val sink = graft.ops.DriftMonitor.foreachBatchKs(refCounts, "v",
      logPath)
    // batch 0 mirrors the reference shape (uniform 0..9); batch 1 is
    // mass on one value — KS large
    sink((1 to 500).map(i => Tuple1((i % 10).toLong)).toDF("v"), 0L)
    sink((1 to 500).map(_ => Tuple1(9L)).toDF("v"), 1L)
    sink((1 to 500).map(_ => Tuple1(9L)).toDF("v"), 1L) // replay
    val rows = graft.core.VersionedTable.read(spark, logPath).collect()
    assert(rows.length == 2, "replay duplicated rows")
    val byBatch = rows.map(r => r.getAs[Long]("batch_id") -> r).toMap
    assert(byBatch(0L).getAs[Double]("ks") == 0.0)
    assert(byBatch(1L).getAs[Double]("ks") == 0.9)
    intercept[IllegalArgumentException] {
      sink(Seq(Tuple1(1.5)).toDF("v"), 2L)
    }
  }

  test("psi: an empty slice floors at eps instead of NaN-crashing") {
    val base = (1 to 100).map(i => (i.toLong, (i % 100).toDouble)).toDF("id", "v")
    val empty = base.filter(org.apache.spark.sql.functions.col("id") < 0)
    val out = graft.ops.DriftMonitor.psi(base, empty, "v",
      Seq(20.0, 40.0, 60.0, 80.0)).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => !r.getAs[Double]("psi").isNaN))
    assert(out.forall(r => !r.getAs[Double]("psi").isInfinite))
    assert(out.head.getAs[Double]("psi") > 0.25) // total drift, finite
  }
}
