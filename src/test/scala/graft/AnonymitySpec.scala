package graft

import org.apache.spark.sql.functions._

import graft.ops.Anonymity

/** k-anonymity / l-diversity audits (q165): hand-computed class
  * fixture, report semantics, per-row suppression view, and the
  * generalize-then-re-audit remediation loop. */
class AnonymitySpec extends SparkTestBase {
  import spark.implicits._

  // (zip, age_band, diagnosis): class (10001, A) has 3 rows but a
  // CONSTANT sensitive value (homogeneity); (10002, B) is small
  private val rows = Seq(
    (1L, "10001", "A", "flu"), (2L, "10001", "A", "flu"),
    (3L, "10001", "A", "flu"),
    (4L, "10002", "B", "flu"), (5L, "10002", "B", "cold"),
    (6L, "10003", "A", "flu"), (7L, "10003", "A", "cold"),
    (8L, "10003", "A", "asthma"))
    .toDF("id", "zip", "age_band", "diagnosis")

  test("classAudit sizes, flags, and sensitive diversity") {
    val audit = Anonymity.classAudit(rows, Seq("zip", "age_band"),
        k = 3, sensitive = col("diagnosis"))
      .collect().map(r => (r.getAs[String]("zip"),
        r.getAs[Long]("class_size"), r.getAs[Boolean]("anonymous"),
        r.getAs[Long]("l_distinct"))).sortBy(_._1).toSeq
    assert(audit == Seq(
      ("10001", 3L, true, 1L), // anonymous but homogeneous
      ("10002", 2L, false, 2L),
      ("10003", 3L, true, 3L)))
  }

  test("report: effective k / l and the release-gate flag") {
    val r = Anonymity.report(rows, Seq("zip", "age_band"),
      k = 3, l = 2, sensitive = col("diagnosis")).collect().head
    assert(r.getAs[Long]("n_classes") == 3)
    assert(r.getAs[Long]("n_violating_classes") == 1)
    assert(r.getAs[Long]("n_rows_at_risk") == 2)
    assert(r.getAs[Long]("k_effective") == 2)
    assert(r.getAs[Long]("l_effective") == 1)
    assert(!r.getAs[Boolean]("passes")) // fails BOTH k and l here
  }

  test("rowRisk flags exactly the small classes' rows; coarsening " +
    "the QI remediates") {
    val risky = Anonymity.rowRisk(rows, Seq("zip", "age_band"),
        k = 3, sensitive = col("diagnosis"))
      .filter(col("suppress")).select("id").as[Long]
      .collect().sorted.toSeq
    assert(risky == Seq(4L, 5L))
    // remediation: generalize zip to 4 digits AND drop the age band
    // from the QI — the classes merge over the small one and the
    // k-audit passes (l=1 bar: diagnosis diversity isn't the point
    // of this step)
    val coarse = rows.withColumn("zip", substring(col("zip"), 1, 4))
    val r2 = Anonymity.report(coarse, Seq("zip"),
      k = 3, l = 1, sensitive = col("diagnosis")).collect().head
    assert(r2.getAs[Boolean]("passes"))
  }

  test("q165 runs and matches a direct group-by") {
    val df = SparkEntry.queries("q165_k_anonymity")(spark,
      "/root/testdata/sf0.001")
    val direct = graft.core.Tables
      .load(spark, "/root/testdata/sf0.001", "customer")
      .groupBy("c_nationkey", "c_mktsegment").count()
    assert(df.count() == direct.count())
    assert(df.agg(sum("class_size")).collect().head.getLong(0) ==
      graft.core.Tables.load(spark, "/root/testdata/sf0.001",
        "customer").count())
  }

  test("dpCounts: reproducible, finite, and thresholded") {
    val df = (1 to 200).map(i => (s"g${i % 7}", i)).toDF("g", "x")
    val a = Anonymity.dpCounts(df, Seq("g"), epsilon = 0.5,
      threshold = 25.0).collect().sortBy(_.getString(0))
    val b = Anonymity.dpCounts(df.repartition(5), Seq("g"), epsilon = 0.5,
      threshold = 25.0).collect().sortBy(_.getString(0))
    // seeded LCG: identical across runs and partitionings
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    a.foreach { r =>
      val noisy = r.getAs[Double]("n_noisy")
      assert(!noisy.isNaN && !noisy.isInfinite)
      // Laplace(2) noise via a clamped inverse CDF is bounded by
      // -b*ln(1e-12) ~ 55.3; counts here are ~28 or ~29
      assert(math.abs(noisy - 200.0 / 7) < 60.0)
      assert(r.getAs[Boolean]("released") == (noisy >= 25.0))
    }
  }

  test("dpCounts: a NULL class key is a real class, ranked first") {
    val df = Seq(Some("a"), Some("a"), None, None, None)
      .map(Tuple1(_)).toDF("g")
    val out = Anonymity.dpCounts(df, Seq("g"), epsilon = 0.5,
        threshold = 1.0)
      .collect().map(r => Option(r.getString(0)) -> r.getAs[Double]("n_noisy"))
      .toMap
    assert(out.size == 2 && out.contains(None))
    // the null class got gid=1 (nulls first): its noise is the gid=1
    // LCG draw, same as a lone non-null first class would get
    val lone = Anonymity.dpCounts(
        Seq("z", "z", "z").map(Tuple1(_)).toDF("g"),
        Seq("g"), epsilon = 0.5, threshold = 1.0)
      .collect().head.getAs[Double]("n_noisy")
    assert(out(None) == lone) // both count 3 at gid=1
  }

  test("dpCounts unseeded (CSPRNG) mode: fresh noise per release, " +
    "same mechanism envelope") {
    val df = (1 to 200).map(i => (s"g${i % 7}", i)).toDF("g", "x")
    def draw() = Anonymity.dpCounts(df, Seq("g"), epsilon = 0.5,
        threshold = 25.0, seeded = false)
      .collect().sortBy(_.getString(0))
    val a = draw()
    val b = draw()
    // fresh SecureRandom salt per call: the two releases must differ
    // (7 classes x 52-bit uniforms — a collision is astronomically
    // unlikely, so equality means the salt was reused)
    assert(a.map(_.toSeq).toSeq != b.map(_.toSeq).toSeq,
      "unseeded releases must not repeat noise")
    // distribution sanity: same clamped-Laplace envelope as seeded
    // mode, centered on the true count 200/7
    (a ++ b).foreach { r =>
      val noisy = r.getAs[Double]("n_noisy")
      assert(!noisy.isNaN && !noisy.isInfinite)
      assert(math.abs(noisy - 200.0 / 7) < 60.0)
      assert(r.getAs[Boolean]("released") == (noisy >= 25.0))
    }
    // ... and within one release the PRF is a function of the class
    // rank: re-collecting the SAME frame is stable
    val frame = Anonymity.dpCounts(df, Seq("g"), epsilon = 0.5,
      threshold = 25.0, seeded = false)
    assert(frame.collect().map(_.toSeq).toSeq ==
      frame.collect().map(_.toSeq).toSeq)
  }

  test("dpRelease withholds below-threshold classes and the flag") {
    // classes: 4 big (>= 40 rows), 3 tiny (1 row) — threshold 25 with
    // |noise| < 20 at eps=0.5 in this seeded draw releases exactly the
    // big ones
    val df = ((1 to 160).map(i => s"big${i % 4}") ++
      Seq("tinyA", "tinyB", "tinyC")).map(Tuple1(_)).toDF("g")
    val audit = Anonymity.dpCounts(df, Seq("g"), epsilon = 0.5,
      threshold = 25.0).collect()
    val released = Anonymity.dpRelease(df, Seq("g"), epsilon = 0.5,
      threshold = 25.0)
    // the release frame is exactly the audit's released=true rows,
    // minus the flag column (key-domain membership of suppressed
    // classes must not leak)
    assert(!released.columns.contains("released"))
    val expect = audit.filter(_.getAs[Boolean]("released"))
      .map(r => (r.getString(0), r.getAs[Double]("n_noisy"))).toSet
    assert(released.collect()
      .map(r => (r.getString(0), r.getAs[Double]("n_noisy"))).toSet
      === expect)
    // and the tiny classes really were withheld in this draw
    assert(!expect.exists(_._1.startsWith("tiny")))
    assert(expect.size == 4)
  }

  test("dpCounts validates epsilon and class columns") {
    val df = Seq(("a", 1)).toDF("g", "x")
    intercept[IllegalArgumentException] {
      Anonymity.dpCounts(df, Nil, epsilon = 0.5, threshold = 1.0)
    }
    intercept[IllegalArgumentException] {
      Anonymity.dpCounts(df, Seq("g"), epsilon = 0.0, threshold = 1.0)
    }
  }
}
