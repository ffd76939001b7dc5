package graft

import org.apache.spark.sql.functions._

import graft.operators.{CentroidClassifier, DedupClusters, HybridSearch,
  MmrRerank}

/** Round-6 retrieval-stack additions: RRF hybrid fusion, nearest-
  * centroid classification, MMR diversification, soft-dedup weights. */
class HybridRerankSpec extends SparkTestBase {
  import spark.implicits._

  // ---- HybridSearch.rrf ------------------------------------------------

  private def ranked(rows: Seq[(Long, Long, Int)]) =
    rows.toDF("query_id", "doc_id", "rn")

  test("rrf: a doc ranked by both systems outranks single-system docs " +
      "at comparable ranks") {
    val sparse = ranked(Seq((0L, 10L, 1), (0L, 11L, 2)))
    val dense = ranked(Seq((0L, 10L, 2), (0L, 12L, 1)))
    val out = HybridSearch.rrf(sparse, "doc_id", dense, "doc_id", k = 3)
      .orderBy("rn").collect()
    // doc 10: 1/61 + 1/62 ≈ 0.0325 beats doc 12 (1/61) and doc 11 (1/62)
    assert(out.map(_.getLong(1)).toSeq == Seq(10L, 12L, 11L))
    val top = out.head
    assert(top.getInt(3) == 1 && top.getInt(4) == 2) // both ranks kept
    assert(out(1).isNullAt(3) && out(1).getInt(4) == 1) // dense-only
  }

  test("rrf: fusion constant c shifts scores but k caps output") {
    val sparse = ranked((1 to 10).map(i => (0L, i.toLong, i)))
    val dense = ranked(Seq.empty[(Long, Long, Int)])
    val out = HybridSearch.rrf(sparse, "doc_id", dense, "doc_id", k = 4)
      .collect()
    assert(out.length == 4)
    assert(out.map(_.getInt(5)).sorted.toSeq == Seq(1, 2, 3, 4))
  }

  test("rrf: ties in rrf score break by doc id") {
    // docs 20 and 21 both appear only in sparse at ranks tied via two
    // queries is impossible per query; instead same rank in different
    // systems: doc 20 sparse rank 3, doc 21 dense rank 3 → equal rrf
    val sparse = ranked(Seq((0L, 20L, 3)))
    val dense = ranked(Seq((0L, 21L, 3)))
    val out = HybridSearch.rrf(sparse, "doc_id", dense, "doc_id", k = 2)
      .orderBy("rn").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(20L, 21L))
  }

  // ---- CentroidClassifier ----------------------------------------------

  test("centroid classifier: separable clusters classify perfectly " +
      "and the scoring plan is shuffle-free") {
    // two well-separated directions in 4-d
    val train = Seq(
      (1L, 0, Seq(1.0f, 0.1f, 0.0f, 0.0f)),
      (2L, 0, Seq(0.9f, 0.0f, 0.1f, 0.0f)),
      (3L, 1, Seq(0.0f, 0.1f, 0.9f, 1.0f)),
      (4L, 1, Seq(0.0f, 0.0f, 1.0f, 0.9f))
    ).toDF("vec_id", "label", "embedding")
    val test_ = Seq(
      (10L, 0, Seq(1.0f, 0.0f, 0.05f, 0.0f)),
      (11L, 1, Seq(0.05f, 0.0f, 0.9f, 0.95f))
    ).toDF("vec_id", "label", "embedding")
    val cents = CentroidClassifier.trainCentroids(train, "label",
      "embedding")
    assert(cents.count() == 2 * 4)
    val pred = CentroidClassifier.classify(test_, "vec_id", "embedding",
      cents)
    val rows = pred.orderBy("vec_id").collect()
    assert(rows.map(_.getInt(1)).toSeq == Seq(0, 1))
    // classify is a narrow map over the test relation: zero shuffles
    assert(PlanAsserts.countShuffles(pred) == 0)
  }

  test("centroid classifier: cosine ties break toward the smaller " +
      "label") {
    // both centroids identical → every cosine ties → label 3 wins over 7
    val train = Seq(
      (1L, 7, Seq(1.0f, 1.0f)), (2L, 3, Seq(1.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val cents = CentroidClassifier.trainCentroids(train, "label",
      "embedding")
    val out = CentroidClassifier.classify(
      Seq((9L, Seq(0.5f, 0.5f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", cents).collect()
    assert(out.head.getInt(1) == 3)
  }

  // ---- MmrRerank -------------------------------------------------------

  test("mmr: prefers a diverse candidate over a redundant higher-rel " +
      "one after round 1") {
    // corpus: 0 is the query's best match; 1 is a near-copy of 0;
    // 2 is less relevant but orthogonal to 0. Round 2 must pick 2.
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f)),
      (1L, Seq(0.99f, 0.05f, 0.0f)),
      (2L, Seq(0.5f, 0.0f, 0.8f))
    ).toDF("vec_id", "embedding")
    // rel: 0.7·0.94 − 0.3·sim(1,0)≈0.999 ≈ 0.358 for the near-copy,
    // 0.7·0.85 − 0.3·sim(2,0)≈0.53  ≈ 0.436 for the diverse one
    val cands = Seq(
      (100L, 0L, 0.95), (100L, 1L, 0.94), (100L, 2L, 0.85)
    ).toDF("query_id", "neighbor_id", "cos_sim")
    val out = MmrRerank.rerank(cands, "cos_sim", corpus, "vec_id",
      "embedding", k = 3, lambda = 0.7)
      .orderBy("rn").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(0L, 2L, 1L))
    // round-1 score is λ·rel
    assert(math.abs(out.head.getDouble(2) - 0.7 * 0.95) < 1e-9)
  }

  test("mmr: queries with fewer candidates than k emit what they have") {
    val corpus = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val cands = Seq((5L, 0L, 0.9), (5L, 1L, 0.8))
      .toDF("query_id", "neighbor_id", "cos_sim")
    val out = MmrRerank.rerank(cands, "cos_sim", corpus, "vec_id",
      "embedding", k = 4, lambda = 0.7).collect()
    assert(out.length == 2)
    assert(out.map(_.getInt(3)).sorted.toSeq == Seq(1, 2))
  }

  test("mmr: a duplicated corpus id fails loudly, naming the " +
      "precondition") {
    // id 0 twice with different vectors: the duplicates would tie on
    // (score, id) and pick by collect order, so the query must fail
    val corpus = Seq((0L, Seq(1.0f, 0.0f)), (0L, Seq(0.0f, 1.0f)),
      (1L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val cands = Seq((5L, 0L, 0.9), (5L, 1L, 0.8))
      .toDF("query_id", "neighbor_id", "cos_sim")
    val e = intercept[Exception] {
      MmrRerank.rerank(cands, "cos_sim", corpus, "vec_id",
        "embedding", k = 2, lambda = 0.7).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).exists(t => Option(t.getMessage)
        .exists(_.contains("unique-id corpus"))), e.toString)
  }

  // ---- KnnClassifier ---------------------------------------------------

  test("knn classifier: separable clumps classify correctly via the " +
      "IVF probe") {
    val train = Seq(
      (1L, 0, Seq(1.0f, 0.0f)), (2L, 0, Seq(0.95f, 0.05f)),
      (3L, 0, Seq(0.9f, 0.1f)), (4L, 0, Seq(0.97f, 0.02f)),
      (5L, 1, Seq(0.0f, 1.0f)), (6L, 1, Seq(0.05f, 0.95f)),
      (7L, 1, Seq(0.1f, 0.9f)), (8L, 1, Seq(0.02f, 0.97f))
    ).toDF("vec_id", "label", "embedding")
    val test_ = Seq(
      (100L, Seq(0.9f, 0.1f)), (101L, Seq(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val out = graft.operators.KnnClassifier.classify(
        train, test_, "vec_id", "embedding", "label",
        k = 3, cells = 4, nprobe = 2)
      .orderBy("query_id").collect()
    assert(out.map(r => (r.getLong(0), r.getInt(1))).toSeq ==
      Seq((100L, 0), (101L, 1)))
    // the first-4-by-id codebook sits in the label-0 clump, so the
    // probed cells can mix labels — majority is what matters
    assert(out.forall(_.getLong(2) >= 2L))
  }

  test("knn classifier: vote ties break toward the smaller label") {
    // four identical train vectors, labels 3 and 5 twice each → any
    // k=4 vote is 2-2 → label 3 must win
    val train = Seq(
      (1L, 5, Seq(1.0f, 0.0f)), (2L, 3, Seq(1.0f, 0.0f)),
      (3L, 5, Seq(1.0f, 0.0f)), (4L, 3, Seq(1.0f, 0.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = graft.operators.KnnClassifier.classify(
      train, Seq((9L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", "label", k = 4, cells = 4, nprobe = 1)
      .collect()
    assert(out.head.getInt(1) == 3 && out.head.getLong(2) == 2L)
  }

  test("knn classifier: a test id colliding with a train id does not " +
      "drop the colliding neighbor") {
    // train vec 7 is the ONLY neighbor aligned with the query; the
    // query's id is also 7 — corpus-internal self-exclusion would
    // silently drop the true nearest neighbor and misclassify
    val train = Seq(
      (7L, 1, Seq(1.0f, 0.0f)), (8L, 0, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "label", "embedding")
    val out = graft.operators.KnnClassifier.classify(
      train, Seq((7L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", "label", k = 1, cells = 2, nprobe = 1)
      .collect()
    assert(out.head.getInt(1) == 1)
  }

  test("weighted knn: one close neighbor outvotes two distant ones") {
    // plain majority (k=3) would pick label 0 (two distant votes);
    // similarity weighting picks label 1 (one ~1.0 vote beats two
    // ~0.44 votes)
    val train = Seq(
      (1L, 0, Seq(0.3f, 0.95f)), (2L, 0, Seq(0.32f, 0.94f)),
      (3L, 1, Seq(1.0f, 0.02f)), (4L, 9, Seq(-1.0f, 0.0f))
    ).toDF("vec_id", "label", "embedding")
    val test_ = Seq((100L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val majority = graft.operators.KnnClassifier.classify(
      train, test_, "vec_id", "embedding", "label",
      k = 3, cells = 4, nprobe = 4).collect()
    val weighted = graft.operators.KnnClassifier.classifyWeighted(
      train, test_, "vec_id", "embedding", "label",
      k = 3, cells = 4, nprobe = 4).collect()
    assert(majority.head.getInt(1) == 0)
    assert(weighted.head.getInt(1) == 1)
  }

  // ---- calibrationCurve ------------------------------------------------

  test("calibration curve: buckets partition the corpus and gap is " +
      "|mean_score − pos_rate|") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "src0"),
      (2L, "alpha beta gamma delta epsilon zeta", "src0"),
      (3L, "one two three four five six seven eight", "src1"),
      (4L, "nine ten eleven twelve thirteen", "src1"),
      (5L, "a b c d e f g h i j k l", "src1")
    ).toDF("doc_id", "text", "source")
    val cc = graft.operators.QualityClassifier.calibrationCurve(
      docs, "doc_id", "text", isPositive = col("source") === "src0",
      buckets = 10).collect()
    assert(cc.map(_.getLong(1)).sum == 5L)
    cc.foreach { r =>
      assert(r.getInt(0) >= 0 && r.getInt(0) <= 9)
      val gap = math.abs(r.getDouble(2) - r.getDouble(3))
      assert(math.abs(r.getDouble(4) - gap) < 1e-6)
    }
  }

  // ---- duplicationWeights ----------------------------------------------

  test("soft-dedup weights: each cluster contributes ~1 doc of mass, " +
      "singletons keep weight 1.0") {
    val cl = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "cluster_id")
    val w = DedupClusters.duplicationWeights(cl, "doc_id")
      .orderBy("doc_id").collect()
    assert(w.map(_.getLong(2)).toSeq == Seq(3L, 3L, 3L, 1L))
    assert(w.last.getDouble(3) == 1.0)
    val mass = w.filter(_.getLong(1) == 1L).map(_.getDouble(3)).sum
    assert(math.abs(mass - 1.0) < 1e-5)
  }
}
