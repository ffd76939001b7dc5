package graft

import org.apache.spark.sql.functions._

import graft.operators.SimilarityOps

class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("cosine matches hand computation") {
    val df = Seq((Seq(1.0, 0.0, 1.0), Seq(1.0, 1.0, 0.0)))
      .toDF("a", "b")
      .select(SimilarityOps.cosine(col("a"), col("b")).as("c"))
    // dot=1, |a|=|b|=sqrt2 → 0.5
    assert(math.abs(df.collect().head.getDouble(0) - 0.5) < 1e-9)
  }

  test("cosine of zero vector is 0, not NaN") {
    val df = Seq((Seq(0.0, 0.0), Seq(1.0, 1.0))).toDF("a", "b")
      .select(SimilarityOps.cosine(col("a"), col("b")).as("c"))
    assert(df.collect().head.getDouble(0) == 0.0)
  }

  test("bruteForceTopK ranks the planted nearest neighbor first") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.9f, 0.1f, 0.0f)), // nearest to 1
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.bruteForceTopK(corpus,
      corpus.filter(col("vec_id") === 1), "vec_id", "embedding",
      "vec_id", k = 2).orderBy("rn").collect()
    assert(out.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L))
    assert(out.head.getAs[Double]("cos_sim") > 0.99)
  }

  test("hyperplane signature is deterministic and seed-sensitive") {
    val df = Seq((1L, Seq(1.0, 2.0, -0.5)), (2L, Seq(1.0, 2.0, -0.5)),
      (3L, Seq(-1.0, -2.0, 0.5))).toDF("id", "v")
    val sig = df.select(col("id"),
      SimilarityOps.hyperplaneSig(col("v"), 16).as("s1"),
      SimilarityOps.hyperplaneSig(col("v"), 16, seed = 7).as("s2"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(sig(1L)._1 == sig(2L)._1) // same vector → same bucket
    // antipodal vector → complementary sign bits
    assert(sig(1L)._1 == (~sig(3L)._1 & ((1L << 16) - 1)))
    assert(sig(1L)._1 != sig(1L)._2) // different seed → different planes
  }

  test("lshTopK finds the planted duplicate in its bucket") {
    val corpus = (0 until 50).map { i =>
      (i.toLong, Seq.tabulate(8)(d =>
        math.sin(i * 37.0 + d * 13.0).toFloat))
    }.toDF("vec_id", "embedding")
    val dup = Seq((999L, Seq.tabulate(8)(d =>
      math.sin(7 * 37.0 + d * 13.0).toFloat)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.lshTopK(corpus.union(dup), dup, "vec_id",
      "embedding", "vec_id", k = 1, bits = 4).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("neighbor_id") == 7L)
    assert(out.head.getAs[Double]("cos_sim") > 0.999)
  }

  test("ivfTopK finds the planted near-duplicate through cell probing") {
    val corpus = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(d =>
        math.cos(i * 29.0 + d * 11.0).toFloat))
    }.toDF("vec_id", "embedding")
    val probe = Seq((777L, Seq.tabulate(8)(d =>
      (math.cos(13 * 29.0 + d * 11.0) * 1.001).toFloat)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.ivfTopK(corpus.union(probe), probe,
      "vec_id", "embedding", "vec_id", k = 1, cells = 8, nprobe = 3)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("neighbor_id") == 13L)
    assert(out.head.getAs[Double]("cos_sim") > 0.999)
  }

  test("ivfPqTopK recovers the planted duplicate through ADC + rerank") {
    // 8-dim vectors, m=2 subspaces; the near-identical copy of vec 13
    // must survive coarse probing, rank into the ADC shortlist, and
    // come out first after the exact re-rank
    val corpus = (0 until 60).map { i =>
      (i.toLong, Seq.tabulate(8)(d =>
        math.cos(i * 29.0 + d * 11.0).toFloat))
    }.toDF("vec_id", "embedding")
    val probe = Seq((777L, Seq.tabulate(8)(d =>
      (math.cos(13 * 29.0 + d * 11.0) * 1.001).toFloat)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.ivfPqTopK(corpus.union(probe), probe,
      "vec_id", "embedding", "vec_id", k = 1, cells = 8, nprobe = 3,
      coarseIters = 1, m = 2, pqCells = 8, pqIters = 1, rerank = 10)
      .collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("neighbor_id") == 13L)
    assert(out.head.getAs[Double]("cos_sim") > 0.999)
  }

  test("NearestCells matches brute-force argmax ranking") {
    val codebook = Array.tabulate(6, 8)((j, d) =>
      math.cos(j * 17.0 + d * 5.0))
    val vecs = (0 until 40).map(i =>
      (i.toLong, Seq.tabulate(8)(d => math.sin(i * 3.0 + d))))
    val df = vecs.toDF("id", "v")
    val got = df.select(col("id"),
      graft.functions.NearestCells.column(col("v"), codebook, 3).as("c"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    def cos(a: Seq[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val d = math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum)
      if (d == 0.0) 0.0 else dot / d
    }
    vecs.foreach { case (id, v) =>
      val want = codebook.indices
        .sortBy(j => (-cos(v, codebook(j)), j)).take(3)
      assert(got(id) == want, s"vec $id: got ${got(id)}, want $want")
    }
  }

  test("banded LSH recovers all planted near-parallel pairs") {
    // 60 random base vectors + a near-parallel twin for 12 of them
    // (tiny noise → cos > 0.99). With 8 tables × 8 bits the per-pair
    // miss probability at cos 0.99 is ~1e-7 — all twins must surface.
    val rnd = new scala.util.Random(42)
    val base = (0 until 60).map(i =>
      (i.toLong, Seq.fill(32)(rnd.nextGaussian().toFloat)))
    val twins = (0 until 12).map { i =>
      (1000L + i, base(i)._2.map(x =>
        x + (rnd.nextGaussian() * 0.01).toFloat))
    }
    val df = (base ++ twins).toDF("vec_id", "embedding")
    val out = SimilarityOps.embeddingNearDups(df, "vec_id", "embedding",
      threshold = 0.95).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 12).foreach { i =>
      assert(out.contains((i.toLong, 1000L + i)),
        s"planted pair ($i, ${1000 + i}) missed")
    }
  }

  test("LSH table buckets stay bounded on real embeddings") {
    val emb = core.Tables.load(spark, "/root/testdata/sf0.01",
      "embeddings")
    val n = emb.count()
    val maxBucket = emb
      .select(SimilarityOps.lshTables(col("embedding")
        .cast("array<double>"), 8, 8).as(Seq("tbl", "bucket")))
      .groupBy("tbl", "bucket").count()
      .agg(max(col("count"))).collect().head.getLong(0)
    // 2^8 buckets/table over near-uniform sign bits: the biggest
    // bucket must stay a small fraction of the corpus, or within-
    // bucket pair generation reverts to quadratic
    assert(maxBucket < n / 8,
      s"max bucket $maxBucket of $n rows — too skewed")
  }

  test("IVF-PQ recall@5 holds the measured floor at q118's config") {
    // the q118 audit must not just OBSERVE recall — pin it, so a
    // codebook/probe regression (e.g. nprobe silently dropping to 1,
    // which measures 0.82 here) turns this red instead of passing.
    // Current config (nprobe=4, rerank=100) measures 0.92 at sf0.01;
    // the search is deterministic, so 0.90 is real headroom.
    val recalls = SparkEntry.queries("q118_ann_recall")(
      spark, "/root/testdata/sf0.01")
      .select(col("recall_at_5").cast("double")).collect()
      .map(_.getDouble(0))
    val mean = recalls.sum / (5.0 * recalls.length)
    assert(mean >= 0.90, f"mean recall@5 $mean%.3f below 0.90 floor")
  }

  test("text-ANN IVF path holds a recall floor vs the q130 baseline") {
    // q132 (hashed vectors → IVF, the scale path) against q130 (the
    // exhaustive queries×corpus baseline): with 16 first-by-id cells
    // and nprobe=4 the probed fraction is ~1/4 of the corpus, yet the
    // deterministic search must keep recall@5 high — this pins the
    // cell-assignment + probe plumbing, so a silent nprobe/codebook
    // regression turns red instead of passing on "50 rows came back"
    val sf = "/root/testdata/sf0.01"
    def pairs(q: String) = SparkEntry.queries(q)(spark, sf)
      .select(col("query_id").cast("long"),
        col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("q130_text_ann")
    val ivf = pairs("q132_text_ann_ivf")
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.70, f"IVF text-ANN recall@5 $recall%.3f < 0.70")
  }

  test("embeddingNearDups reports exact duplicates with cos 1.0") {
    val df = Seq(
      (1L, Seq(0.5f, 0.5f, 0.1f)),
      (2L, Seq(0.5f, 0.5f, 0.1f)),
      (3L, Seq(-0.5f, 0.4f, 0.9f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.embeddingNearDups(df, "vec_id", "embedding",
      threshold = 0.95, bits = 4).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L)))
  }

  test("semDedup keeps one representative per within-cell dup group") {
    // 2 cells (ids 1, 2 are the codebook). 1/3/4 are near-parallel →
    // same cell, 3 and 4 both lose to smaller id 1; 2/5 opposite cell,
    // not similar enough to each other
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.99f, 0.01f, 0.0f)),
      (4L, Seq(0.98f, 0.02f, 0.0f)),
      (5L, Seq(0.1f, 0.9f, 0.4f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.semDedup(df, "vec_id", "embedding",
      threshold = 0.95, cells = 2)
      .orderBy("vec_id").collect()
    val kept = out.filter(_.getAs[Boolean]("kept")).map(_.getLong(0))
    val drop = out.filterNot(_.getAs[Boolean]("kept"))
      .map(r => r.getLong(0) -> r.getAs[Long]("dup_of")).toMap
    assert(kept.toSet == Set(1L, 2L, 5L))
    assert(drop == Map(3L -> 1L, 4L -> 1L))
  }

  test("semDedup verdict covers every input exactly once") {
    val df = (1L to 40L).map(i =>
      (i, Seq((i % 7).toFloat + 0.1f, (i % 3).toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.semDedup(df, "vec_id", "embedding",
      threshold = 0.999, cells = 4)
    assert(out.count() == 40L)
    assert(out.select("vec_id").distinct().count() == 40L)
    // dropped rows always name a smaller-id keeper
    assert(out.filter(col("dup_of").isNotNull &&
      col("dup_of") >= col("vec_id")).count() == 0L)
  }

  test("kmeansTrain updates member cells and carries empty ones") {
    // init codebook = vecs 1,2,3; vec 3 duplicates vec 1, so every
    // tie resolves to cell 0 and cell 2 ends the round empty — its
    // centroid must carry over unchanged
    val df = Seq(
      (1L, Seq(1.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(1.0f, 0.0f)),
      (4L, Seq(0.8f, 0.2f)))
      .toDF("vec_id", "embedding")
    val cb = SimilarityOps.kmeansTrain(df, "vec_id", "embedding",
      cells = 3, iters = 1)
    // cell 0 members {1, 3, 4} → mean (0.933333, 0.066667) at 6 dp
    assert(cb(0).toSeq == Seq(0.933333, 0.066667))
    assert(cb(1).toSeq == Seq(0.0, 1.0))
    assert(cb(2).toSeq == Seq(1.0, 0.0)) // empty: carried
  }

  test("trained codebook balances cells on the sf0.1 embeddings") {
    val emb = spark.read
      .parquet("/root/testdata/sf0.1/embeddings.parquet")
    val cb = SimilarityOps.kmeansTrain(emb, "vec_id", "embedding",
      cells = 16, iters = 2)
    val sizes = SimilarityOps.assignCells(
      emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("__v")), "__v", cb)
      .groupBy("cell").count().collect().map(_.getLong(1))
    val mean = sizes.sum.toDouble / 16
    assert(sizes.length == 16, "every cell keeps members")
    assert(sizes.max <= 2 * mean,
      s"largest cell ${sizes.max} vs mean $mean")
    assert(sizes.min >= mean / 4,
      s"smallest cell ${sizes.min} vs mean $mean")
  }

  test("maxCellSize bounds pair work on an adversarial mega-cell") {
    // 200 identical embeddings: untrained assignment puts ALL of them
    // in cell 0, the Σ|cell|² worst case. A 10-member cap must split
    // the cell into ceil(200/10) = 20 md5 subcells, so each doc only
    // pairs within its subcell: the kept set is exactly one smallest
    // id per nonempty subcell, not a single global survivor.
    val df = (0L until 200L).map(i => (i, Seq(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val out = SimilarityOps.semDedup(df, "vec_id", "embedding",
      threshold = 0.9, cells = 2, maxCellSize = 10)
      .collect()
    assert(out.length == 200)
    // expected keepers: recompute the deterministic md5 split here
    val expectKept = df.select(col("vec_id"),
        (conv(substring(md5(concat(lit("cellsplit:"),
          col("vec_id").cast("string"))), 1, 8), 16, 10).cast("long")
          % 20L).as("sc"))
      .groupBy("sc").agg(min("vec_id").as("keeper"))
      .collect().map(_.getAs[Long]("keeper")).toSet
    val kept = out.filter(_.getAs[Boolean]("kept"))
      .map(_.getLong(0)).toSet
    assert(kept == expectKept)
    assert(kept.size > 1, "cap split must prevent one global survivor")
    // dropped docs lose to an identical vector: dup_sim is exactly 1
    assert(out.filterNot(_.getAs[Boolean]("kept"))
      .forall(r => r.getAs[Double]("dup_sim") == 1.0))
  }

  test("PQ train + encode match hand computation (m=2, cells=2)") {
    // dim 4 → subspaces [d0,d1] and [d2,d3]; init = slices of v1, v2.
    // One L2 Lloyd round (hand-traced in the assertions below), ties
    // break to the smaller cell.
    val df = Seq(
      (1L, Seq(0f, 0f, 10f, 10f)),
      (2L, Seq(1f, 1f, 11f, 11f)),
      (3L, Seq(0f, 1f, 10f, 11f)),
      (4L, Seq(9f, 9f, 0f, 0f))).toDF("vec_id", "embedding")
    val cbs = SimilarityOps.pqTrain(df, "vec_id", "embedding",
      m = 2, cells = 2, iters = 1)
    // subspace 0: cell0 = mean([0,0],[0,1]) (v3 ties to cell0),
    // cell1 = mean([1,1],[9,9])
    assert(cbs(0)(0).toSeq == Seq(0.0, 0.5))
    assert(cbs(0)(1).toSeq == Seq(5.0, 5.0))
    // subspace 1: cell0 = mean([10,10],[10,11],[0,0]), cell1 = [11,11]
    assert(cbs(1)(0).toSeq == Seq(6.666667, 7.0))
    assert(cbs(1)(1).toSeq == Seq(11.0, 11.0))

    val out = SimilarityOps.pqEncode(df, "vec_id", "embedding",
      m = 2, cells = 2, iters = 1)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    // codes against the trained codebooks; v2's first subspace [1,1]
    // is now nearer cell0 [0,.5] (1.25) than cell1 [5,5] (32)
    assert(out.map(t => (t._1, t._2, t._3)).toSeq ==
      Seq((1L, 0, 1), (2L, 0, 1), (3L, 0, 1), (4L, 1, 0)))
    // exact binary-representable MSEs: (0.25+2)/4 and (1.25+0)/4
    assert(out(0)._4 == 0.5625)
    assert(out(1)._4 == 0.3125)
    assert(out(2)._4 == 0.3125)
  }

  test("PQ ADC ranks by code distance with deterministic ties") {
    // same fixture/codebooks as above; v2 and v3 share v1's codes, so
    // their ADC distances tie exactly (2.25) → id asc; v4 is far
    val df = Seq(
      (1L, Seq(0f, 0f, 10f, 10f)),
      (2L, Seq(1f, 1f, 11f, 11f)),
      (3L, Seq(0f, 1f, 10f, 11f)),
      (4L, Seq(9f, 9f, 0f, 0f))).toDF("vec_id", "embedding")
    val out = SimilarityOps.pqAdcTopK(df,
      df.filter(col("vec_id") === 1), "vec_id", "embedding",
      "vec_id", k = 3, m = 2, cells = 2, iters = 1)
      .orderBy("rn").collect()
    assert(out.map(_.getLong(1)).toSeq == Seq(2L, 3L, 4L))
    assert(out(0).getDouble(2) == 2.25)
    assert(out(1).getDouble(2) == 2.25)
  }
}
