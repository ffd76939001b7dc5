package graft

import org.apache.spark.sql.functions._

import graft.operators.Bm25
import graft.ops.{FuzzyLink, PageRank, Splits}

/** BM25 retrieval, PageRank, blocked fuzzy linkage, k-fold CV. */
class RetrievalGraphSpec extends SparkTestBase {
  import spark.implicits._

  // ---- BM25 -----------------------------------------------------------

  private def bm25Ref(docs: Seq[(Long, String)], query: String,
      k1: Double = 1.2, b: Double = 0.75): Map[Long, Double] = {
    // straight-line single-threaded reference of the same formula
    val toks = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty) }
    val n = toks.size
    val avgdl = toks.map(_._2.size).sum.toDouble / n
    val dfm = toks.flatMap(_._2.distinct).groupBy(identity)
      .map { case (t, xs) => t -> xs.size }
    val qts = query.trim.toLowerCase.split("\\s+").toSeq.distinct
    toks.map { case (id, ts) =>
      val dl = ts.size
      val scoreS = qts.flatMap { t =>
        val tf = ts.count(_ == t)
        if (tf == 0) None else {
          val df = dfm(t)
          val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
          val c = idf * tf * (k1 + 1.0) /
            (tf + k1 * (1.0 - b + b * dl / avgdl))
          Some(math.round(c * 1e6))
        }
      }.sum
      id -> math.rint(scoreS.toDouble / 1e6 * 1e4) / 1e4
    }.filter(_._2 != 0.0).toMap
  }

  test("bm25: matches a single-threaded reference; ranks sensibly") {
    val docs = Seq(
      (1L, "spark joins tables with hash join"),
      (2L, "join join join everywhere a join"),
      (3L, "window aggregation over streams"),
      (4L, "hash partitioned shuffle join strategy and more words here"),
      (5L, "nothing relevant at all"))
    val qs = Seq((0L, "hash join")).toDF("query_id", "qtext")
    val out = Bm25.topK(docs.toDF("doc_id", "text"), "doc_id", "text",
        qs, "query_id", "qtext", k = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    val ref = bm25Ref(docs, "hash join")
    // every returned (doc, score) matches the reference computation
    out.foreach { case (id, s, _) =>
      assert(math.abs(ref(id) - s) < 1e-9, s"doc $id: $s vs ${ref(id)}") }
    assert(out.map(_._1).toSet == ref.keySet) // and nothing is missing
    // doc 5 shares no term: absent
    assert(!out.map(_._1).contains(5L))
    // both-term docs (1, 4) outrank the tf-spam single-term doc 2
    val rankOf = out.map(x => x._1 -> x._3).toMap
    assert(rankOf(1L) < rankOf(2L))
    assert(rankOf(4L) < rankOf(2L))
  }

  test("bm25: query terms are a set (duplicates don't double-count)") {
    val docs = Seq((1L, "alpha beta"), (2L, "alpha gamma")).toDF("doc_id", "text")
    def run(q: String) = Bm25.topK(docs, "doc_id", "text",
        Seq((0L, q)).toDF("query_id", "qtext"), "query_id", "qtext", 5)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(run("alpha") == run("alpha alpha alpha"))
  }

  test("bm25 index: publish + update equals full-corpus search") {
    val docs = Seq(
      (1L, "spark joins tables with hash join"),
      (2L, "join join join everywhere a join"),
      (3L, "window aggregation over streams"),
      (4L, "hash partitioned shuffle join strategy and more words here"),
      (5L, "nothing relevant at all"),
      (6L, "hash maps and hash sets"),
      (7L, "")).toDF("doc_id", "text")
    val qs = Seq((0L, "hash join"), (1L, "streams")).toDF("query_id", "qtext")
    val path = graft.core.Scratch.root(docs) +
      s"/bm25idx_spec_${java.util.UUID.randomUUID()}"
    graft.core.Scratch.registerForCleanup(path)
    graft.operators.Bm25Index.publish(
      docs.filter($"doc_id" <= 4), "doc_id", "text", path)
    graft.operators.Bm25Index.update(
      docs.filter($"doc_id" > 4), "doc_id", "text", path)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSeq
    val incremental = rows(graft.operators.Bm25Index.searchFrom(
      spark, path, qs, "query_id", "qtext", "doc_id", k = 10))
    val full = rows(Bm25.topK(docs, "doc_id", "text",
      qs, "query_id", "qtext", k = 10))
    assert(incremental == full)
    // a second update batch keeps the equivalence (df add-merge path)
    val more = Seq((8L, "hash join hash join")).toDF("doc_id", "text")
    graft.operators.Bm25Index.update(more, "doc_id", "text", path)
    val incremental2 = rows(graft.operators.Bm25Index.searchFrom(
      spark, path, qs, "query_id", "qtext", "doc_id", k = 10))
    val full2 = rows(Bm25.topK(docs.union(more), "doc_id", "text",
      qs, "query_id", "qtext", k = 10))
    assert(incremental2 == full2)
    // maintenance: compaction bin-packs the appended postings files;
    // search results are identical off the compacted layout
    val postingsBefore = graft.core.VersionedTable.files(
      spark, s"$path/postings").size
    graft.operators.Bm25Index.compactIndex(spark, path)
    val postingsAfter = graft.core.VersionedTable.files(
      spark, s"$path/postings").size
    assert(postingsAfter < postingsBefore)
    val compacted = rows(graft.operators.Bm25Index.searchFrom(
      spark, path, qs, "query_id", "qtext", "doc_id", k = 10))
    assert(compacted == full2)
  }

  test("bm25 search plan pins its snapshot against concurrent ingest") {
    val docs = Seq(
      (1L, "hash join strategies"),
      (2L, "window aggregation")).toDF("doc_id", "text")
    val path = graft.core.Scratch.root(docs) +
      s"/bm25idx_iso_${java.util.UUID.randomUUID()}"
    graft.core.Scratch.registerForCleanup(path)
    graft.operators.Bm25Index.publish(docs, "doc_id", "text", path)
    val qs = Seq((0L, "hash join")).toDF("query_id", "qtext")
    // resolving the search frame pins every component version NOW
    val pinned = graft.operators.Bm25Index.searchFrom(
      spark, path, qs, "query_id", "qtext", "doc_id", k = 10)
    // a strongly-matching doc lands AFTER the plan resolved
    graft.operators.Bm25Index.update(
      Seq((9L, "hash join hash join hash join")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    assert(!pinned.collect().map(_.getLong(1)).contains(9L))
    // a fresh search sees the ingested doc (and ranks it first)
    val fresh = graft.operators.Bm25Index.searchFrom(
      spark, path, qs, "query_id", "qtext", "doc_id", k = 10)
    assert(fresh.collect().head.getLong(1) == 9L)
  }

  test("bm25 serve sink logs ranked results exactly once per batch") {
    val docs = Seq(
      (1L, "hash join strategies"),
      (2L, "window aggregation"),
      (3L, "hash maps everywhere")).toDF("doc_id", "text")
    val base = graft.core.Scratch.root(docs)
    val idx = s"$base/bm25idx_srv_${java.util.UUID.randomUUID()}"
    val log = s"$base/bm25log_srv_${java.util.UUID.randomUUID()}"
    Seq(idx, log).foreach(graft.core.Scratch.registerForCleanup)
    graft.operators.Bm25Index.publish(docs, "doc_id", "text", idx)
    val serve = graft.operators.Bm25Index.foreachBatchServe(
      idx, log, "query_id", "qtext", "doc_id", k = 3)
    serve(Seq((0L, "hash join")).toDF("query_id", "qtext"), 0L)
    serve(Seq((1L, "aggregation")).toDF("query_id", "qtext"), 1L)
    def logRows() = graft.core.VersionedTable.read(spark, log)
    assert(logRows().select("_batch_id").distinct().count() == 2)
    val n = logRows().count()
    // replaying a batch is a no-op (and skips the search entirely)
    serve(Seq((1L, "aggregation")).toDF("query_id", "qtext"), 1L)
    assert(logRows().count() == n)
    // an ingest changes results from the NEXT batch on
    graft.operators.Bm25Index.update(
      Seq((9L, "hash join hash join")).toDF("doc_id", "text"),
      "doc_id", "text", idx)
    serve(Seq((2L, "hash join")).toDF("query_id", "qtext"), 2L)
    val b2 = logRows().filter($"_batch_id" === 2L)
      .orderBy($"rn").collect()
    assert(b2.head.getLong(1) == 9L) // new doc ranks first
    // batch 0's logged rows are untouched history
    assert(!logRows().filter($"_batch_id" === 0L)
      .collect().map(_.getLong(1)).contains(9L))
  }

  test("ivf serve sink: exactly-once logging off the probed snapshot") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val base = graft.core.Scratch.root(vecs)
    val idx = s"$base/ivfidx_srv_${java.util.UUID.randomUUID()}"
    val log = s"$base/ivflog_srv_${java.util.UUID.randomUUID()}"
    Seq(idx, log).foreach(graft.core.Scratch.registerForCleanup)
    graft.operators.IvfIndex.publish(
      vecs, "vec_id", "embedding", idx, cells = 2)
    val serve = graft.operators.IvfIndex.foreachBatchServe(
      idx, log, "query_id", "embedding", "vec_id", k = 2, nprobe = 2)
    val q = Seq((100L, Seq(0.95f, 0.05f)))
      .toDF("query_id", "embedding")
    serve(q, 0L)
    val rows = graft.core.VersionedTable.read(spark, log).collect()
    assert(rows.length == 2 && rows.forall(_.getLong(4) == 0L))
    serve(q, 0L) // replay: no growth
    assert(graft.core.VersionedTable.read(spark, log).count() == 2)
  }

  test("bm25 ingest sink auto-compacts every N batches") {
    val path = graft.core.Scratch.root(spark.emptyDataFrame) +
      s"/bm25idx_ac_${java.util.UUID.randomUUID()}"
    graft.core.Scratch.registerForCleanup(path)
    val sink = graft.operators.Bm25Index.foreachBatchIngest(
      path, "doc_id", "text", compactEvery = 2)
    // drive the sink directly (it is just a (batch, id) function):
    // batch 0 publishes, 1-4 append; compaction fires at ids 2 and 4
    (0 to 4).foreach { b =>
      sink(Seq((b.toLong * 10, s"hash join batch $b words"))
        .toDF("doc_id", "text"), b.toLong)
    }
    val postings = graft.core.VersionedTable.files(
      spark, s"$path/postings")
    // without compaction: 1 publish + 4 appends × shuffle files; with
    // compactEvery=2 the tail stays bounded — and search still works
    assert(postings.size <= 3)
    val qs = Seq((0L, "hash join")).toDF("query_id", "qtext")
    val res = graft.operators.Bm25Index.searchFrom(
      spark, path, qs, "query_id", "qtext", "doc_id", k = 10)
    assert(res.count() == 5) // all five docs matched "hash join"
  }

  test("hard negatives: positive and its near-dups are excluded") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),   // exact dup of the positive
      (3L, "alpha beta epsilon zeta"),
      (4L, "alpha unrelated words here"),
      (5L, "totally different content")).toDF("doc_id", "text")
    val qs = Seq((1L, "alpha beta gamma", 1L))
      .toDF("query_id", "qtext", "pos_id")
    val cl = graft.operators.DedupClusters.clusterMap(
      docs, "doc_id", "text", threshold = 0.95)
    val out = graft.operators.HardNegatives.mine(
      docs, "doc_id", "text", qs, "query_id", "qtext", "pos_id",
      cl, n = 3, candidateK = 10)
      .collect().map(r => (r.getLong(1), r.getInt(3)))
    val negs = out.map(_._1)
    assert(!negs.contains(1L), "positive itself leaked into negatives")
    assert(!negs.contains(2L), "near-dup of positive is a false negative")
    assert(negs.contains(3L)) // genuinely similar but distinct: the
                              // hard negative the miner exists to find
    assert(out.map(_._2).toSeq == (1 to out.length).toSeq)
  }

  test("retrieval metrics: ranks, reciprocal ranks, misses") {
    val results = Seq(
      (0L, 10L, 1), (0L, 11L, 2), (0L, 12L, 3),
      (1L, 10L, 1), (1L, 13L, 2)).toDF("query_id", "doc_id", "rn")
    val qrels = Seq((0L, 11L), (1L, 99L)).toDF("query_id", "pos_id")
    val out = graft.operators.RetrievalMetrics.evaluate(
        results, "doc_id", qrels, "pos_id", k = 5)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getInt(1)),
        r.getDouble(2), r.getBoolean(3))).toSeq
    assert(out == Seq(
      (0L, Some(2), 0.5, true),
      (1L, None, 0.0, false)))  // unretrieved positive: rr 0, no hit
  }

  test("bm25 ingest sink: exactly-once, crash-rollback mid-update") {
    val d0 = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    val d1 = Seq((3L, "alpha gamma delta")).toDF("doc_id", "text")
    val d2 = Seq((4L, "beta beta epsilon")).toDF("doc_id", "text")
    val qs = Seq((0L, "alpha beta")).toDF("query_id", "qtext")
    val path = graft.core.Scratch.root(d0) +
      s"/bm25sink_${java.util.UUID.randomUUID()}"
    graft.core.Scratch.registerForCleanup(path)
    val sink = graft.operators.Bm25Index.foreachBatchIngest(
      path, "doc_id", "text")
    def search() = graft.operators.Bm25Index.searchFrom(
        spark, path, qs, "query_id", "qtext", "doc_id", k = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    def full(docs: org.apache.spark.sql.DataFrame) =
      graft.operators.Bm25.topK(docs, "doc_id", "text",
        qs, "query_id", "qtext", k = 10)
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq

    sink(d0, 0L)                       // first batch publishes
    sink(d1, 1L)                       // second updates
    assert(search() == full(d0.union(d1)))
    sink(d1, 1L)                       // replay: done marker, no-op
    assert(search() == full(d0.union(d1)))

    // simulate a crash mid-batch-2: intent written, postings half-
    // appended with junk, no done marker — the replay must roll back
    // the junk and apply the batch cleanly
    import graft.core.VersionedTable
    val subs = Seq("postings", "doclen", "termstats", "stats",
      "deletes").map(s => s"$path/$s")
    val pinned = subs.map(s => VersionedTable.latestVersion(spark, s))
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/_txn"))
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/_txn/b2"), false)
    out.write(namedIntent(subs, pinned).getBytes("UTF-8")); out.close()
    VersionedTable.commitAppend(
      Seq((999L, "zzz", 7L)).toDF("doc_id", "token", "tf"),
      s"$path/postings")

    sink(d2, 2L)                       // finds intent → rollback → apply
    assert(search() == full(d0.union(d1).union(d2)))
    // the junk row must be gone from the live postings snapshot
    val junk = VersionedTable.read(spark, s"$path/postings")
      .filter($"doc_id" === 999L).count()
    assert(junk == 0L, "rolled-back partial append leaked")
    sink(d2, 2L)                       // and batch 2 replays as a no-op
    assert(search() == full(d0.union(d1).union(d2)))

    // crash between first-batch publish and its done-marker: the
    // replay must RE-PUBLISH (idempotent overwrite), never append the
    // first batch on top of itself
    val path2 = graft.core.Scratch.root(d0) +
      s"/bm25sink2_${java.util.UUID.randomUUID()}"
    graft.core.Scratch.registerForCleanup(path2)
    val sink2 = graft.operators.Bm25Index.foreachBatchIngest(
      path2, "doc_id", "text")
    sink2(d0, 0L)
    val fs2 = new org.apache.hadoop.fs.Path(path2).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs2.delete(new org.apache.hadoop.fs.Path(s"$path2/_txn/b0.done"), false)
    sink2(d0, 0L)                      // replay without done-marker
    def search2() = graft.operators.Bm25Index.searchFrom(
        spark, path2, qs, "query_id", "qtext", "doc_id", k = 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(search2() == full(d0), "publish replay double-ingested")
    sink2(d1, 1L)
    assert(search2() == full(d0.union(d1)))
  }

  test("ivf ingest sink: exactly-once, crash-rollback, publish replay") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val d0 = emb.filter($"vec_id" < 300)
    val d1 = emb.filter($"vec_id" >= 300 && $"vec_id" < 400)
    val d2 = emb.filter($"vec_id" >= 400 && $"vec_id" < 500)
    val path = graft.core.Scratch.root(emb) +
      s"/ivfsink_${java.util.UUID.randomUUID()}"
    graft.core.Scratch.registerForCleanup(path)
    val ops = graft.operators.IvfIndex
    val sink = ops.foreachBatchIngest(path, "vec_id", "embedding")
    def admitted() = graft.core.VersionedTable
      .read(spark, s"$path/assigned").count()

    sink(d0, 0L); sink(d1, 1L)
    assert(admitted() == d0.count() + d1.count())
    sink(d1, 1L)                        // replay: no double-admit
    assert(admitted() == d0.count() + d1.count())
    // crash mid-batch-2: intent + junk append, no done-marker
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val pinned = graft.core.VersionedTable
      .latestVersion(spark, s"$path/assigned")
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$path/_txn/b2"), false)
    out.write(s"assigned:$pinned".getBytes("UTF-8")); out.close()
    graft.core.VersionedTable.commitAppend(
      Seq((0, 99999L, Seq(0.0))).toDF("cell", "vec_id", "vec"),
      s"$path/assigned")
    sink(d2, 2L)                        // rollback junk, apply cleanly
    assert(admitted() == d0.count() + d1.count() + d2.count())
    assert(graft.core.VersionedTable.read(spark, s"$path/assigned")
      .filter($"vec_id" === 99999L).count() == 0L)
    // publish-replay: lost done-marker on batch 0 re-publishes
    val path2 = graft.core.Scratch.root(emb) +
      s"/ivfsink2_${java.util.UUID.randomUUID()}"
    graft.core.Scratch.registerForCleanup(path2)
    val sink2 = ops.foreachBatchIngest(path2, "vec_id", "embedding")
    sink2(d0, 0L)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path2/_txn/b0.done"), false)
    sink2(d0, 0L)
    assert(graft.core.VersionedTable.read(spark, s"$path2/assigned")
      .count() == d0.count(), "publish replay double-admitted")
  }

  test("ivf index: frozen codebook, batch-order-invariant admission") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val old = emb.filter(pmod($"vec_id", lit(5)) =!= 0)
    val b1 = emb.filter(pmod($"vec_id", lit(5)) === 0 && $"vec_id" < 250)
    val b2 = emb.filter(pmod($"vec_id", lit(5)) === 0 && $"vec_id" >= 250)
    def freshPath() = {
      val p = graft.core.Scratch.root(emb) +
        s"/ivfidx_spec_${java.util.UUID.randomUUID()}"
      graft.core.Scratch.registerForCleanup(p); p
    }
    val ops = graft.operators.IvfIndex
    def results(p: String) = ops.searchFrom(spark, p,
        emb.filter($"vec_id" < 5), "vec_id", "embedding", "vec_id",
        k = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq

    // one-shot admission
    val pA = freshPath()
    ops.publish(old, "vec_id", "embedding", pA)
    val cbBefore = ops.readCodebook(spark, pA).map(_.toSeq).toSeq
    ops.update(b1.union(b2), "vec_id", "embedding", pA)
    // split admission must produce the identical index
    val pB = freshPath()
    ops.publish(old, "vec_id", "embedding", pB)
    ops.update(b1, "vec_id", "embedding", pB)
    ops.update(b2, "vec_id", "embedding", pB)
    assert(results(pA) == results(pB))
    assert(results(pA).nonEmpty)
    // admission never retrains: the codebook is frozen
    assert(ops.readCodebook(spark, pA).map(_.toSeq).toSeq == cbBefore)
  }

  // ---- PageRank -------------------------------------------------------

  private def pageRankRef(edges: Seq[(Long, Long, Long)], iters: Int,
      d: Double = 0.85): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.size
    val outw = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r: Map[Long, Long] = nodes.map(_ -> math.round(1e9 / n)).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (s, _, w) =>
          math.round(r(s).toDouble * w.toDouble / outw(s).toDouble) }.sum }
      val dangling = nodes.filterNot(outw.contains).map(r).sum
      r = nodes.map { nd =>
        nd -> math.round((1.0 - d) * 1e9 / n +
          d * (in.getOrElse(nd, 0L).toDouble + dangling.toDouble / n))
      }.toMap
    }
    r
  }

  test("pagerank: matches reference bit-for-bit, incl. dangling mass") {
    // 4 is dangling (no out-edges); 1 is the hub everyone links to
    val edges = Seq(
      (2L, 1L, 3L), (3L, 1L, 1L),
      (1L, 2L, 1L), (2L, 4L, 1L), (3L, 4L, 2L))
    val out = PageRank.run(edges.toDF("src", "dst", "w"),
        "src", "dst", "w", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ref = pageRankRef(edges, 3)
    assert(out == ref)
    // node 3 has no in-edges: it holds exactly the teleport + dangling
    // base and nothing else — the minimum
    assert(out(3L) == out.values.min)
    // total mass conserved within per-node rounding
    assert(math.abs(out.values.sum - 1000000000L) < 1000L)
  }

  test("pagerank: zero-weight edges are non-edges") {
    val clean = Seq((1L, 2L, 2L), (2L, 1L, 1L))
    val noisy = clean ++ Seq((1L, 3L, 0L))   // w=0: must not register
    def res(e: Seq[(Long, Long, Long)]) =
      PageRank.run(e.toDF("src", "dst", "w"), "src", "dst", "w", 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // without the guard, node 3 would enter the graph and node 1's
    // out_w division could blow up; with it, results are identical
    assert(res(noisy) == res(clean))
  }

  test("pagerank: partitioning never changes the result") {
    val edges = (1L to 40L).map(i => (i, i % 7 + 1, i % 3 + 1))
    val df1 = edges.toDF("src", "dst", "w").repartition(1)
    val df8 = edges.toDF("src", "dst", "w").repartition(8)
    def res(df: org.apache.spark.sql.DataFrame) =
      PageRank.run(df, "src", "dst", "w", iters = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res(df1) == res(df8))
  }

  // ---- FuzzyLink ------------------------------------------------------

  test("fuzzy link: blocked pairs found, cross-block pairs skipped") {
    val df = Seq(
      "small ring", "small rings",   // dist 1, share block "small"
      "small ring",                  // dup row: support count 2
      "smol ring",                   // dist 2 to "small ring" via "ring"
      "big widget", "bag widget",    // dist 1 via "widget"
      "zzz", "zzy",                  // single tokens: blocks differ
      "red bolt", "rod belt"         // dist 2 but NO shared block token
    ).toDF("name")
    val out = FuzzyLink.selfLink(df, "name", maxDist = 2)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    val pairs = out.map(x => (x._1, x._2)).toSet
    assert(pairs.contains(("small ring", "small rings")))
    assert(pairs.contains(("small ring", "smol ring")))
    assert(pairs.contains(("bag widget", "big widget")))
    // blocking recall bound: pairs sharing NO block token are skipped
    // (single-token values block on the whole token)
    assert(!pairs.contains(("zzy", "zzz")))
    assert(!pairs.contains(("red bolt", "rod belt")))
    // support counts surface the pre-dedup row counts
    val sr = out.find(x => x._1 == "small ring" && x._2 == "small rings").get
    assert(sr._4 == 2L && sr._5 == 1L)
    // no duplicate pairs despite two blocking passes
    assert(pairs.size == out.length)
  }

  // ---- k-fold ---------------------------------------------------------

  test("kfold: deterministic, in range, cluster-stable") {
    val df = (1L to 500L).map(i => (i, i / 5)).toDF("id", "cluster_id")
    val out = Splits.kfold(df, col("cluster_id"), "s", k = 5)
    val folds = out.select("cluster_id", "fold").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(folds.forall { case (_, f) => f >= 0 && f < 5 })
    // same cluster → same fold, always
    assert(folds.groupBy(_._1).values.forall(_.map(_._2).distinct.size == 1))
    // deterministic across invocations
    val out2 = Splits.kfold(df, col("cluster_id"), "s", k = 5)
      .select("cluster_id", "fold").collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(folds.toSeq == out2.toSeq)
    // all 5 folds are populated at this size
    assert(folds.map(_._2).distinct.sorted.toSeq == Seq(0, 1, 2, 3, 4))
  }
}
