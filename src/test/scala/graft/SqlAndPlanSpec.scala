package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}

import graft.sql.GraftSql

class SqlAndPlanSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  test("SQL entry point: tables + custom functions usable from SQL") {
    val out = GraftSql.sql(spark, sfDir,
      """SELECT doc_id,
        |  simhash64(split(lower(text), '\\s+')) AS sh,
        |  size(minhash_signature(
        |    word_shingles(split(lower(text), '\\s+'), 3), 16)) AS klen
        |FROM documents WHERE doc_id < 5""".stripMargin).collect()
    assert(out.length == 5)
    assert(out.forall(_.getInt(2) == 16))
    val ann = GraftSql.sql(spark, sfDir,
      """SELECT vec_id,
        |  hyperplane_lsh(embedding, 8) AS bucket,
        |  hyperplane_lsh(embedding, 8, 7) AS bucket_seed7
        |FROM embeddings WHERE vec_id < 3""".stripMargin).collect()
    assert(ann.forall(r => r.getLong(1) != r.getLong(2)))
  }

  test("SQL relational query over registered views matches catalog") {
    val viaSql = GraftSql.sql(spark, sfDir,
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql.values.sum == 6000)
  }

  test("oracle string-list literals escape embedded apostrophes") {
    // a stopword like don't spliced unescaped would terminate the SQL
    // literal early and break the q120 oracle
    assert(OracleSql.sqlStringList(Seq("don't", "the")) ==
      "['don''t', 'the']")
    assert(OracleSql.sqlStringList(Seq("it's")) == "['it''s']")
  }

  // ---- plan assertions: the scale contract ---------------------------

  private def collectPlan(p: SparkPlan): Seq[SparkPlan] = {
    // AQE hides subtrees outside `children`: descend into the adaptive
    // plan, materialized query stages, and reused exchanges
    val next: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      case _ => p.children
    }
    p +: next.flatMap(collectPlan)
  }

  private def executedNodes(name: String): Seq[SparkPlan] = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect() // force AQE to finalize
    collectPlan(df.queryExecution.executedPlan)
  }

  test("no accidental cartesian products in the catalog") {
    // q26/q28 are deliberate bounded cross joins (100-doc / 10-query
    // candidate sets); everything else must plan an equi-join — q40's
    // cell assignment is now a narrow map (NearestCells), so it is
    // held to the same bar
    // q52's single-row broadcast (corpus size N attached to every tf
    // row) is the scale-correct scalar-attach plan, not an accident;
    // q68 attaches the single-row feasible corpus size T to the
    // |sources|-row rate table the same way; q83 attaches the 1-row
    // (lo, hi) percentile bounds to the fact scan, q84 the 1-row total
    // token count N to the support-filtered bigram table, and q89 the
    // 1-row merged sketch to the 10-row top-k — all scalar-attach
    val allowed = Set("q26_ngram_jaccard", "q28_ann_bruteforce",
      "q52_tfidf", "q68_corpus_mix", "q83_winsorize",
      "q84_pmi_bigrams", "q89_heavy_hitters",
      "q93_containment", // q93: q26's bounded broadcast verifier shape
      "q108_dsir_weights", // 1-row totals attached to the 256-bucket LR table
      "q116_pq_adc", // q28's deliberate shape: corpus codes × 10 broadcast queries
      "q118_ann_recall", // composes q28's exact top-5 as the recall reference
      "q129_hashed_tfidf", // q52's scalar-attach (corpus N) via TfIdf.score
      "q130_text_ann", // q28's deliberate brute-force query×corpus baseline
      "q135_bm25", // scalar-attach: 1-row (N, avgdl) onto matched postings
      "q136_pagerank", // scalar-attach: 1-row node count / dangling mass per round
      "q139_bm25_incremental", // q135's scalar-attach + 1-row×1-row stats add
      "q140_langid_trained", // doc-grams × |langs|-row broadcast: the C&T scoring shape
      "q141_hard_negatives", // q135's scalar-attach inside the candidate stage
      "q142_retrieval_metrics", // same bm25 candidate stage feeding the eval join
      "q145_syndication_rank", // PageRank's 1-row scalar-attach per round
      "q146_hybrid_rrf", // q135's scalar-attach in the sparse half + 1-row corpus N on the query vectors
      "q149_mmr_rerank", // shortlist feed is q28's deliberate broadcast-queries baseline
      "q154_rag_context", // composes q146's scalar-attach stages
      "q155_passage_search", // bm25 scalar-attach over the chunk table
      "q156_hybrid_ab_eval", // composes q146's scalar-attach stages twice
      "q157_contrastive_triplets", // q141's bm25 scalar-attach in the candidate stage
      "q159_hybrid_ivf", // bm25 scalar-attach + 1-row corpus N on the query vectors
      "q173_bm25_forget", // q135's scalar-attach; the tombstone anti-join is a broadcast hash join
      "q176_unigram_vocab", // scalar-attach: 1-row kept-set total onto the vocab for the ln scores
      "q182_unigram_em", // same scalar-attach over the EM-refined kept set
      "q208_roc_auc", // one-vs-rest explode: |classes|-row broadcast (q140's shape)
      "q209_target_encode", // scalar-attach: 1-row global prior onto the (cat, fold) table
      "q210_chi2_terms", // scalar-attach: 1-row corpus totals onto the term counts
      "q213_period_detect", // 6-row lag-spine broadcast onto the series
      "q218_lead_lag", // 7-row lag-spine broadcast onto the hourly buckets
      "q219_pr_auc", // one-vs-rest explode: |classes|-row broadcast (q208's shape)
      "q214_ks_drift", // scalar-attach: 1-row spine-guard stats onto the bounded count spine
      "q222_ks_coarse", // same guard scalar-attach (the coarsening branch consumes it)
      "q226_incremental_ks", // same guard scalar-attach over the maintained histogram
      "q224_unigram_soft_em", // q182's scalar-attach over the soft-EM kept set
      "q227_unigram_train") // q224's scalar-attach per training round + the final vocab-sized rescore
    // a renamed query must fail here, not leave a dead allowance
    val dead = allowed -- SparkEntry.queries.keySet
    assert(dead.isEmpty, s"allowlisted names not in the catalog: $dead")
    SparkEntry.queries.keys.filterNot(allowed).toSeq.sorted.foreach { name =>
      val cartesian = executedNodes(name).exists {
        case _: CartesianProductExec => true
        case b: org.apache.spark.sql.execution.joins
            .BroadcastNestedLoopJoinExec => true
        case _ => false
      }
      assert(!cartesian, s"$name planned a cartesian/nested-loop join")
    }
  }

  test("dimension joins broadcast the small side") {
    val joins = executedNodes("q06_join_inner").collect {
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty, "part-side join should be broadcast")
  }

  test("column pruning reaches the parquet scan") {
    val scans = executedNodes("q20_text_stats").collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val readCols = scans.head.requiredSchema.fieldNames.toSet
    // only doc_id + text needed; lang/source/n_chars must be pruned
    assert(readCols == Set("doc_id", "text"), s"read $readCols")
  }

  test("column pruning holds for the round-2 pipeline queries") {
    // q67 must not read events.props/value; q65/q66 only doc_id+text
    val byQuery = Map(
      "q65_decontam" -> Set("doc_id", "text"),
      "q66_repetition" -> Set("doc_id", "text"),
      "q67_scd2" -> Set("event_id", "ts", "user_id", "event_type"))
    for ((name, expected) <- byQuery) {
      val scans = executedNodes(name).collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty, s"$name: no parquet scan found")
      scans.foreach { s =>
        val readCols = s.requiredSchema.fieldNames.toSet
        assert(readCols.subsetOf(expected),
          s"$name reads unpruned columns: $readCols")
      }
    }
  }

  test("filter pushdown reaches the scan for q14") {
    val scans = executedNodes("q14_filters").collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val pushed = scans.head.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("In(l_returnflag"), s"pushed=$pushed")
    assert(pushed.contains("l_quantity"), s"pushed=$pushed")
  }

  test("partition filters prune a hive-partitioned table at the scan") {
    import graft.core.TableIO
    val root = java.nio.file.Files
      .createTempDirectory("graft-prune").toString
    val df = spark.range(0, 100)
      .selectExpr("id", "CAST(id % 5 AS STRING) AS part")
    TableIO.overwrite(df, s"$root/t", partitionCols = Seq("part"))
    val q = TableIO.read(spark, s"$root/t")
      .filter(org.apache.spark.sql.functions.col("part") === "3")
    q.collect()
    val scans = collectPlan(q.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    // the partition predicate must prune at listing time (1 of 5
    // directories read), not as a post-scan filter
    assert(scans.head.partitionFilters.nonEmpty,
      "partition filter not pushed to the scan")
    assert(scans.head.relation.location
      .listFiles(scans.head.partitionFilters, Nil).length == 1,
      "scan did not prune to a single partition")
  }

  test("IVF cell assignment plans zero exchanges (narrow map)") {
    // the stage that touches every corpus row must not shuffle: the
    // codebook rides inside the fused NearestCells expression
    val emb = core.Tables.load(spark, sfDir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding")
          .cast("array<double>").as("v"))
    val codebook = Array.tabulate(8, 16)((j, d) =>
      math.sin(j * 31.0 + d * 7.0))
    val assigned = graft.operators.SimilarityOps
      .assignCells(emb, "v", codebook)
    assigned.collect()
    val exchanges = collectPlan(assigned.queryExecution.executedPlan)
      .collect { case e: Exchange => e }
    assert(exchanges.isEmpty,
      s"cell assignment shuffled: ${exchanges.length} exchanges")
  }

  test("market share broadcasts every dimension chain") {
    // region/nation/customer and part/supplier must all arrive at the
    // fact scan as broadcasts; only lineitem⋈orders may shuffle
    val joins = executedNodes("q121_market_share").collect {
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.size >= 4,
      s"expected >=4 broadcast joins, got ${joins.size}")
  }

  test("bm25 broadcasts query terms onto the postings table") {
    // the corpus-sized tf relation must meet the query terms through a
    // broadcast hash join — a shuffled join here would re-shuffle the
    // postings for every query batch
    val joins = executedNodes("q135_bm25").collect {
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.nonEmpty,
      "query terms should broadcast-join the postings table")
  }

  test("fuzzy linkage plans equi-joins only (blocking, no all-pairs)") {
    val nodes = executedNodes("q138_fuzzy_link")
    val cartesian = nodes.exists {
      case _: CartesianProductExec => true
      case _: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => true
      case _ => false
    }
    assert(!cartesian, "fuzzy linkage must never form the all-pairs frame")
  }

  test("decode queries are narrow maps: only the output sort " +
    "exchanges") {
    // PNG/gzip/NFC decode is per-row in-expression work; the one
    // permitted exchange is the deterministic output ordering
    Seq("q161_png_decode", "q162_gzip_decode", "q163_nfc_normalize")
      .foreach { n =>
        val df = SparkEntry.queries(n)(spark, sfDir)
        assert(PlanAsserts.countShuffles(df) <= 1,
          s"$n shuffled before the output sort")
      }
  }

  test("training export never shuffles text past the quality gate") {
    val exchanges = executedNodes("q122_training_export").collect {
      case e: Exchange => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val cols = e.child.output.map(_.name)
      assert(!cols.contains("text"),
        s"document text crossed an exchange: $cols")
    }
  }

  test("ordered-fold family plans collapse + keyed sort + output " +
      "order, nothing more") {
    // the scale contract for the whole window-fold family (q190/q191/
    // q194/q195/q200/q207 share this shape): ONE (key, t) collapse
    // exchange + ONE keyed window exchange + the final presentation
    // orderBy's range exchange, nothing else — lag stages with the
    // same partitioning must reuse the window sort, never add a fourth
    // shuffle (q201), and the bucket rollup (q205) likewise stays here
    for (q <- Seq("q200_ewvar", "q207_kalman", "q201_ew_anomaly",
        "q205_ohlc_bars", "q206_rolling_autocorr")) {
      val df = SparkEntry.queries(q)(spark, sfDir)
      assert(PlanAsserts.countShuffles(df) <= 3, s"$q over-shuffled")
    }
    // decomposition adds the slot-grain stats + centering + join back;
    // bound it so a future edit can't quietly go quadratic in
    // exchanges (collapse, keyed window, slot agg, slot window, join
    // sides, presentation sort)
    val dec = SparkEntry.queries("q199_seasonal_decompose")(spark, sfDir)
    assert(PlanAsserts.countShuffles(dec) <= 7, "q199 over-shuffled")
  }

  test("eval/graph/drift family shuffle budgets hold") {
    // scale contract for the round-10 additions: every budget counts
    // the map-combined aggregations, the bounded-table windows, and
    // the presentation sort — nothing corpus-shaped may add exchanges
    for ((q, budget) <- Seq(
        "q208_roc_auc" -> 5, // class spine agg, buckets, window, sort
        "q219_pr_auc" -> 5, // same bucket shape, desc window
        "q209_target_encode" -> 6, // (cat,fold) agg, cat window, fold/global aggs, sort
        "q210_chi2_terms" -> 6, // presence distinct, term agg, totals, top-k sort
        "q212_dp_counts" -> 4, // class agg, rank window, sort
        "q214_ks_drift" -> 7, // two side counts, spine join, bounded window, + the in-plan guard stats subtree (replaced the separate eager probe JOB — one action instead of two per evaluation)
        "q217_markov_transitions" -> 5, // lag window, transition agg, sort
        "q218_lead_lag" -> 7, // two bucket aggs, aligned join, lag agg, sort
        "q220_source_gini" -> 5)) { // mass agg, rank window, group agg, sort
      val df = SparkEntry.queries(q)(spark, sfDir)
      val n = PlanAsserts.countShuffles(df)
      assert(n <= budget, s"$q over-shuffled: $n > $budget")
    }
  }

  test("dup-span shuffles digests only, never text or raw windows") {
    val exchanges = executedNodes("q119_dup_spans").collect {
      case e: Exchange => e
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { e =>
      val cols = e.child.output.map(_.name)
      assert(!cols.contains("text") && !cols.contains("__s"),
        s"raw text/window crossed an exchange: $cols")
    }
  }

  test("classifier gradient jobs scan the materialized features, not text") {
    // scoreDF materializes the feature frame once; every gradient
    // iteration must then be a scan of the 5-column scratch parquet —
    // if tokenization leaked back into the per-iteration plan, the
    // dominant text-processing cost would multiply by iters at 100 TB
    val docs = core.Tables.load(spark, sfDir, "documents")
    val feats = graft.core.Scratch.materialize(
      graft.operators.QualityClassifier.featureFrame(
        docs, "doc_id", "text",
        org.apache.spark.sql.functions.col("source") === "src0"),
      "clf_feats_test")
    val g = graft.operators.QualityClassifier.gradientFrame(
      feats, Array(0.0, 0.0, 0.0, 0.0))
    g.collect()
    val scans = collectPlan(g.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1, s"expected 1 scan, got ${scans.length}")
    val readCols = scans.head.schema.fieldNames.toSet
    assert(!readCols.contains("text"),
      s"gradient iteration re-reads raw text: $readCols")
    // column pruning even drops the id — the scan reads exactly the
    // label + 3 features the aggregate consumes
    assert(readCols == Set("__y", "f1", "f2", "f3"),
      s"gradient scan reads: $readCols")
  }

  test("classifier gradient reduces to 5 longs before its exchange") {
    // one corpus scan per GD iteration ending in a map-side-combined
    // aggregate: the only exchange carries the 4 partial integer sums
    // plus the fused row count (no standalone count() job)
    val docs = core.Tables.load(spark, sfDir, "documents")
    val feats = graft.operators.QualityClassifier.featureFrame(
      docs, "doc_id", "text",
      org.apache.spark.sql.functions.col("source") === "src0")
    val g = graft.operators.QualityClassifier.gradientFrame(
      feats, Array(0.1, -0.2, 0.3, 0.05))
    g.collect()
    val exchanges = collectPlan(g.queryExecution.executedPlan)
      .collect { case e: Exchange => e }
    assert(exchanges.length == 1, s"expected 1 exchange")
    val crossing = exchanges.head.child.output
    assert(crossing.length == 5 &&
      crossing.forall(_.dataType ==
        org.apache.spark.sql.types.LongType),
      s"gradient exchange carries: $crossing")
  }

  test("funnel scans events once with a single aggregation exchange") {
    // q99's staged formulation re-joined events three times; the fused
    // single-agg version must read the table once and shuffle once on
    // user_id (plus the final orderBy's range exchange)
    val nodes = executedNodes("q99_funnel")
    val scans = nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1, s"expected 1 events scan, got ${scans.length}")
    val exchanges = nodes.collect { case e: Exchange => e }
    assert(exchanges.length <= 2,
      s"expected ≤2 exchanges, got ${exchanges.length}")
  }

  test("dedup-latest plans a single shuffle") {
    val exchanges = executedNodes("q09_dedup_latest").collect {
      case e: Exchange => e
    }
    // one hash exchange for the window; the final orderBy adds a range
    // exchange — anything more means the plan regressed
    assert(exchanges.length <= 2,
      s"expected ≤2 exchanges, got ${exchanges.length}")
  }

  test("BPE encode scans the corpus once (merges run on the vocab)") {
    // q112's encode is a words→vocab join: documents is read exactly
    // once; the only other scan is the scratch-materialized vocab
    val nodes = executedNodes("q112_bpe_encode")
    val docScans = nodes.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.output.exists(_.name == "text") => f
    }
    assert(docScans.length == 1,
      s"expected 1 documents scan, got ${docScans.length}")
  }

  test("PQ encode is a narrow pass: only the output sort exchanges") {
    // training runs as separate collect jobs; the returned encode plan
    // must be scan → in-row codes/mse → orderBy (one range exchange)
    val exchanges = executedNodes("q115_pq_encode").collect {
      case e: Exchange => e
    }
    assert(exchanges.length <= 1,
      s"expected ≤1 exchange, got ${exchanges.length}")
  }

  test("cluster-best ranks representatives without a window sort") {
    // q113's per-cluster argmax is a bounded max(struct) aggregate —
    // a WindowExec here would mean a per-cluster sort crept back in
    val windows = executedNodes("q113_cluster_best").collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty,
      s"expected no window operators, got ${windows.length}")
  }
}
