package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Scratch
import graft.functions.Rounding.dround

/** Weighted PageRank by power iteration over an edge DataFrame — the
  * graph-ranking operator a web-crawl curation pipeline uses to weight
  * domains/hosts by link authority (harmonic/PageRank centrality is a
  * standard crawl-quality signal; see Page et al. 1999). Not in the
  * reference — part of the LLM-pipeline extension surface.
  *
  * Determinism (the DuckDB oracle unrolls the identical iterations):
  * ranks are integers scaled by 1e9. Every per-edge contribution is
  * `round(rank_s · w / out_w)` — an exactly-rounded IEEE multiply +
  * divide, identical on any engine — and all sums that cross an
  * exchange are over BIGINTs, so partition order can never flip a
  * digit. Per-iteration rounding to the integer grid replaces the
  * float drift an open-ended power iteration would accumulate.
  *
  * Shape at scale:
  *  - out-degree table is one map-side-combined shuffle on src,
  *    computed ONCE outside the loop;
  *  - each iteration is one join of the rank table with edges on src
  *    (both sides hash-partitioned on the same key — a co-partitioned
  *    shuffle reused round to round) plus one map-side-combined
  *    aggregate on dst;
  *  - dangling mass and node count are single-row aggregates broadcast
  *    back, never driver-side collects of data-sized results;
  *  - every round's rank table is materialized to scratch and the
  *    previous round dropped ([[Scratch]]), so lineage stays O(1) and
  *    a failed executor re-reads the round table instead of replaying
  *    the whole chain — the [[graft.operators.DedupClusters]] pattern.
  *
  * Scaled-int overflow envelope: rank_s ≤ 1e9 (total mass), so
  * `rank_s · w` stays inside the 2^53 double-exact range while
  * edge weights are < ~9e6; weights here are co-occurrence counts.
  * For heavier weights, pre-normalize weights per src (they only ever
  * appear as w/out_w).
  */
object PageRank {

  private val Scale = 1e9

  /** @param edges   (src, dst, weight) — weight a positive integral
    *                count column
    *  @param iters  power-iteration rounds (fixed — callers wanting
    *                convergence detection compare successive rounds)
    *  @return (node, rank_s, rank): scaled-integer rank and its
    *          1e-9-scale double, rank summing to ~1 over all nodes
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: String, iters: Int, damping: Double = 0.85)
      : DataFrame = {
    val spark = edges.sparkSession
    // the loop references edges / nodes / out-weights EVERY round —
    // materialize each once so iterations re-read small scratch
    // parquet instead of replaying the upstream edge derivation
    // (at scale: compute the partitioned edge table once, like any
    // graph system's build step)
    // zero/negative weights are non-edges: kept in, a w<=0 row could
    // zero a node's out_w and the contribution divide would produce
    // Infinity (an ANSI-mode crash at the long cast), so drop them at
    // the door
    val (e, ePath) = Scratch.materializeWithPath(
      edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
        col(weightCol).cast("long").as("w"))
        .filter(col("w") > 0),
      "pagerank_edges")
    // nodes and out-weights both derive from the already-materialized
    // edge table — independent builds, overlapped (guide §2.6)
    val ((nodes, nodesPath), (outw, outwPath)) = graft.core.Par.run2(
      () => Scratch.materializeWithPath(
        e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct(),
        "pagerank_nodes"),
      () => Scratch.materializeWithPath(
        e.groupBy(col("src")).agg(sum(col("w")).as("out_w")),
        "pagerank_outw"))
    // node count: ONE bounded 1-row collect off the materialized node
    // table, inlined as a literal — the old in-plan broadcast subtree
    // re-ran the count per round (separate actions never share a
    // BroadcastExchange), a job per iteration for a constant
    val nNodes = nodes.agg(count(lit(1)).as("n_nodes"))
      .collect()(0).getLong(0)
    val nD = lit(nNodes).cast("double")
    // rank-table writes sized from the KNOWN node count (guide §6):
    // a (node, rank_s) row is ~16 bytes, so ~4M rows/file lands in
    // the recommended output-file range. Without this, byte-blind AQE
    // coalescing writes a 2k-row round table as one file PER CORE —
    // at 32 cores that is 32 task commits + 32-file listings per
    // round for kilobytes of data (measured +1.3 s on q136 when the
    // 64k coalescing floor landed).
    val rankParts = math.max(1L, math.min(10000L, nNodes / 4000000L))
      .toInt

    var (ranks, path) = Scratch.materializeWithPath(
      nodes.select(col("node"),
        round(lit(Scale) / nD).cast("long").as("rank_s"))
        .repartition(rankParts),
      "pagerank_r0")

    // (measured dead end, round 13: replacing the per-round scratch
    // materialization with LogicalRDD lineage truncation
    // (`createDataFrame(df.rdd, schema)`) made q136 ~25% SLOWER —
    // AQE materializes each round's query stages eagerly at `.rdd`
    // and the chained InternalRow↔Row conversions break codegen
    // across rounds. The scratch write per round stays.)
    // (second measured dead end, round 14: chaining rounds IN-PLAN
    // with a checkpoint every 3rd round — one action per checkpoint —
    // made q136 5.5 → 6.5 s and q145 2.6 → 2.9 s: the rank subtree
    // has three consumers per round (contribs, dangling, next-join)
    // and AQE does not reuse its exchanges across those consumers
    // once the tree is re-optimized per stage, so each un-
    // materialized level re-executes the previous level ~3×. The
    // per-round materialization IS the exchange reuse.)
    for (i <- 1 to iters) {
      val contribs = ranks
        .join(e, ranks("node") === e("src"))
        .join(outw, "src")
        .select(col("dst"),
          round(col("rank_s").cast("double") * col("w").cast("double")
            / col("out_w").cast("double")).cast("long").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("in_s"))
      // rank mass sitting on nodes with no out-edges redistributes
      // uniformly — without this the total leaks every round
      val dangling = ranks.join(outw,
          ranks("node") === outw("src"), "left_anti")
        .agg(coalesce(sum(col("rank_s")), lit(0L)).as("dangling_s"))
      val next = nodes
        .join(contribs, nodes("node") === contribs("dst"), "left")
        .crossJoin(broadcast(dangling))
        .select(col("node"),
          round(lit((1.0 - damping) * Scale) / nD
            + lit(damping) * (coalesce(col("in_s"), lit(0L)).cast("double")
              + col("dangling_s").cast("double") / nD))
            .cast("long").as("rank_s"))
      val (m, p) = Scratch.materializeWithPath(
        next.repartition(rankParts), s"pagerank_r$i")
      Scratch.drop(spark, path)
      ranks = m; path = p
    }
    Scratch.drop(spark, ePath)
    Scratch.drop(spark, nodesPath)
    Scratch.drop(spark, outwPath)
    ranks.select(col("node"), col("rank_s"),
      dround(col("rank_s").cast("double") / Scale, 6).as("rank"))
  }
}
