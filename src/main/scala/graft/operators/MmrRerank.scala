package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Rounding.dround

/** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
  * — diversify a retrieval shortlist so the k results are not k
  * near-copies of the same document. The standard re-rank between a
  * retriever and a consumer (RAG context assembly, annotation-batch
  * sampling), and on a deduplicated-by-construction corpus the piece
  * that keeps "top-k similar" useful when the top of the list is one
  * topic cluster.
  *
  * Greedy selection: step 1 takes the highest-relevance candidate;
  * each later step takes
  * `argmax λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s)` — ties
  * break by candidate id.
  *
  * Shape at scale: works on a SHORTLIST (queries×n rows from any
  * retriever — brute-force, IVF, IVF-PQ), never the corpus. One
  * left join attaches the shortlist ids' vectors, one aggregation
  * packs each query's shortlist (n ≤ [[MaxShortlistPerQuery]] rows of
  * id/rel/vec) into a single row, and the whole k-round greedy loop
  * runs in-task inside the codegen'd [[graft.functions.MmrSelect]]
  * expression — k·n cosines per query, no queries×n² pair frame, no
  * per-round global barrier. (The previous formulation ran k−1
  * sequential distributed rounds over a materialized pair frame:
  * measured at 48 Spark jobs per call, it was action-count bound.)
  *
  * Determinism across engines: rel and sim are the CosineSim doubles
  * the oracles already replicate with `list_cosine_similarity`; the
  * MMR score is two IEEE multiplies and one subtract in fixed order,
  * and the argmax tie-breaks on id — the DuckDB oracle unrolls the
  * same k rounds bit-for-bit.
  *
  * @param candidates shortlist: (query_id, neighbor_id, `relCol`)
  * @param corpus     (idCol, vecCol) — joined only at shortlist ids
  */
object MmrRerank {

  /** Hard ceiling on the per-query shortlist size. The pair frame is
    * n² rows PER QUERY: real shortlists are 20–100 (k top of a
    * retriever), but a caller passing a 100k-row "shortlist" would
    * silently build a 10¹⁰-row frame. Fail loudly instead. */
  val MaxShortlistPerQuery = 1024

  def rerank(candidates: DataFrame, relCol: String,
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, lambda: Double = 0.7): DataFrame = {
    require(k >= 1, "mmr: k must be >= 1")
    val vecs = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).cast("array<double>").as("__v"))
    val cand = candidates.select(col("query_id"),
      col("neighbor_id").cast("long").as("neighbor_id"),
      col(relCol).cast("double").as("__rel"))
    // PRECONDITION: corpus ids are unique (every declared caller joins
    // a primary-key corpus). A duplicated corpus id would fan the left
    // join out, and MmrSelect fails any query whose packed rows exceed
    // its distinct ids. (A semi-join + dedupe of the vecs side was
    // measured at +0.9 s on q154 — two extra stages on the hot path to
    // defend a documented precondition; the in-expression distinct
    // count costs nothing.)
    //
    // left join: a candidate without a corpus vector still competes on
    // relevance and contributes no sim — the old pair frame's
    // coalesce(max_sim, 0) semantics.
    val packed = cand.join(vecs, Seq("neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(collect_list(struct(col("neighbor_id"), col("__rel"),
        col("__v"))).as("__cs"))
    packed.select(col("query_id"),
        explode(graft.functions.MmrSelect.column(
          col("__cs"), k, lambda)).as("__s"))
      .select(col("query_id"),
        col("__s").getField("neighbor_id").as("neighbor_id"),
        (dround(col("__s").getField("mmr"), 4) + lit(0)).as("mmr_score"),
        col("__s").getField("rn").as("rn"))
  }
}
