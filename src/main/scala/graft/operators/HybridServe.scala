package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{TxnJournal, VersionedTable}

/** Cross-index hybrid retrieval serving — the tap a real RAG service
  * runs: each query micro-batch searches BOTH the BM25 index and the
  * IVF index, fuses with RRF ([[HybridSearch.rrf]] — the q159
  * scale-path shape), and appends the fused top-k to a versioned
  * results log exactly once per batch.
  *
  * The new correctness surface vs the per-system taps
  * ([[Bm25Index.foreachBatchServe]] / [[IvfIndex.foreachBatchServe]])
  * is CROSS-INDEX SNAPSHOT CONSISTENCY: each batch pins ONE committed
  * snapshot of each index before searching, so an ingest landing on
  * either index mid-batch — including a multi-table update caught
  * between its component commits — never bleeds into the fused
  * results. The pin reads every component table's latest version,
  * then clamps to the pinned pre-batch versions of any OPEN
  * [[graft.core.TxnJournal]] intent (intent present, done-marker
  * absent): an in-flight update's partially-landed commits are
  * thereby invisible, and what serves is exactly the last CONSISTENT
  * committed state.
  *
  * Scale shape per batch: two index searches (each corpus-parallel
  * with their own scale shapes — postings broadcast for BM25,
  * nprobe/cells probing for IVF), then fusion over queries×k rows
  * only. The log append is one small commit.
  */
object HybridServe {

  /** Last consistent committed versions of a journal-maintained
    * multi-table index: latest versions of `subs`, each clamped BY
    * NAME to the pins of any open journal intent under `root`
    * ([[graft.core.TxnJournal.openPins]]), so an intent from a sink
    * generation with more or fewer sub-tables still pins the ones it
    * shares with the reader. The latest versions are read first: an
    * update whose intent lands after the listing cannot have
    * committed before them. */
  def pinConsistent(spark: SparkSession, root: String,
      subs: Seq[String]): Seq[Int] = {
    val latest = subs.map(VersionedTable.latestVersion(spark, _))
    val open = TxnJournal.openPins(spark, root)
    subs.zip(latest).map { case (s, l) =>
      open.flatMap(_.get(TxnJournal.seg(s))).foldLeft(l)(math.min)
    }
  }

  /** The serving tap: fused (BM25 ⊕ IVF, RRF) top-`k` per query
    * appended to `logPath` with `_batch_id`, exactly once per batch.
    * Queries need (`qIdCol`, `qTextCol`, `qVecCol`). `inK` is each
    * system's retrieval depth feeding the fusion. */
  def foreachBatchServe(bm25Path: String, ivfPath: String,
      logPath: String, qIdCol: String, qTextCol: String,
      qVecCol: String, idCol: String, k: Int, inK: Int = 20,
      nprobe: Int = 4): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      val spark = batch.sparkSession
      VersionedTable.appendBatch(spark, logPath, batchId) {
        val bmPin = pinConsistent(spark, bm25Path,
          Bm25Index.componentPaths(bm25Path))
        val ivfPin = pinConsistent(spark, ivfPath,
          IvfIndex.journalPaths(ivfPath))
        val sparse = Bm25Index.searchFromPinned(spark, bm25Path,
          bmPin.map(Some(_)), batch, qIdCol, qTextCol, idCol, inK)
        // external queries: an id collision with a corpus doc is
        // coincidence, not self-match — keep it
        val dense = IvfIndex.searchFromPinned(spark, ivfPath,
          Some(ivfPin(0)), Some(ivfPin(1)), batch, qIdCol, qVecCol,
          idCol, inK, nprobe, excludeSelf = false,
          deletesV = Some(ivfPin(4)))
        HybridSearch.rrf(sparse, idCol, dense, "neighbor_id", k)
      }
      ()
  }
}
