package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.VersionedTable

/** Incrementally-maintained BM25 index — the growing-corpus shape of
  * [[Bm25]]. A production retrieval corpus ingests batches
  * continuously; re-tokenizing 100 TB to admit a 10 GB batch is the
  * same 10⁴× overspend the incremental cluster map avoids
  * ([[IncrementalClusters]]). Per batch, ONLY the batch is tokenized;
  * everything corpus-sized is merged by append or vocabulary-sized
  * upsert:
  *
  *  - `postings` (id, token, tf) and `doclen` (id, dl): pure APPEND —
  *    batch docs are new docs, their rows are disjoint from the old
  *    corpus rows;
  *  - `termstats` (token, df): vocabulary-sized ADD-merge (full-outer
  *    join of old df with the batch's df);
  *  - `stats` (n_docs, sum_dl): single-row add.
  *
  * Because every stored number is an exact integer count, a search
  * over a published-then-updated index is IDENTICAL to [[Bm25.topK]]
  * over the full corpus — which is exactly what the q139 DuckDB
  * oracle (full-corpus BM25) checks.
  *
  * Contract: batches contain NEW doc ids only (append-only corpus —
  * the standard ingestion discipline; re-ingesting an id would
  * double-count its postings). All four tables are
  * [[graft.core.VersionedTable]]s: snapshot-isolated, time-travelable,
  * and a crashed update never publishes a half-merged index.
  *
  * Why avgdl is stored as (n_docs, sum_dl) and divided at read: the
  * running mean can be updated without rescanning `doclen`, and the
  * division `sum_dl / n_docs` is the same single IEEE op
  * [[Bm25.buildPostings]]'s `avg` performs — bit-identical scores.
  */
object Bm25Index {

  private def postingsPath(path: String) = s"$path/postings"
  private def doclenPath(path: String) = s"$path/doclen"
  private def termstatsPath(path: String) = s"$path/termstats"
  private def statsPath(path: String) = s"$path/stats"
  private def deletesPath(path: String) = s"$path/deletes"

  /** Publish the initial index from a full corpus (one tokenize pass).
    * Returns the postings version. */
  def publish(docs: DataFrame, idCol: String, textCol: String,
      path: String): Int = {
    val p = Bm25.buildPostings(docs, idCol, textCol)
    // the five component commits touch DISTINCT tables and all derive
    // from the already-materialized postings artifact — overlap them
    // (guide §2.6): wall time becomes the slowest commit instead of
    // the sum of five, and at scale each commit's straggler tail
    // back-fills with the next commit's tasks. Crash contract is
    // unchanged: publish is all-overwrites and replays re-publish.
    graft.core.Par.run[Int](Seq(
      () => VersionedTable.commitOverwrite(p.tf, postingsPath(path)),
      () => VersionedTable.commitOverwrite(p.dl, doclenPath(path)),
      () => VersionedTable.commitOverwrite(p.dfreq, termstatsPath(path)),
      () => VersionedTable.commitOverwrite(
        p.dl.agg(count(lit(1)).as("n_docs"),
          sum(col("dl")).as("sum_dl")),
        statsPath(path)),
      // empty tombstone table (schema-bearing zero-row commit): it
      // must EXIST before any journal pins it — see [[forget]]
      () => VersionedTable.commitOverwrite(
        docs.select(col(idCol)).filter(lit(false)), deletesPath(path))
    )).head
  }

  /** Fold a batch of NEW documents into the index. Only the batch is
    * tokenized. Returns the new postings version. */
  def update(batch: DataFrame, idCol: String, textCol: String,
      path: String): Int = {
    val spark = batch.sparkSession
    val b = Bm25.buildPostings(batch, idCol, textCol)
    // the four component updates touch DISTINCT tables; each task
    // reads only its own table's pre-batch state plus the batch's
    // materialized postings — overlap them (guide §2.6; same
    // single-maintenance-writer discipline as before, the
    // parallelism is WITHIN one update)
    graft.core.Par.run[Int](Seq(
      () => VersionedTable.commitAppend(b.tf, postingsPath(path)),
      () => VersionedTable.commitAppend(b.dl, doclenPath(path)),
      () => {
        // vocabulary-sized add-merge: tokens in either side survive
        val oldDf = VersionedTable.read(spark, termstatsPath(path))
          .withColumnRenamed("df", "df_old")
        val merged = oldDf.join(
            b.dfreq.withColumnRenamed("df", "df_new"),
            Seq("token"), "full_outer")
          .select(col("token"),
            (coalesce(col("df_old"), lit(0L))
              + coalesce(col("df_new"), lit(0L))).as("df"))
        VersionedTable.commitOverwrite(merged, termstatsPath(path))
      },
      () => {
        val oldStats = VersionedTable.read(spark, statsPath(path))
        val bStats = b.dl.agg(count(lit(1)).as("bn"),
          coalesce(sum(col("dl")), lit(0L)).as("bs"))
        VersionedTable.commitOverwrite(
          oldStats.crossJoin(bStats).select(
            (col("n_docs") + col("bn")).as("n_docs"),
            (col("sum_dl") + col("bs")).as("sum_dl")),
          statsPath(path))
      }
    )).head
  }

  /** Streaming ingestion: a `foreachBatch` sink folding every
    * micro-batch of NEW documents into the index — continuous corpus
    * growth with retrieval staying current.
    *
    * Exactly-once per batch, CRASH-SAFE ACROSS THE MULTI-TABLE UPDATE:
    * [[update]] spans four commits (postings, doclen, termstats,
    * stats), and a marker-only protocol (the
    * [[graft.core.VersionedTable.oncePerBatch]] shape) would
    * double-append postings if the job died between the first commit
    * and the marker. This sink writes a WRITE-AHEAD INTENT first — the
    * current version of all four tables — so a replay that finds the
    * intent without the done-marker ROLLS BACK (re-publishes each
    * table's pinned pre-batch snapshot as a new version; append-only
    * versioning makes rollback just another commit) and re-applies the
    * batch. The first batch [[publish]]es, which is replay-safe as-is
    * (all overwrites). Journal, publish marker and done-marker:
    * [[graft.core.TxnJournal.ingestOnce]].
    */
  def foreachBatchIngest(path: String, idCol: String, textCol: String,
      compactEvery: Int = 0)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    val spark = batch.sparkSession
    val docs = batch.select(col(idCol), col(textCol))
    val ran = graft.core.TxnJournal.ingestOnce(spark, path, batchId,
        postingsPath(path), componentPaths(path))(
      publish(docs, idCol, textCol, path))(
      update(docs, idCol, textCol, path))
    // periodic maintenance OUTSIDE the txn journal: compaction is a
    // pure layout optimization (a lost version race just skips it),
    // so it needs no exactly-once protection — and it must not, or a
    // replayed batch would block on an already-compacted layout
    if (ran && compactEvery > 0 && batchId > 0 &&
        batchId % compactEvery == 0)
      compactIndex(spark, path)
  }

  /** Streaming SERVING tap: each micro-batch of queries searches the
    * index's current snapshot and appends the ranked results (plus
    * `_batch_id`) to a versioned results log — the logging/eval side
    * of a retrieval service (the log feeds [[RetrievalMetrics]],
    * drift monitors, A/B tables). Per-batch idempotence and the
    * batch-id column come from [[graft.core.VersionedTable
    * .appendBatch]], which skips the search itself on a replayed
    * batch; each batch's search pins whatever index versions are
    * current when it runs, so an ingest landing mid-stream changes
    * results only from the NEXT batch on (the snapshot-isolation
    * spec's guarantee, per batch). */
  def foreachBatchServe(indexPath: String, logPath: String,
      qIdCol: String, qTextCol: String, idCol: String, k: Int)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    VersionedTable.appendBatch(batch.sparkSession, logPath, batchId)(
      searchFrom(batch.sparkSession, indexPath, batch, qIdCol, qTextCol,
        idCol, k))
    ()
  }

  /** Maintenance: bin-pack every component table's small files
    * ([[graft.core.VersionedTable.compact]]). Each streaming batch /
    * incremental update appends one small commit dir to `postings` and
    * `doclen` — after N batches a search opens O(N) files per table;
    * periodic compaction restores O(size/target) files while time
    * travel and concurrent readers keep working (compaction is a new
    * version; it loses any race with a real ingest on purpose). */
  def compactIndex(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    componentPaths(path)
      .foreach(VersionedTable.compact(spark, _, targetBytes))
  }

  /** BM25 top-k straight off the persisted index — no tokenization of
    * anything but the (tiny) query strings.
    *
    * Consistency: each table is individually snapshot-isolated, but an
    * [[update]] commits them in sequence — a search racing an in-flight
    * update can pair new postings with old term stats. Searches racing
    * ingestion should pin versions captured together (e.g. the return
    * values of the last completed update), the same discipline as any
    * multi-table lake transaction. */
  def searchFrom(spark: SparkSession, path: String, queries: DataFrame,
      qIdCol: String, qTextCol: String, idCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchFromPinned(spark, path,
      componentPaths(path).map(_ => None), queries, qIdCol, qTextCol,
      idCol, k, k1, b)

  /** The five component tables, in the order the maintenance journals
    * pin them — the sub-list a consistent-snapshot reader (e.g.
    * [[HybridServe]]) resolves versions against. (`deletes` joined
    * the list with the tombstone-deletion feature; a pre-deletes
    * index still searches — see [[searchFromPinned]] — but its open
    * 4-ary journal intents are no longer clamped by new readers.
    * Quiesce streams before upgrading, the usual lake discipline.) */
  def componentPaths(path: String): Seq[String] =
    Seq(postingsPath(path), doclenPath(path), termstatsPath(path),
      statsPath(path), deletesPath(path))

  /** Forget a set of documents — the right-to-be-forgotten /
    * takedown-propagation op: after it commits, every search is
    * IDENTICAL to one against an index rebuilt on the remaining
    * corpus (same scores, bit-for-bit — df, doc count and avgdl all
    * shed the removed docs' contributions).
    *
    * MERGE-ON-READ deletion (the Iceberg position-delete / Delta
    * deletion-vector shape), not copy-on-write: the corpus-sized
    * `postings`/`doclen` tables are NEVER rewritten. The op appends
    * the ids to a tombstone table (searches anti-join it — tombstones
    * are takedown-sized, a broadcast), subtracts the removed docs'
    * per-token df from the vocabulary-sized `termstats` (tokens
    * hitting df 0 drop out, exactly as a rebuild would), and subtracts
    * their count/length from the 1-row `stats`. Cost: ONE filtered
    * read of postings + doclen (no rewrite; at scale a Bloom sidecar
    * on the id column — [[graft.core.VersionedTable.publishBloom]] —
    * skips the untouched files); reclaiming the bytes is
    * [[compactIndex]]-style maintenance, not part of the takedown SLA.
    *
    * Crash-safe and exactly-once per `opId` under the same write-ahead
    * [[graft.core.TxnJournal]] as streaming ingest (tag `f<opId>`, so
    * serving taps pin consistent snapshots across in-flight forgets
    * too). Like every maintenance op on this index, forgets run from
    * the SINGLE maintenance writer, serialized with ingest batches —
    * two concurrent multi-table updates could interleave their
    * termstats/stats overwrites (the standard lake single-writer
    * discipline; readers need no coordination). Ids never indexed are ignored; ids already forgotten are
    * not re-subtracted (double-forget is a no-op). Re-ingesting a
    * forgotten id is OUT OF CONTRACT (ids are append-only unique;
    * the tombstone would hide the re-added doc).
    *
    * @return true if the op ran, false if `opId` already completed. */
  def forget(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String, opId: Long): Boolean = {
    // upgrade path: an index published before the deletes table
    // existed gets its empty tombstone table NOW, outside the journal
    // — every journal sub must exist (v >= 1) before an intent pins
    // it, or a crash-replay rollback would try to read version 0
    if (VersionedTable.latestVersion(spark, deletesPath(path)) == 0)
      VersionedTable.commitOverwrite(
        ids.select(col(idCol)).filter(lit(false)), deletesPath(path))
    graft.core.TxnJournal.exactlyOnceTagged(spark, path, s"f$opId",
      componentPaths(path)) {
      val dp = deletesPath(path)
      val dl = VersionedTable.read(spark, doclenPath(path))
      val existing = VersionedTable.read(spark, dp)
      // new tombstones: requested ∩ indexed − already forgotten.
      // Materialized (takedown-sized) because three consumers read it
      val (newDel, ndPath) = graft.core.Scratch.materializeWithPath(
        ids.select(col(idCol)).distinct()
          .join(dl.select(col(idCol)), Seq(idCol), "left_semi")
          .join(existing, Seq(idCol), "left_anti"),
        "bm25_forget")
      try {
        // three independent writes off the materialized tombstone
        // set (distinct tables, each reading only pre-op state +
        // newDel) — overlapped like [[publish]]'s commits
        graft.core.Par.run[Unit](Seq(
          () => {
            val dfDel = VersionedTable.read(spark, postingsPath(path))
              .join(broadcast(newDel), Seq(idCol), "left_semi")
              .groupBy(col("token")).agg(count(lit(1)).as("__df_del"))
            val newTs = VersionedTable.read(spark, termstatsPath(path))
              .join(dfDel, Seq("token"), "left_outer")
              .select(col("token"),
                (col("df") - coalesce(col("__df_del"), lit(0L)))
                  .as("df"))
              .filter(col("df") > 0)
            VersionedTable.commitOverwrite(newTs, termstatsPath(path))
            ()
          },
          () => {
            val shed = dl
              .join(broadcast(newDel), Seq(idCol), "left_semi")
              .agg(count(lit(1)).as("__dn"),
                coalesce(sum(col("dl")), lit(0L)).as("__ds"))
            val oldStats = VersionedTable.read(spark, statsPath(path))
            VersionedTable.commitOverwrite(
              oldStats.crossJoin(shed).select(
                (col("n_docs") - col("__dn")).as("n_docs"),
                (col("sum_dl") - col("__ds")).as("sum_dl")),
              statsPath(path))
            ()
          },
          () => { VersionedTable.commitAppend(newDel, dp); () }
        ))
        ()
      } finally graft.core.Scratch.drop(spark, ndPath)
    }
  }

  /** Physical purge of forgotten documents — the byte-level
    * completion of [[forget]]'s merge-on-read deletion: rewrite
    * `postings`/`doclen` WITHOUT the tombstoned rows and reset the
    * deletes table, as new versions under the same journal (tag
    * `p<opId>`). Searches are unchanged before/after (the anti-join
    * was already hiding the rows); what changes is that the bytes
    * stop being carried by the live snapshot — followed by
    * [[graft.core.VersionedTable.vacuum]] on the rewritten tables,
    * the forgotten documents leave disk entirely, which is the
    * privacy SLA's actual endpoint. Copy-on-write cost ∝ table, so
    * this is SCHEDULED maintenance (like [[compactIndex]]), batching
    * many forgets into one rewrite — never part of the per-takedown
    * path. No-op (false) when nothing is tombstoned. */
  def purgeForgotten(spark: SparkSession, path: String, opId: Long)
      : Boolean = {
    val dp = deletesPath(path)
    if (VersionedTable.latestVersion(spark, dp) == 0 ||
        VersionedTable.read(spark, dp).isEmpty) return false
    graft.core.TxnJournal.exactlyOnceTagged(spark, path, s"p$opId",
      componentPaths(path)) {
      val dels = VersionedTable.read(spark, dp)
      val idCol = dels.columns.head
      def scrub(sub: String): Unit = {
        VersionedTable.commitOverwrite(
          VersionedTable.read(spark, sub)
            .join(broadcast(dels), Seq(idCol), "left_anti"), sub)
        ()
      }
      // three distinct tables; `dels` pinned its file list at read
      // time and an overwrite never unlinks old files (vacuum does),
      // so the reset racing the scrubs is safe — overlap them
      graft.core.Par.run[Unit](Seq(
        () => scrub(postingsPath(path)),
        () => scrub(doclenPath(path)),
        () => {
          VersionedTable.commitOverwrite(dels.filter(lit(false)), dp)
          ()
        }
      ))
      ()
    }
  }

  /** [[searchFrom]] against EXPLICIT versions of the five component
    * tables (order of [[componentPaths]]; None = latest) — the
    * consistent-snapshot serving discipline: versions captured
    * together never pair new postings with old term stats. Forgotten
    * docs are anti-joined out of the pinned tombstone snapshot; an
    * index published before the deletes table existed reads as
    * tombstone-free. */
  def searchFromPinned(spark: SparkSession, path: String,
      pinned: Seq[Option[Int]], queries: DataFrame,
      qIdCol: String, qTextCol: String, idCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(pinned.size == 5,
      s"bm25 pinned versions: expected 5, got ${pinned.size}")
    val Seq(pV, dV, tV, sV, delV) = pinned
    val stats = VersionedTable.read(spark, statsPath(path), sV)
      .select(col("n_docs"),
        (col("sum_dl").cast("double") / col("n_docs").cast("double"))
          .as("avgdl"))
    val dels: Option[DataFrame] =
      if (delV.getOrElse(
          VersionedTable.latestVersion(spark, deletesPath(path))) == 0)
        None // pre-deletes index: nothing ever tombstoned
      else Some(VersionedTable.read(spark, deletesPath(path), delV))
    def live(df: DataFrame): DataFrame = dels match {
      case Some(t) => df.join(broadcast(t), Seq(idCol), "left_anti")
      case None => df
    }
    val p = Bm25.Postings(
      live(VersionedTable.read(spark, postingsPath(path), pV)),
      live(VersionedTable.read(spark, doclenPath(path), dV)),
      VersionedTable.read(spark, termstatsPath(path), tV),
      stats)
    Bm25.topKFrom(p, idCol, queries, qIdCol, qTextCol, k, k1, b)
  }
}
