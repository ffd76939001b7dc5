package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.VersionedTable

/** Persisted, incrementally-maintained IVF ANN index — the dense twin
  * of [[Bm25Index]], and the artifact shape a 100 TB similarity stack
  * actually operates: train the coarse quantizer ONCE, persist
  * codebook + cell assignments, then admit new embedding batches by
  * assigning them against the FROZEN codebook (a narrow map + append)
  * — never re-clustering the corpus per batch. Searches probe the
  * persisted assignment table.
  *
  * Artifact layout (both [[graft.core.VersionedTable]]s):
  * {{{
  *   path/codebook  (cell INT, centroid ARRAY<DOUBLE>)   tiny
  *   path/assigned  (cell, id, vec ARRAY<DOUBLE>)        corpus-sized
  * }}}
  *
  * The frozen-codebook contract is the standard IVF discipline (FAISS
  * `add` after `train`): cell boundaries stay fixed between retrains,
  * so admission is append-only and search results over published +
  * admitted batches are IDENTICAL to an index built on the full
  * corpus with the same codebook — which is what the q143 oracle
  * (full-corpus replay from the old-slice codebook) checks. Retraining
  * on drift = a new [[publish]] (new versions; readers pin).
  */
object IvfIndex {

  private def codebookPath(path: String) = s"$path/codebook"
  private def assignedPath(path: String) = s"$path/assigned"
  private def refDistPath(path: String) = s"$path/refdist"
  private def driftLogPath(path: String) = s"$path/driftlog"
  private def deletesPath(path: String) = s"$path/deletes"

  /** Train (optional) + assign + persist. Returns assigned version. */
  def publish(corpus: DataFrame, idCol: String, vecCol: String,
      path: String, cells: Int = 16, trainIters: Int = 0): Int = {
    val spark = corpus.sparkSession
    val codebook =
      if (trainIters > 0)
        SimilarityOps.kmeansTrain(corpus, idCol, vecCol, cells, trainIters)
      else SimilarityOps.initCodebook(corpus, idCol, vecCol, cells)
    import spark.implicits._
    val cbDf = codebook.zipWithIndex
      .map { case (v, i) => (i, v.toSeq) }.toSeq
      .toDF("cell", "centroid")
    // three DISTINCT component tables, all derived from the in-memory
    // codebook / the corpus frame — overlap the commits (guide §2.6);
    // replay-safety unchanged (all overwrites)
    graft.core.Par.run[Int](Seq(
      () => VersionedTable.commitOverwrite(
        assign(corpus, idCol, vecCol, codebook), assignedPath(path)),
      () => VersionedTable.commitOverwrite(cbDf, codebookPath(path)),
      // empty tombstone table (schema-bearing zero-row commit): it
      // must exist before the drift journal pins it — see [[forget]]
      () => VersionedTable.commitOverwrite(
        corpus.select(col(idCol)).filter(lit(false)),
        deletesPath(path))
    )).head
  }

  /** Admit a batch of NEW vectors against the frozen codebook: one
    * narrow assignment map + one append. Returns assigned version. */
  def update(batch: DataFrame, idCol: String, vecCol: String,
      path: String): Int = {
    val codebook = readCodebook(batch.sparkSession, path)
    VersionedTable.commitAppend(
      assign(batch, idCol, vecCol, codebook), assignedPath(path))
  }

  /** Maintenance: bin-pack the assignment table's accumulated small
    * commit files (every admitted batch appends one); the codebook is
    * a single tiny file and never needs it. Same semantics as
    * [[Bm25Index.compactIndex]]: a new version, race-safe, time travel
    * intact. */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetBytes: Long = 128L * 1024 * 1024): Unit = {
    VersionedTable.compact(spark, assignedPath(path), targetBytes)
    ()
  }

  private def assign(df: DataFrame, idCol: String, vecCol: String,
      codebook: Array[Array[Double]]): DataFrame =
    SimilarityOps.assignCells(
      df.select(col(idCol),
        col(vecCol).cast("array<double>").as("__cv")), "__cv", codebook)
      .select(col("cell"), col(idCol), col("__cv").as("vec"))

  /** Streaming admission: a `foreachBatch` sink assigning every
    * micro-batch of new vectors against the frozen codebook and
    * appending — the continuous-ingestion shape of ANN index
    * maintenance. First batch [[publish]]es (training the codebook on
    * it); later batches [[update]]. Exactly-once per batch via
    * [[graft.core.TxnJournal.ingestOnce]]: although an update is a
    * single append, a crash between the append and a bare marker would
    * double-admit the batch on replay, so the journal's rollback covers
    * it too. */
  def foreachBatchIngest(path: String, idCol: String, vecCol: String,
      cells: Int = 16, trainIters: Int = 0, compactEvery: Int = 0)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    val spark = batch.sparkSession
    val vecs = batch.select(col(idCol), col(vecCol))
    val ran = graft.core.TxnJournal.ingestOnce(spark, path, batchId,
        assignedPath(path), Seq(assignedPath(path)))(
      publish(vecs, idCol, vecCol, path, cells, trainIters))(
      update(vecs, idCol, vecCol, path))
    // layout maintenance outside the journal (see Bm25Index note)
    if (ran && compactEvery > 0 && batchId > 0 &&
        batchId % compactEvery == 0)
      compactIndex(spark, path)
  }

  /** Cell histogram of an assignment frame — `(bucket, n)` rows,
    * cells-sized: one map-side-combined aggregation. */
  private def cellHistogram(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cell").as("bucket"))
      .agg(count(lit(1)).as("n"))

  private def driftRow(spark: SparkSession, batchId: Long,
      psi: Double, retrained: Boolean): DataFrame = {
    import spark.implicits._
    Seq((batchId, psi, retrained))
      .toDF("batch_id", "psi", "retrained")
  }

  /** Latest drift-monitor rows for the index: (batch_id, psi,
    * retrained) — one row per admitted batch; `retrained = true` rows
    * mark codebook rebuilds. */
  def driftLog(spark: SparkSession, path: String): DataFrame =
    VersionedTable.read(spark, driftLogPath(path))

  /** DRIFT-TRIGGERED index maintenance — the production answer to the
    * frozen-codebook recall-decay limitation: each admitted batch is
    * scored for Population Stability Index against the cell histogram
    * captured at the last (re)train ([[graft.ops.DriftMonitor
    * .psiFromCounts]] — the reference is a persisted cells-sized count
    * table, so monitoring costs one map-side aggregation over the
    * BATCH, never a corpus re-scan). Under `psiThreshold` the batch
    * admits against the frozen codebook exactly like
    * [[foreachBatchIngest]]; on a breach the codebook RETRAINS on the
    * current corpus snapshot + the batch, assignments rebuild, and the
    * reference histogram resets — indexes rebuild on drift, not on a
    * timer.
    *
    * Crash safety: the whole decision (admit OR retrain) runs inside
    * one [[graft.core.TxnJournal]] intent spanning codebook, assigned,
    * refdist, and driftlog — a crash anywhere rolls all four back to
    * the pinned pre-batch versions and the replay re-decides from the
    * SAME state (the PSI recompute is deterministic). Searches are
    * snapshot-isolated throughout: a rebuild lands as new versions via
    * the same atomic manifest claim, so a concurrent [[searchFrom]]
    * sees either the old complete index or the new one, and a reader
    * pinning a version keeps it.
    *
    * Scale shape per batch: assignment is the narrow [[assign]] map;
    * monitoring is batch-histogram (cells rows) vs persisted reference
    * (cells rows). A retrain costs what [[publish]] costs — one
    * k-means over the corpus snapshot — paid only when the
    * distribution actually moved. */
  def foreachBatchIngestDriftAware(path: String, idCol: String,
      vecCol: String, cells: Int = 16, trainIters: Int = 2,
      psiThreshold: Double = 0.25): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      val spark = batch.sparkSession
      // an empty micro-batch has nothing to train on or to score
      if (!batch.isEmpty) {
        val vecs = batch.select(col(idCol),
          col(vecCol).cast("array<double>").as("vec"))
        graft.core.TxnJournal.ingestOnce(spark, path, batchId,
            assignedPath(path), journalPaths(path), prepare = {
          // upgrade path: an index created by the drift-UNAWARE sink
          // has no refdist/driftlog yet; they must exist (v >= 1)
          // BEFORE the journal pins them, or a crash rollback would
          // try to restore version 0. Seeding is deterministic from
          // the current snapshot, so racing/replaying it is safe.
          if (VersionedTable.latestVersion(spark, refDistPath(path)) == 0)
            seedReference(spark, path, batchId = -1L)
          if (VersionedTable.latestVersion(spark, deletesPath(path)) == 0)
            VersionedTable.commitOverwrite(
              vecs.select(col(idCol)).filter(lit(false)),
              deletesPath(path))
        }) {
          publish(vecs, idCol, "vec", path, cells, trainIters)
          seedReference(spark, path, batchId)
        } {
          val codebook = readCodebook(spark, path)
          val batchAssigned = assign(vecs, idCol, "vec", codebook)
          val p = graft.ops.DriftMonitor.psiFromCounts(
              VersionedTable.read(spark, refDistPath(path)),
              cellHistogram(batchAssigned), cells)
            .agg(max(col("psi"))).collect()(0).getDouble(0)
          if (p <= psiThreshold) {
            VersionedTable.commitAppend(batchAssigned,
              assignedPath(path))
            VersionedTable.commitAppend(
              driftRow(spark, batchId, p, retrained = false),
              driftLogPath(path))
          } else {
            // breach: retrain on current snapshot + batch, rebuild.
            // Tombstoned vectors are PURGED here: excluded from the
            // retrain corpus and the rebuilt assignments, then the
            // deletes table resets — all inside this journal, so a
            // crash-replay re-purges consistently
            val corpus = VersionedTable
              .read(spark, assignedPath(path))
              .join(VersionedTable.read(spark, deletesPath(path)),
                Seq(idCol), "left_anti")
              .select(col(idCol), col("vec"))
              .unionByName(vecs)
            val cb2 = SimilarityOps.kmeansTrain(
              corpus, idCol, "vec", cells, math.max(1, trainIters))
            import spark.implicits._
            VersionedTable.commitOverwrite(
              cb2.zipWithIndex
                .map { case (v, i) => (i, v.toSeq) }.toSeq
                .toDF("cell", "centroid"),
              codebookPath(path))
            VersionedTable.commitOverwrite(
              assign(corpus, idCol, "vec", cb2), assignedPath(path))
            // reference histogram from the COMMITTED rebuild (not a
            // recomputed plan) so refdist always matches assigned
            VersionedTable.commitOverwrite(
              cellHistogram(VersionedTable.read(spark,
                assignedPath(path))), refDistPath(path))
            VersionedTable.commitAppend(
              driftRow(spark, batchId, p, retrained = true),
              driftLogPath(path))
            VersionedTable.commitOverwrite(
              vecs.select(col(idCol)).filter(lit(false)),
              deletesPath(path))
          }
        }
      }
  }

  /** Reference histogram + drift-log seed from the current committed
    * assignment snapshot (deterministic → replay/race safe). */
  private def seedReference(spark: SparkSession, path: String,
      batchId: Long): Unit = {
    VersionedTable.commitOverwrite(
      cellHistogram(VersionedTable.read(spark, assignedPath(path))),
      refDistPath(path))
    if (VersionedTable.latestVersion(spark, driftLogPath(path)) == 0)
      VersionedTable.commitOverwrite(
        driftRow(spark, batchId, 0.0, retrained = true),
        driftLogPath(path))
    ()
  }

  /** Streaming SERVING tap — the dense twin of
    * [[Bm25Index.foreachBatchServe]]: each query micro-batch probes
    * the index's current snapshot, ranked results (+`_batch_id`)
    * append to a versioned log once per batch
    * ([[graft.core.VersionedTable.appendBatch]]; replays skip the
    * search). */
  def foreachBatchServe(indexPath: String, logPath: String,
      queryIdCol: String, vecCol: String, idCol: String, k: Int,
      nprobe: Int = 4): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      VersionedTable.appendBatch(batch.sparkSession, logPath, batchId)(
        searchFrom(batch.sparkSession, indexPath, batch, queryIdCol,
          vecCol, idCol, k, nprobe, excludeSelf = false))
      ()
  }

  /** Physical purge of forgotten vectors without waiting for a drift
    * retrain — rewrite `assigned` minus the tombstones and reset the
    * deletes table under the journal (tag `p<opId>`). Same contract
    * as [[Bm25Index.purgeForgotten]]: searches unchanged, bytes leave
    * the live snapshot, vacuum finishes the job; scheduled
    * maintenance, copy-on-write cost ∝ table. No-op (false) when
    * nothing is tombstoned. */
  def purgeForgotten(spark: SparkSession, path: String, opId: Long)
      : Boolean = {
    val dp = deletesPath(path)
    if (VersionedTable.latestVersion(spark, dp) == 0 ||
        VersionedTable.read(spark, dp).isEmpty) return false
    graft.core.TxnJournal.exactlyOnceTagged(spark, path, s"p$opId",
      journalPaths(path)) {
      val dels = VersionedTable.read(spark, dp)
      val idCol = dels.columns.head
      // distinct tables; dels pinned its file list at read time and
      // an overwrite never unlinks old files — overlap the commits
      graft.core.Par.run[Int](Seq(
        () => VersionedTable.commitOverwrite(
          VersionedTable.read(spark, assignedPath(path))
            .join(broadcast(dels), Seq(idCol), "left_anti"),
          assignedPath(path)),
        () => VersionedTable.commitOverwrite(dels.filter(lit(false)), dp)
      ))
      ()
    }
  }

  /** The persisted codebook, bounded cells×dim driver metadata. */
  def readCodebook(spark: SparkSession, path: String,
      version: Option[Int] = None): Array[Array[Double]] =
    VersionedTable.read(spark, codebookPath(path), version)
      .orderBy(col("cell")).collect()
      .map(_.getSeq[Double](1).toArray)

  /** The component tables in the order
    * [[foreachBatchIngestDriftAware]]'s journal pins them — the
    * sub-list a consistent-snapshot reader (e.g. [[HybridServe]])
    * resolves versions against. The first two (codebook, assigned)
    * are the search surface. */
  def journalPaths(path: String): Seq[String] =
    Seq(codebookPath(path), assignedPath(path), refDistPath(path),
      driftLogPath(path), deletesPath(path))

  /** Forget a set of vectors — the dense-side takedown twin of
    * [[Bm25Index.forget]], and simpler: cosine scoring has no corpus
    * statistics, so deletion is PURE TOMBSTONING — append the ids to
    * the deletes table and searches anti-join them out. A search
    * after forget is identical to one over an index that never
    * admitted the vectors (assignment is per-vector; the frozen
    * codebook is unchanged by design — codebook refresh is the drift
    * path's job). Single-table append = atomic; naturally idempotent
    * (re-forgetting is filtered against existing tombstones, and even
    * a duplicate tombstone row would only repeat the anti-join), so
    * no journal is needed. Physical purge happens at the next drift
    * retrain, which rebuilds assignments WITHOUT tombstoned vectors
    * and resets the deletes table — both inside the retrain journal.
    * Re-admitting a forgotten id is out of contract (the tombstone
    * would hide it until the next retrain purge). */
  def forget(spark: SparkSession, path: String, ids: DataFrame,
      idCol: String): Int = {
    val dp = deletesPath(path)
    if (VersionedTable.latestVersion(spark, dp) == 0)
      VersionedTable.commitOverwrite(
        ids.select(col(idCol)).filter(lit(false)), dp)
    val assigned = VersionedTable.read(spark, assignedPath(path))
    val newDel = ids.select(col(idCol)).distinct()
      .join(assigned.select(col(idCol)), Seq(idCol), "left_semi")
      .join(VersionedTable.read(spark, dp), Seq(idCol), "left_anti")
    VersionedTable.commitAppend(newDel, dp)
  }

  /** IVF top-k straight off the persisted index: queries probe their
    * `nprobe` nearest cells of the STORED codebook; exact cosine only
    * inside probed cells of the STORED assignment table. Same
    * ranking/tie-break semantics as [[SimilarityOps.ivfTopK]]. */
  def searchFrom(spark: SparkSession, path: String, queries: DataFrame,
      queryIdCol: String, vecCol: String, idCol: String, k: Int,
      nprobe: Int = 4, excludeSelf: Boolean = true): DataFrame =
    searchFromPinned(spark, path, None, None, queries, queryIdCol,
      vecCol, idCol, k, nprobe, excludeSelf)

  /** [[searchFrom]] against EXPLICIT codebook/assigned versions
    * (None = latest) — versions captured together never pair a
    * retrained codebook with the old assignment table or vice versa
    * (the mid-rebuild hazard of [[foreachBatchIngestDriftAware]]). */
  def searchFromPinned(spark: SparkSession, path: String,
      codebookV: Option[Int], assignedV: Option[Int],
      queries: DataFrame, queryIdCol: String, vecCol: String,
      idCol: String, k: Int, nprobe: Int = 4,
      excludeSelf: Boolean = true,
      deletesV: Option[Int] = None): DataFrame = {
    val codebook = readCodebook(spark, path, codebookV)
    val raw = VersionedTable.read(spark, assignedPath(path), assignedV)
    // tombstoned vectors never surface; a pre-deletes index (or a
    // pinned version 0) reads as tombstone-free
    val live =
      if (deletesV.getOrElse(VersionedTable.latestVersion(spark,
          deletesPath(path))) == 0) raw
      else raw.join(
        broadcast(VersionedTable.read(spark, deletesPath(path),
          deletesV)),
        Seq(idCol), "left_anti")
    val assigned = live
      .select(col("cell"), col(idCol).as("neighbor_id"), col("vec"))
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    val probes = q.withColumn("cell",
        explode(graft.functions.NearestCells.column(col("__qv"),
          codebook, nprobe)))
      .select(col("cell"), col("query_id"), col("__qv"))
    val joined = assigned.join(probes, Seq("cell"))
    // excludeSelf = corpus-internal queries (the q143 shape); external
    // queries (the serving tap) must NOT drop coincidental id matches
    val scored =
      (if (excludeSelf) joined.filter(col("neighbor_id") =!= col("query_id"))
       else joined)
        .withColumn("cos_sim",
          SimilarityOps.cosine(col("__qv"), col("vec")))
    SimilarityOps.rankTopK(scored, k)
  }
}
