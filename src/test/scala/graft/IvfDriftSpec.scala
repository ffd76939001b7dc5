package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.VersionedTable
import graft.operators.IvfIndex

/** Drift-triggered IVF maintenance: in-distribution batches admit
  * against the frozen codebook; a distribution shift breaches the PSI
  * threshold, retrains the codebook on the current snapshot, and
  * restores the recall the frozen codebook loses — all exactly-once,
  * crash-rollback-safe, and snapshot-isolated for concurrent readers.
  *
  * Geometry (3-dim, cosine): the reference corpus is two clusters
  * near e1 and e2 (cells=2 trains one centroid on each). The shifted
  * batch lives near e3 — mass slightly e2-biased, plus ONE planted
  * near-dup pair (q, d) straddling the OLD cells' decision boundary,
  * so with the frozen codebook q and d land in different cells and an
  * nprobe=1 search can never return d for q. After the
  * drift-triggered retrain a centroid moves into the e3 region, both
  * sides of the pair share a cell, and the search finds the dup. */
class IvfDriftSpec extends SparkTestBase {
  import spark.implicits._

  private def vec(x: Double, y: Double, z: Double) = Seq(x, y, z)

  // interleaved so initCodebook's first-2-by-id seeds both clusters
  private def clusterBatch(ids: Range): DataFrame =
    ids.map { i =>
      if (i % 2 == 0) (i.toLong, vec(1.0, 0.04 + 0.001 * (i % 10), 0.0))
      else (i.toLong, vec(0.04 + 0.001 * (i % 10), 1.0, 0.0))
    }.toDF("vec_id", "embedding")

  private val qVec = vec(0.08, 0.04, 1.0)
  private val dVec = vec(0.04, 0.08, 1.0)
  private val DupBase = 100L
  private val DupQ = DupBase + 28
  private val DupD = DupBase + 29

  private def shiftedBatch(): DataFrame = {
    val mass = (0 until 28).map(j =>
      (DupBase + j, vec(0.0, 0.3 + 0.001 * j, 1.0)))
    (mass :+ ((DupQ, qVec)) :+ ((DupD, dVec)))
      .toDF("vec_id", "embedding")
  }

  private def freshPath(tag: String): String = {
    val p = graft.core.Scratch.root(spark.range(1).toDF()) +
      s"/$tag${java.util.UUID.randomUUID()}"
    graft.core.Scratch.registerForCleanup(p)
    p
  }

  private def top1For(path: String, qid: Long, v: Seq[Double]): Long =
    IvfIndex.searchFrom(spark, path,
        Seq((qid, v)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", "vec_id", k = 1, nprobe = 1,
        excludeSelf = true)
      .collect().head.getAs[Long]("neighbor_id")

  test("shifted batch breaches PSI, retrains, and restores recall " +
    "the frozen codebook loses") {
    // the frozen-codebook baseline: same batches, drift-UNAWARE sink
    val frozen = freshPath("ivf_frozen_")
    val plain = IvfIndex.foreachBatchIngest(frozen, "vec_id",
      "embedding", cells = 2, trainIters = 2)
    plain(clusterBatch(0 until 20), 0L)
    plain(clusterBatch(20 until 40), 1L)
    plain(shiftedBatch(), 2L)
    assert(top1For(frozen, DupQ, qVec) != DupD,
      "frozen codebook unexpectedly found the straddling dup — the " +
        "drift fixture no longer demonstrates recall decay")

    // drift-aware: same batches
    val path = freshPath("ivf_drift_")
    val sink = IvfIndex.foreachBatchIngestDriftAware(path, "vec_id",
      "embedding", cells = 2, trainIters = 2, psiThreshold = 0.25)
    sink(clusterBatch(0 until 20), 0L)
    val cb0 = IvfIndex.readCodebook(spark, path).map(_.toSeq).toSeq

    sink(clusterBatch(20 until 40), 1L) // in-distribution: no retrain
    assert(IvfIndex.readCodebook(spark, path).map(_.toSeq).toSeq == cb0,
      "in-distribution batch retrained the codebook")
    val log1 = IvfIndex.driftLog(spark, path)
      .filter($"batch_id" === 1L).collect().head
    assert(!log1.getAs[Boolean]("retrained"))
    assert(log1.getAs[Double]("psi") < 0.25)

    sink(shiftedBatch(), 2L) // breach: retrain + rebuild
    val log2 = IvfIndex.driftLog(spark, path)
      .filter($"batch_id" === 2L).collect().head
    assert(log2.getAs[Boolean]("retrained"))
    assert(log2.getAs[Double]("psi") > 0.25)
    assert(IvfIndex.readCodebook(spark, path).map(_.toSeq).toSeq != cb0,
      "breach did not retrain the codebook")
    // every admitted vector survives the rebuild
    assert(VersionedTable.read(spark, s"$path/assigned").count() == 70)
    // recall restored: the straddling pair now shares a cell
    assert(top1For(path, DupQ, qVec) == DupD)
    // reference histogram reset to the rebuilt assignment
    val ref = VersionedTable.read(spark, s"$path/refdist")
      .agg(sum($"n")).collect().head.getLong(0)
    assert(ref == 70L)
  }

  test("replay is a no-op; crash mid-retrain rolls every journaled " +
    "table back; readers keep their pinned snapshot") {
    val path = freshPath("ivf_driftcrash_")
    val sink = IvfIndex.foreachBatchIngestDriftAware(path, "vec_id",
      "embedding", cells = 2, trainIters = 2, psiThreshold = 0.25)
    sink(clusterBatch(0 until 20), 0L)
    sink(clusterBatch(20 until 40), 1L)
    val subs = Seq(s"$path/codebook", s"$path/assigned",
      s"$path/refdist", s"$path/driftlog", s"$path/deletes")
    def versions() = subs.map(VersionedTable.latestVersion(spark, _))

    // replay of an already-done batch: nothing moves
    val v1 = versions()
    sink(clusterBatch(20 until 40), 1L)
    assert(versions() == v1, "replay advanced a table version")

    // crash mid-batch-2: forge the intent (pinning the current
    // versions), land junk on two of the four tables, no done-marker
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$path/_txn/b2"), false)
    out.write(namedIntent(subs, v1).getBytes("UTF-8")); out.close()
    VersionedTable.commitAppend(
      Seq((0, 99999L, vec(9.0, 9.0, 9.0))).toDF("cell", "vec_id", "vec"),
      s"$path/assigned")
    VersionedTable.commitOverwrite(
      Seq((0, vec(9.0, 0.0, 0.0)), (1, vec(0.0, 9.0, 0.0)))
        .toDF("cell", "centroid"),
      s"$path/codebook")
    val vPinnedAssigned = v1(1)

    sink(shiftedBatch(), 2L) // rollback junk, then re-decide: breach
    val assigned = VersionedTable.read(spark, s"$path/assigned")
    assert(assigned.count() == 70)
    assert(assigned.filter($"vec_id" === 99999L).count() == 0,
      "crash junk survived the rollback")
    assert(IvfIndex.driftLog(spark, path)
      .filter($"batch_id" === 2L).collect().head
      .getAs[Boolean]("retrained"))
    assert(top1For(path, DupQ, qVec) == DupD)

    // snapshot isolation: the pre-retrain version is still readable,
    // complete, and unchanged — a reader that pinned it is unaffected
    // by the rebuild landing concurrently
    val pre = VersionedTable.read(spark, s"$path/assigned",
      Some(vPinnedAssigned))
    assert(pre.count() == 40)
    assert(pre.filter($"vec_id" >= DupBase).count() == 0)
  }
}
