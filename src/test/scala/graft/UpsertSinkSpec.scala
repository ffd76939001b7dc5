package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException}

import graft.core.VersionedTable
import graft.streaming.SensorStreamJob

/** Streaming MERGE sink: micro-batches upsert by key instead of
  * appending, each as one VersionedTable version, so the table always
  * holds the latest version of each key (the streaming twin of the K4
  * silver merge). */
class UpsertSinkSpec extends SparkTestBase {
  import spark.implicits._

  private def start(mem: SharedMemoryStream[(Long, String, Long)],
      root: String): StreamingQuery =
    SensorStreamJob.startUpsertSink(
      mem.toDF().toDF("pool_id", "status", "seq"), s"$root/state",
      keys = Seq("pool_id"), orderCol = "seq",
      checkpointPath = s"$root/ckpt")

  private def rows(root: String): Seq[(Long, String)] =
    VersionedTable.read(spark, s"$root/state").orderBy("pool_id")
      .as[(Long, String, Long)].collect().map(r => (r._1, r._2)).toSeq

  private def version(root: String): Int =
    VersionedTable.latestVersion(spark, s"$root/state")

  test("upsert sink keeps latest-by-key across micro-batches") {
    val root = Files.createTempDirectory("graft-upsert").toString
    val mem = new SharedMemoryStream[(Long, String, Long)](spark)
    val q = start(mem, root)
    try {
      mem.addData((1L, "FILLING", 1L), (2L, "OK", 2L))
      q.processAllAvailable()
      assert(rows(root).size == 2 && version(root) == 1)

      // batch 2 updates pool 1 (twice — latest inside the batch wins)
      // and inserts pool 3
      mem.addData((1L, "OK", 3L), (1L, "DRAINING", 4L), (3L, "NEW", 5L))
      q.processAllAvailable()
      assert(rows(root) == Seq((1L, "DRAINING"), (2L, "OK"), (3L, "NEW")))
      assert(version(root) == 2, "one version per micro-batch")
    } finally q.stop()
  }

  test("re-merging an applied batch is a no-op (replay idempotence)") {
    val root = Files.createTempDirectory("graft-upsert2").toString
    val mem = new SharedMemoryStream[(Long, String, Long)](spark)
    def run(feed: StreamingQuery => Unit): Unit = {
      val q = start(mem, root)
      try { feed(q); q.processAllAvailable() } finally q.stop()
    }
    run { q =>
      mem.addData((1L, "FILLING", 1L), (2L, "OK", 2L))
      q.processAllAvailable()
      mem.addData((1L, "OK", 3L))
    }
    val applied = rows(root)
    assert(applied == Seq((1L, "OK"), (2L, "OK")) && version(root) == 2)

    // restart without batch 1's checkpoint commit: Structured Streaming
    // replays it, and its marker skips the commit
    val commits = Paths.get(root, "ckpt", "commits")
    deleteEntry(commits, "1")
    run(_ => ())
    assert(rows(root) == applied && version(root) == 2)

    // a crash between commit and marker: the replay re-merges batch 1,
    // which maps every key to the value it already has
    deleteEntry(commits, "1")
    deleteEntry(Paths.get(root, "state", "_commits"), "b1")
    run(_ => ())
    assert(rows(root) == applied && version(root) == 3)
  }

  test("a missing table at a batch after the first fails loudly") {
    val root = Files.createTempDirectory("graft-upsert3").toString
    val mem = new SharedMemoryStream[(Long, String, Long)](spark)
    val q0 = start(mem, root)
    try { mem.addData((1L, "OK", 1L)); q0.processAllAvailable() }
    finally q0.stop()
    // state lost between runs: batch 1 must not rebuild it from itself
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/state"))
    mem.addData((2L, "OK", 2L))
    val q1 = start(mem, root)
    try {
      val e = intercept[StreamingQueryException](q1.processAllAvailable())
      assert(e.getMessage.contains("missing at batch 1"), e.getMessage)
    } finally q1.stop()
    assert(version(root) == 0)
  }
}
