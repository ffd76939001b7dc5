package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.VersionedTable

/** Time travel on the manifest-based table format: every version stays
  * readable, reads are snapshot-isolated from later commits, version
  * races resolve to distinct versions, and vacuum reclaims exactly the
  * unreferenced files.
  */
class VersionedTableSpec extends SparkTestBase {
  import spark.implicits._

  private def tbl() = Files.createTempDirectory("vt").toString + "/t"

  test("append/overwrite commits version and every version reads back") {
    val path = tbl()
    val v1 = VersionedTable.commitAppend(
      Seq((1L, "a")).toDF("id", "v"), path)
    val v2 = VersionedTable.commitAppend(
      Seq((2L, "b")).toDF("id", "v"), path)
    val v3 = VersionedTable.commitOverwrite(
      Seq((9L, "z")).toDF("id", "v"), path)
    assert((v1, v2, v3) == ((1, 2, 3)))
    def ids(v: Int) = VersionedTable.read(spark, path, Some(v))
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids(1) == Seq(1L))
    assert(ids(2) == Seq(1L, 2L))
    assert(ids(3) == Seq(9L))           // overwrite replaced the set
    assert(VersionedTable.read(spark, path) // latest = v3
      .select("id").as[Long].collect().toSeq == Seq(9L))
  }

  test("reads are snapshot-isolated: a resolved plan ignores commits") {
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    val snapshot = VersionedTable.read(spark, path) // resolves v1 files
    VersionedTable.commitOverwrite(
      Seq((2L, "b")).toDF("id", "v"), path)
    // the already-resolved frame still reads v1's (immutable) files
    assert(snapshot.select("id").as[Long].collect().toSeq == Seq(1L))
    assert(VersionedTable.read(spark, path)
      .select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("a manifest race loses exactly once and retries onto the next") {
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    // concurrent appends: both target v2; one must land at v3 with
    // BOTH prior rows carried (the retry re-reads the winner's state)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(
      Future.sequence(Seq((2L, "b"), (3L, "c")).map(row => Future {
        VersionedTable.commitAppend(Seq(row).toDF("id", "v"), path)
      })), 2.minutes).sorted
    assert(results == List(2, 3))
    assert(VersionedTable.read(spark, path)
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("a half-published manifest is never resolved as truncated") {
    // simulate a writer that died between create and close: the
    // manifest exists but has no terminator. Readers must poll then
    // fail loudly — resolving the truncated list would lose files.
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    val mdir = new java.io.File(s"$path/_manifests")
    java.nio.file.Files.writeString(
      mdir.toPath.resolve("v00002.json"), "/nonexistent/part-0.parquet\n")
    spark.conf.set("spark.graft.manifest.pollMs", "200")
    try {
      val e = intercept[IllegalStateException] {
        VersionedTable.files(spark, path, Some(2))
      }
      assert(e.getMessage.contains("incomplete"))
      // v1 (complete) still resolves fine underneath it
      assert(VersionedTable.files(spark, path, Some(1)).nonEmpty)
    } finally spark.conf.unset("spark.graft.manifest.pollMs")
  }

  test("a stale abandoned claim is reclaimed by the next commit") {
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    // abandoned half-publish at v2, backdated past the stale window
    val m2 = java.nio.file.Paths.get(s"$path/_manifests/v00002.json")
    java.nio.file.Files.writeString(m2, "/nonexistent/part-0.parquet\n")
    java.nio.file.Files.setLastModifiedTime(m2,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000L))
    spark.conf.set("spark.graft.manifest.pollMs", "200")
    try {
      // the committer finds v2 unreadable, reclaims the stale claim,
      // and lands its own v2 carrying v1's rows
      val v = VersionedTable.commitAppend(
        Seq((2L, "b")).toDF("id", "v"), path)
      assert(v == 2)
      assert(VersionedTable.read(spark, path)
        .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    } finally spark.conf.unset("spark.graft.manifest.pollMs")
  }

  test("concurrent append storm: every commit lands, versions distinct") {
    // 6 writers x 3 appends racing on one table: optimistic concurrency
    // plus the post-close fencing verify must land all 18 commits at 18
    // distinct versions with no lost rows — the invariant the reclaim/
    // fence machinery exists to protect
    val path = tbl()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val versions = Await.result(Future.sequence(
      (0 until 6).map { w => Future {
        (0 until 3).map { j =>
          VersionedTable.commitAppend(
            Seq((w * 10L + j, s"w$w-$j")).toDF("id", "v"), path)
        }
      }}), 4.minutes).flatten
    assert(versions.sorted == (1 to 18))
    val ids = VersionedTable.read(spark, path)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == (for (w <- 0 until 6; j <- 0 until 3)
      yield w * 10L + j).sorted)
    // every retained version reads back a strictly growing row set
    assert((1 to 18).map(v =>
      VersionedTable.read(spark, path, Some(v)).count()) == (1 to 18))
  }

  test("unpinned reads fall back past a crashed writer's manifest") {
    // a writer died mid-publish at the LATEST version: readers that
    // didn't pin a version must serve the newest complete snapshot
    // instead of failing every read until a committer reclaims it
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/_manifests/v00002.json"),
      "/nonexistent/part-0.parquet\n") // no terminator: half-publish
    spark.conf.set("spark.graft.manifest.pollMs", "200")
    try {
      assert(VersionedTable.read(spark, path)
        .select("id").as[Long].collect().toSeq == Seq(1L))
      // an explicitly pinned read of the broken version still fails
      // loudly — the caller asked for exactly that snapshot
      intercept[IllegalStateException] {
        VersionedTable.files(spark, path, Some(2))
      }
    } finally spark.conf.unset("spark.graft.manifest.pollMs")
  }

  test("unpinned read survives the latest manifest vanishing mid-poll") {
    // a concurrent reclaimer can rename/delete the stale latest
    // manifest AFTER a reader resolved its version number: the reader
    // must treat the vanished manifest like an incomplete one and fall
    // back to the newest complete snapshot — without waiting out the
    // whole poll window, and without an IllegalArgumentException from
    // an up-front existence require
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    val v2 = java.nio.file.Paths.get(s"$path/_manifests/v00002.json")
    java.nio.file.Files.writeString(v2,
      "/nonexistent/part-0.parquet\n") // no terminator: half-publish
    spark.conf.set("spark.graft.manifest.pollMs", "30000")
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val reader = Future { VersionedTable.files(spark, path) }
      Thread.sleep(300) // reader is inside its poll loop on v2
      java.nio.file.Files.delete(v2) // the reclaimer wins
      // well before the 30 s poll window: the vanish short-circuits
      val fl = Await.result(reader, 10.seconds)
      assert(fl.nonEmpty && fl.forall(_.contains("/data/")))
      assert(spark.read.parquet(fl: _*)
        .select("id").as[Long].collect().toSeq == Seq(1L))
    } finally spark.conf.unset("spark.graft.manifest.pollMs")
  }

  test("stalled writer past staleMs: one committer wins, loser errors") {
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    // the stalled writer's claim on v2: created, never closed, now
    // older than staleMs (its content is what it WILL have written
    // once its stalled close() lands on the orphaned inode)
    val m2 = java.nio.file.Paths.get(s"$path/_manifests/v00002.json")
    val stalledLines = List("/stalled/part-0.parquet", "#done")
    java.nio.file.Files.writeString(m2, "/stalled/part-0.parquet\n")
    java.nio.file.Files.setLastModifiedTime(m2,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 3600 * 1000L))
    spark.conf.set("spark.graft.manifest.pollMs", "200")
    try {
      // committer B finds the stale claim, reclaims it, wins v2
      val v = VersionedTable.commitAppend(
        Seq((2L, "b")).toDF("id", "v"), path)
      assert(v == 2)
      // the stalled writer resumes: its post-close fencing verify sees
      // B's content at v2, not its own → errors instead of reporting
      // a success that silently lost B's commit
      val f = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      intercept[java.util.ConcurrentModificationException] {
        VersionedTable.verifyOwnPublish(spark, f,
          new org.apache.hadoop.fs.Path(s"$path/_manifests/v00002.json"),
          stalledLines)
      }
      // exactly one winner: B's rows are the table state
      assert(VersionedTable.read(spark, path)
        .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    } finally spark.conf.unset("spark.graft.manifest.pollMs")
  }

  test("latestVersion ignores reclaim temp files") {
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        s"$path/_manifests/v00002.json.reclaim-dead"),
      "/leftover/part-0.parquet\n")
    assert(VersionedTable.latestVersion(spark, path) == 1)
    assert(VersionedTable.commitAppend(
      Seq((2L, "b")).toDF("id", "v"), path) == 2)
  }

  test("vacuum reclaims unreferenced files, keeps the retained window") {
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    VersionedTable.commitOverwrite(Seq((2L, "b")).toDF("id", "v"), path)
    VersionedTable.commitOverwrite(Seq((3L, "c")).toDF("id", "v"), path)
    VersionedTable.vacuum(spark, path, retainLast = 2, graceMs = 0L)
    // v1's files and manifest are gone; v2 and v3 still read
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, path, Some(1)).collect()
    }
    assert(VersionedTable.read(spark, path, Some(2))
      .select("id").as[Long].collect().toSeq == Seq(2L))
    assert(VersionedTable.read(spark, path, Some(3))
      .select("id").as[Long].collect().toSeq == Seq(3L))
  }

  test("foreachBatch sink skips an already-committed batch on replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val path = tbl()
    val ckpt = Files.createTempDirectory("vt_ckpt").toString
    val mem = MemoryStream[(Long, String)]
    def start() = mem.toDS().toDF("id", "v")
      .writeStream
      .foreachBatch(VersionedTable.foreachBatchAppend(path))
      .option("checkpointLocation", ckpt).start()
    val q1 = start()
    mem.addData((1L, "a"))
    q1.processAllAvailable()
    q1.stop()
    // restart from the same checkpoint: batch 0 may be replayed, the
    // marker must keep it from double-appending; batch 1 lands fresh
    mem.addData((2L, "b"))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    val rows = VersionedTable.read(spark, path)
      .select("id", "_batch_id").as[(Long, Long)].collect().sorted
    assert(rows.map(_._1).toSeq == Seq(1L, 2L), rows.mkString(","))
    assert(rows.map(_._2).distinct.length == 2) // one version per batch
  }

  test("vacuum tolerates manifests already removed by an earlier vacuum") {
    val path = tbl()
    (1 to 5).foreach(i => VersionedTable.commitOverwrite(
      Seq((i.toLong, "x")).toDF("id", "v"), path))
    VersionedTable.vacuum(spark, path, retainLast = 1,
      graceMs = 0L) // drops v1-v4
    VersionedTable.commitOverwrite(Seq((6L, "y")).toDF("id", "v"), path)
    // keep window 4..6 includes vacuumed v4 — must skip, not throw
    VersionedTable.vacuum(spark, path, retainLast = 3, graceMs = 0L)
    assert(VersionedTable.read(spark, path)
      .select("id").as[Long].collect().toSeq == Seq(6L))
  }

  test("vacuum grace window protects an unpublished in-flight commit") {
    val path = tbl()
    VersionedTable.commitOverwrite(Seq((1L, "a")).toDF("id", "v"), path)
    VersionedTable.commitOverwrite(Seq((2L, "b")).toDF("id", "v"), path)
    // simulate commit step 1 of a concurrent writer: data written,
    // manifest not yet published — the dir is unreferenced but FRESH
    val spark2 = spark
    Seq((9L, "inflight")).toDF("id", "v")
      .write.parquet(s"$path/data/pretend-inflight-commit")
    // default grace: the fresh dir AND v1's files survive
    VersionedTable.vacuum(spark2, path, retainLast = 1)
    val f = new org.apache.hadoop.fs.Path(
      s"$path/data/pretend-inflight-commit")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new org.apache.hadoop.fs.Path(
      s"$path/data/pretend-inflight-commit")),
      "vacuum deleted a commit inside the grace window")
    // grace 0 (caller asserts exclusive access): both are reclaimed
    VersionedTable.vacuum(spark2, path, retainLast = 1, graceMs = 0L)
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      s"$path/data/pretend-inflight-commit")))
    assert(VersionedTable.read(spark, path)
      .select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("vacuum keeps files still referenced by a retained append chain") {
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    VersionedTable.commitAppend(Seq((2L, "b")).toDF("id", "v"), path)
    VersionedTable.commitAppend(Seq((3L, "c")).toDF("id", "v"), path)
    // retain only v3 — but v3 still references v1/v2's data files, so
    // vacuum must keep them all
    VersionedTable.vacuum(spark, path, retainLast = 1, graceMs = 0L)
    assert(VersionedTable.read(spark, path)
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("compact bin-packs small files, preserves rows, keeps history") {
    val path = tbl()
    // 4 tiny append commits → ≥4 small files in the current manifest
    (1 to 4).foreach(i => VersionedTable.commitAppend(
      Seq((i.toLong, s"v$i")).toDF("id", "v"), path))
    val before = VersionedTable.files(spark, path)
    val vc = VersionedTable.compact(spark, path)
    assert(vc == 5)
    val after = VersionedTable.files(spark, path)
    assert(after.size < before.size)
    // identical row content, current and time-traveled
    assert(VersionedTable.read(spark, path)
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    assert(VersionedTable.read(spark, path, Some(4))
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // vacuum past the old versions reclaims the superseded small files
    VersionedTable.vacuum(spark, path, retainLast = 1, graceMs = 0L)
    assert(VersionedTable.read(spark, path)
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
  }

  test("compact is a no-op on an already-compacted or tiny table") {
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    assert(VersionedTable.compact(spark, path) == 1) // single file
    VersionedTable.commitAppend(Seq((2L, "b")).toDF("id", "v"), path)
    assert(VersionedTable.compact(spark, path) == 3)
    // immediately re-compacting finds one packed file → no new version
    assert(VersionedTable.compact(spark, path) == 3)
  }

  test("commitMerge upserts matched keys, inserts new, keeps history") {
    val path = tbl()
    VersionedTable.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"), path)
    val v = VersionedTable.commitMerge(
      Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), path, Seq("id"))
    assert(v == 2)
    val rows = VersionedTable.read(spark, path)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "a"), (2L, "B2"), (3L, "c")))
    // pre-merge snapshot intact
    assert(VersionedTable.read(spark, path, Some(1))
      .as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // merge into an empty table is an overwrite-create
    val p2 = tbl()
    assert(VersionedTable.commitMerge(
      Seq((9L, "z")).toDF("id", "v"), p2, Seq("id")) == 1)
  }

  test("commitMerge racing appenders never drops their rows") {
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val appends = Future.traverse(Seq(10L, 11L))(i => Future {
      VersionedTable.commitAppend(Seq((i, s"v$i")).toDF("id", "v"), path)
    })
    val merge = Future {
      VersionedTable.commitMerge(
        Seq((1L, "A1"), (2L, "b")).toDF("id", "v"), path, Seq("id"))
    }
    Await.result(appends, 120.seconds)
    Await.result(merge, 120.seconds)
    // whatever the interleaving: both appended rows present, id 1
    // updated, id 2 inserted (the merge recomputes on a lost race)
    val rows = VersionedTable.read(spark, path)
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "A1"), (2L, "b"),
      (10L, "v10"), (11L, "v11")))
  }

  test("publishStats + readPruned skip files outside the range") {
    val path = tbl()
    // three commits with disjoint ZERO-PADDED key ranges → disjoint
    // file envelopes in string order (the manifest's comparison order)
    def slab(lo: Int, hi: Int) =
      (lo to hi).map(i => (f"k$i%03d", i.toLong)).toDF("id", "n")
        .coalesce(1)
    VersionedTable.commitAppend(slab(1, 10), path)
    VersionedTable.commitAppend(slab(100, 110), path)
    VersionedTable.commitAppend(slab(200, 210), path)
    VersionedTable.publishStats(spark, path, Seq("id"))
    val pruned = VersionedTable.readPruned(spark, path, "id",
      "k100", "k110")
    // file-granular skipping: only the middle commit's file is read
    assert(pruned.select(input_file_name()).distinct().count() == 1)
    assert(pruned.filter($"id".between("k100", "k110")).count() == 11)
    // and a version without published stats builds them on the fly
    val onTheFly = VersionedTable.readPruned(spark, path, "id",
      "k200", "k210", version = Some(3))
    assert(onTheFly.filter($"id" >= "k200").count() == 11)

    // a racing publisher that lost AFTER its rename can leave its tmp
    // NESTED inside the sidecar (Hadoop rename-onto-existing-dir
    // nests the source instead of failing); the sidecar read must
    // neither break on partition discovery nor double-count stats
    val statsDir = new java.io.File(path, "_stats").listFiles()
      .filter(_.getName.matches("v\\d+")).head
    val nested = new java.io.File(statsDir,
      "v00003.tmp-deadbeef")
    (1 to 3).map(i => (s"junk$i", 999L)).toDF("id", "n")
      .write.parquet(nested.getAbsolutePath)
    val afterJunk = VersionedTable.readPruned(spark, path, "id",
      "k100", "k110")
    assert(afterJunk.select(input_file_name()).distinct().count() == 1)
    assert(afterJunk.filter($"id".between("k100", "k110"))
      .count() == 11, "nested tmp junk duplicated pruned rows")
  }

  test("diff reports inserts, deletes, and updates between versions") {
    val path = tbl()
    VersionedTable.commitAppend(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), path)
    // v2: 1 unchanged, 2 updated, 3 deleted, 4 inserted
    VersionedTable.commitMerge(
      Seq((2L, "B2"), (4L, "d")).toDF("id", "v"), path, Seq("id"))
    val v3 = VersionedTable.commitOverwrite(
      Seq((1L, "a"), (2L, "B2"), (4L, "d")).toDF("id", "v"), path)
    val changes = VersionedTable.diff(spark, path, 1, v3, Seq("id"))
      .select($"id", $"change_type").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(changes == Seq((2L, "update"), (3L, "delete"),
      (4L, "insert")))
    // forward-only identity: diff(v, v) is empty
    assert(VersionedTable.diff(spark, path, v3, v3, Seq("id"))
      .isEmpty)
  }

  test("compact racing real committers never loses a committed row") {
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    VersionedTable.commitAppend(Seq((2L, "b")).toDF("id", "v"), path)
    // compaction runs while appenders land: whichever side wins each
    // version race, every committed row must survive — a compactor
    // that lost must abandon its rewrite (stale snapshot), appenders
    // retry on top of whatever won
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val appends = Future.traverse(Seq(3L, 4L, 5L))(i => Future {
      VersionedTable.commitAppend(Seq((i, s"v$i")).toDF("id", "v"), path)
    })
    val comp = Future { VersionedTable.compact(spark, path) }
    Await.result(appends, 120.seconds)
    Await.result(comp, 120.seconds)
    assert(VersionedTable.read(spark, path)
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L))
    // and a quiesced compaction afterwards still converges the layout
    val v = VersionedTable.compact(spark, path)
    assert(VersionedTable.files(spark, path, Some(v)).size == 1)
    assert(VersionedTable.read(spark, path)
      .select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("journal replay of a pre-upgrade intent rolls back the prefix") {
    // a sub-table list can grow (BM25's deletes was added as a 5th
    // component); an intent written before the growth pins fewer
    // tables — replay must roll back exactly those, not throw and jam
    // the stream
    val root = Files.createTempDirectory("txn").toString
    val (a, b) = (s"$root/a", s"$root/b")
    VersionedTable.commitAppend(Seq(1L).toDF("id"), a)
    VersionedTable.commitAppend(Seq(10L).toDF("id"), b)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crashed pre-upgrade batch: intent pins only table a at v1, then
    // the crashed apply half-landed an extra append to a
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_txn"))
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_txn/b7"), false)
    out.write("a:1".getBytes("UTF-8")); out.close()
    VersionedTable.commitAppend(Seq(2L).toDF("id"), a)
    // replay under the GROWN list (a, b): rolls back a to v1, leaves
    // b untouched, then re-applies over both
    val ran = graft.core.TxnJournal.exactlyOnce(spark, root, 7L,
      Seq(a, b)) {
      VersionedTable.commitAppend(Seq(3L).toDF("id"), a)
      VersionedTable.commitAppend(Seq(30L).toDF("id"), b)
    }
    assert(ran)
    assert(VersionedTable.read(spark, a).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L))
    assert(VersionedTable.read(spark, b).select("id").as[Long]
      .collect().sorted.toSeq == Seq(10L, 30L))
    // the inverse (intent pins MORE tables than the caller lists) is
    // corruption: fail with the remediation message, never guess
    val out2 = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_txn/b8"), false)
    out2.write("a:1 b:1 c:1".getBytes("UTF-8")); out2.close()
    val e = intercept[IllegalArgumentException] {
      graft.core.TxnJournal.exactlyOnce(spark, root, 8L, Seq(a, b))(())
    }
    assert(e.getMessage.contains("the caller did not pass"))
  }

  test("commitDelete is file-granular: untouched files carry by reference") {
    val path = Files.createTempDirectory("fgdel").toString + "/t"
    // three appends = three commit dirs; the delete key lives only in
    // the second
    VersionedTable.commitAppend(Seq(1L, 2L).toDF("id").coalesce(1), path)
    VersionedTable.commitAppend(Seq(10L, 11L).toDF("id").coalesce(1), path)
    VersionedTable.commitAppend(Seq(20L).toDF("id").coalesce(1), path)
    val before = VersionedTable.files(spark, path, Some(3))
    val v = VersionedTable.commitDelete(spark, path,
      Seq(10L).toDF("id"), Seq("id"))
    val after = VersionedTable.files(spark, path, Some(v))
    // every file NOT containing a hit is the SAME path as before —
    // zero bytes copied for them; only the hit file was rewritten
    val shared = before.toSet.intersect(after.toSet)
    assert(shared.size === before.size - 1,
      s"expected all but one file carried; before=$before after=$after")
    assert(VersionedTable.read(spark, path)
      .select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 11L, 20L))
    // history is intact: the pre-delete snapshot still reads 10
    assert(VersionedTable.read(spark, path, Some(3))
      .select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 10L, 11L, 20L))
    // a delete matching nothing is a metadata-only commit: same files
    val v2 = VersionedTable.commitDelete(spark, path,
      Seq(999L).toDF("id"), Seq("id"))
    assert(VersionedTable.files(spark, path, Some(v2)).toSet ===
      after.toSet)
  }

  test("commitMerge is file-granular: non-colliding files carry") {
    val path = tbl()
    VersionedTable.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), path)
    VersionedTable.commitAppend(
      Seq((10L, "x"), (11L, "y")).toDF("id", "v").coalesce(1), path)
    VersionedTable.commitAppend(
      Seq((20L, "z")).toDF("id", "v").coalesce(1), path)
    val before = VersionedTable.files(spark, path, Some(3))
    // upsert collides only with the second file's keys
    val v = VersionedTable.commitMerge(
      Seq((10L, "X2"), (30L, "new")).toDF("id", "v"), path, Seq("id"))
    val after = VersionedTable.files(spark, path, Some(v))
    assert(before.toSet.intersect(after.toSet).size ===
      before.size - 1,
      "only the colliding file should rewrite; the rest carries")
    assert(VersionedTable.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "a"), (2L, "b"), (10L, "X2"), (11L, "y"), (20L, "z"),
        (30L, "new")))
    // a merge colliding with nothing carries EVERY file (pure insert)
    val v2 = VersionedTable.commitMerge(
      Seq((40L, "w")).toDF("id", "v"), path, Seq("id"))
    assert(VersionedTable.files(spark, path, Some(v2)).toSet
      .intersect(after.toSet) === after.toSet)
  }

  test("commitDelete with a bloom sidecar stays exact (pruned discovery)") {
    val path = tbl()
    VersionedTable.commitAppend(
      spark.range(0, 64).toDF("id")
        .withColumn("v", col("id") * 2)
        .repartition(4, col("id")), path)
    VersionedTable.publishBloom(spark, path, "id")
    // keys present: exact delete through the sidecar-pruned discovery
    val v = VersionedTable.commitDelete(spark, path,
      Seq(7L, 13L).toDF("id"), Seq("id"))
    assert(VersionedTable.read(spark, path, Some(v))
      .select("id").as[Long].collect().sorted.toSeq ===
      (0L until 64L).filterNot(Set(7L, 13L)))
    // keys absent: the sidecar prunes everything — metadata-only
    // commit with the identical file list
    val beforeNoop = VersionedTable.files(spark, path, Some(v))
    val v2 = VersionedTable.commitDelete(spark, path,
      Seq(999L).toDF("id"), Seq("id"))
    assert(VersionedTable.files(spark, path, Some(v2)).toSet ===
      beforeNoop.toSet)
  }

  test("file-granular ops survive URL-encoded special chars in paths") {
    // input_file_name() returns URL-ENCODED URIs while manifests hold
    // raw FileStatus strings: without decode-normalization the
    // discovery never matches on a path with a space and the delete
    // silently no-ops (metadata-only commit) — the worst possible
    // failure for a privacy takedown
    val path = Files.createTempDirectory("enc dir").toString +
      "/my table"
    VersionedTable.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), path)
    VersionedTable.commitDelete(spark, path,
      Seq(1L).toDF("id"), Seq("id"))
    assert(VersionedTable.read(spark, path)
      .select("id").as[Long].collect().toSeq === Seq(2L),
      "delete silently no-opped on a special-char path")
    VersionedTable.commitMerge(
      Seq((2L, "B2"), (3L, "c")).toDF("id", "v"), path, Seq("id"))
    assert(VersionedTable.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((2L, "B2"), (3L, "c")),
      "merge left duplicate keys on a special-char path")
    VersionedTable.commitReplaceWhere(spark, path,
      Seq((3L, "C3")).toDF("id", "v"), col("id") === 3L)
    assert(VersionedTable.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((2L, "B2"), (3L, "C3")),
      "replace kept the old window rows on a special-char path")
  }

  test("commitDelete racing a concurrent append loses neither") {
    // the OCC contract: whichever writer loses the version race
    // recomputes against the winner — a blind retry with a stale file
    // list would silently drop the concurrent commit
    val path = tbl()
    VersionedTable.commitAppend(
      spark.range(0, 10).toDF("id").coalesce(1), path)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(Seq(
      Future { VersionedTable.commitAppend(
        Seq(100L).toDF("id"), path) },
      Future { VersionedTable.commitDelete(spark, path,
        Seq(5L).toDF("id"), Seq("id")) })), 2.minutes)
    // run the delete once more: if the append landed AFTER the
    // delete's snapshot, 5 is back out; either way 100 must survive
    VersionedTable.commitDelete(spark, path,
      Seq(5L).toDF("id"), Seq("id"))
    val ids = VersionedTable.read(spark, path)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids.contains(100L), "concurrent append was dropped")
    assert(!ids.contains(5L))
    assert(ids.size === 10, s"unexpected row set: $ids")
  }

  test("file-granular merge/replace null-fill across schema evolution") {
    val path = tbl()
    VersionedTable.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), path)
    // evolve: add c2 in a later file; the old file lacks it
    VersionedTable.commitAppendEvolve(
      Seq((3L, "c", 30L)).toDF("id", "v", "c2").coalesce(1), path)
    // merge collides ONLY with the pre-evolution file: the touched
    // subset has no c2, the batch does — must null-fill, not crash
    VersionedTable.commitMerge(
      Seq((1L, "A2", 10L)).toDF("id", "v", "c2"), path, Seq("id"))
    val rows = VersionedTable.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1),
        Option(r.getAs[java.lang.Long]("c2")).map(_.toLong))).toSet
    assert(rows === Set((1L, "A2", Some(10L)), (2L, "b", None),
      (3L, "c", Some(30L))))
    // same for REPLACE WHERE into the pre-evolution window
    VersionedTable.commitReplaceWhere(spark, path,
      Seq((2L, "B2", 20L)).toDF("id", "v", "c2"), col("id") === 2L)
    assert(VersionedTable.read(spark, path).filter(col("id") === 2L)
      .select("c2").as[Long].collect().toSeq === Seq(20L))
  }

  test("commitReplaceWhere onto an empty snapshot is a pure insert") {
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    VersionedTable.commitOverwrite(
      Seq.empty[(Long, String)].toDF("id", "v").limit(0), path)
    val v = VersionedTable.commitReplaceWhere(spark, path,
      Seq((7L, "w")).toDF("id", "v"), col("id") === 7L)
    assert(v === 3)
    assert(VersionedTable.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((7L, "w")))
  }

  test("vacuum reclaims superseded files inside a partly-retained dir") {
    val path = tbl()
    // ONE commit dir holding TWO data files; a file-granular delete
    // supersedes one and carries the other — vacuum must reclaim per
    // FILE (the old dir-granular rule would keep the purged bytes
    // alive because a sibling is still referenced)
    VersionedTable.commitAppend(
      spark.range(0, 8).toDF("id").repartition(2, col("id")), path)
    val before = VersionedTable.files(spark, path, Some(1))
    assert(before.size === 2)
    VersionedTable.commitDelete(spark, path,
      Seq(0L).toDF("id"), Seq("id"))
    val after = VersionedTable.files(spark, path, Some(2))
    val carried = before.toSet.intersect(after.toSet)
    assert(carried.size === 1)
    val superseded = (before.toSet -- after.toSet).head
    VersionedTable.vacuum(spark, path, retainLast = 1, graceMs = 0L)
    val f = new org.apache.hadoop.fs.Path(superseded)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(superseded)),
      "superseded file must be reclaimed")
    assert(carried.forall(p =>
      f.exists(new org.apache.hadoop.fs.Path(p))),
      "carried sibling must survive")
    assert(VersionedTable.read(spark, path)
      .select("id").as[Long].collect().sorted.toSeq ===
      (1L to 7L))
  }

  test("commitReplaceWhere: backfill one window, file-granular, " +
      "null rows kept") {
    val path = Files.createTempDirectory("rpw").toString + "/t"
    VersionedTable.commitAppend(
      Seq((1L, Option(5L)), (2L, Option.empty[Long]))
        .toDF("id", "day").coalesce(1), path)
    VersionedTable.commitAppend(
      Seq((3L, Option(7L)), (4L, Option(8L))).toDF("id", "day")
        .coalesce(1), path)
    val before = VersionedTable.files(spark, path, Some(2))
    // replace the day-7..8 window (touches only the second file);
    // the null-day row must be KEPT (predicate NULL != matched)
    val v = VersionedTable.commitReplaceWhere(spark, path,
      Seq((30L, Option(7L)), (40L, Option(7L)), (50L, Option(8L)))
        .toDF("id", "day"),
      col("day") >= 7L && col("day") <= 8L)
    val after = VersionedTable.files(spark, path, Some(v))
    assert(before.toSet.intersect(after.toSet).size ===
      before.size - 1, "only the window's file should rewrite")
    assert(VersionedTable.read(spark, path)
      .select("id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 30L, 40L, 50L))
    // a replacement row OUTSIDE the window is refused loudly
    val e = intercept[IllegalArgumentException] {
      VersionedTable.commitReplaceWhere(spark, path,
        Seq((60L, Option(99L))).toDF("id", "day"),
        col("day") >= 7L && col("day") <= 8L)
    }
    assert(e.getMessage.contains("satisfy the REPLACE WHERE"))
    // ... and so is a replacement row whose predicate is NULL
    intercept[IllegalArgumentException] {
      VersionedTable.commitReplaceWhere(spark, path,
        Seq((61L, Option.empty[Long])).toDF("id", "day"),
        col("day") >= 7L && col("day") <= 8L)
    }
    // replacing an empty window is a pure insert; everything carries
    val v2 = VersionedTable.commitReplaceWhere(spark, path,
      Seq((70L, Option(100L))).toDF("id", "day"),
      col("day") === 100L)
    assert(VersionedTable.files(spark, path, Some(v2)).toSet
      .intersect(after.toSet) === after.toSet)
    assert(VersionedTable.read(spark, path).count() === 6L)
  }

  test("commitReplaceWhere evaluates the replacement plan exactly once") {
    // the in-window validation, the write, and any OCC retry all read
    // ONE materialized scratch — an expensive derived feed (a join, a
    // model scorer) pays its cost once, not once per pass
    val path = tbl()
    VersionedTable.commitAppend(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), path)
    val acc = spark.sparkContext.longAccumulator("replEvalRows")
    val repl = Seq((1L, "A"), (10L, "AA")).toDS()
      .map { r => acc.add(1); r }.toDF("id", "v")
    val vNew = VersionedTable.commitReplaceWhere(spark, path, repl,
      col("id") === 1L || col("id") === 10L)
    assert(vNew === 2)
    assert(VersionedTable.read(spark, path).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "A"), (2L, "b"), (10L, "AA")))
    assert(acc.value === 2L,
      s"replacement rows evaluated ${acc.value} times across passes " +
        "— the plan must run exactly once (scratch materialization)")
  }

  test("replace-where scratch decision: bare scans skip, derived plans don't") {
    // a bare file-source scan re-reads cheaper than it copies — the
    // SQL REPLACE path (VersionedTable.read of a staged table) must
    // not pay a full scratch write of the backfill window; anything
    // computed on top must materialize (the single-evaluation test
    // above covers the behavior, this pins the decision itself)
    val dir = Files.createTempDirectory("bare").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/p")
    val bare = spark.read.parquet(s"$dir/p")
    assert(VersionedTable.pinnedBareScan(bare).isDefined)
    assert(VersionedTable.pinnedBareScan(bare.filter(col("id") > 0)).isEmpty)
    assert(VersionedTable.pinnedBareScan(bare.select(col("id"))).isEmpty)
    assert(VersionedTable.pinnedBareScan(Seq(1L).toDF("id")).isEmpty)
    // the versioned-table reader itself resolves to a bare scan
    val path = tbl()
    VersionedTable.commitAppend(Seq((1L, "a")).toDF("id", "v"), path)
    assert(VersionedTable.pinnedBareScan(
      VersionedTable.read(spark, path)).isDefined)
  }

  test("bare-scan fast path is pinned to its files, not the live dir") {
    // the validation scan and the OCC-loop write scan must read
    // IDENTICAL bytes: a file landing in the source directory between
    // them must not be committed unvalidated. The pin re-reads the
    // exact inputFiles, so later arrivals are invisible to it.
    val dir = Files.createTempDirectory("pin").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/p")
    val pinned = VersionedTable.pinnedBareScan(
      spark.read.parquet(s"$dir/p")).get
    assert(pinned.count() === 1L)
    // a new file lands in the directory after the pin
    Seq((99L, "late")).toDF("id", "v")
      .write.mode("append").parquet(s"$dir/p")
    assert(spark.read.parquet(s"$dir/p").count() === 2L)
    assert(pinned.count() === 1L, "pinned scan must not see late files")
    // partitioned sources decline the fast path (partition-column
    // values come from directory names an explicit file list drops)
    val pdir = Files.createTempDirectory("pinpart").toString
    Seq((1L, "x", "a"), (2L, "y", "b")).toDF("id", "v", "part")
      .write.partitionBy("part").parquet(s"$pdir/p")
    assert(VersionedTable.pinnedBareScan(
      spark.read.parquet(s"$pdir/p")).isEmpty)
  }

  test("named intent replays by NAME across inserted/reordered subs") {
    // the current intent format pins name:version, so a sub-table
    // list that grew by INSERTION (not just appending) — or got
    // reordered — still rolls back exactly the right tables
    val root = Files.createTempDirectory("txn2").toString
    val (a, b, c) = (s"$root/a", s"$root/b", s"$root/c")
    VersionedTable.commitAppend(Seq(1L).toDF("id"), a)
    VersionedTable.commitAppend(Seq(20L).toDF("id"), c)
    // crash mid-batch over (a, c): the intent lands, a advances past
    // its pin, the done-marker never does
    intercept[RuntimeException] {
      graft.core.TxnJournal.exactlyOnce(spark, root, 9L, Seq(a, c)) {
        VersionedTable.commitAppend(Seq(2L).toDF("id"), a)
        throw new RuntimeException("crash mid-batch")
      }
    }
    // replay under a list that grew by INSERTING b in the middle —
    // the legacy prefix-zip would roll b back to a's pinned version;
    // named pins must roll back a (past pin) and leave b, c alone
    VersionedTable.commitAppend(Seq(100L).toDF("id"), b)
    val ran = graft.core.TxnJournal.exactlyOnce(spark, root, 9L,
      Seq(a, b, c)) {
      VersionedTable.commitAppend(Seq(3L).toDF("id"), a)
    }
    assert(ran)
    assert(VersionedTable.read(spark, a).select("id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 3L))
    assert(VersionedTable.read(spark, b).select("id").as[Long]
      .collect().sorted.toSeq == Seq(100L))
    assert(VersionedTable.read(spark, c).select("id").as[Long]
      .collect().sorted.toSeq == Seq(20L))
    // a pinned name the caller no longer passes is corruption: loud
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_txn/b11"), false)
    out.write("a:1 zz:1".getBytes("UTF-8")); out.close()
    val e2 = intercept[IllegalArgumentException] {
      graft.core.TxnJournal.exactlyOnce(spark, root, 11L, Seq(a, b))(())
    }
    assert(e2.getMessage.contains("zz"))
  }

  test("named guards are loud; a bare-version intent fails replay") {
    val root = Files.createTempDirectory("txn3").toString
    val (a, b) = (s"$root/x/events", s"$root/y/events")
    VersionedTable.commitAppend(Seq(1L).toDF("id"), a)
    VersionedTable.commitAppend(Seq(10L).toDF("id"), b)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_txn"))
    // writing an intent over colliding segments is refused loudly —
    // the names would be ambiguous pins
    val e = intercept[IllegalArgumentException] {
      graft.core.TxnJournal.exactlyOnce(spark, root, 13L, Seq(a, b))(())
    }
    assert(e.getMessage.contains("unique"))
    // ... as is a whitespace-bearing segment (space-delimited format:
    // its replay would split the name across entries)
    val w = s"$root/bad seg"
    VersionedTable.commitAppend(Seq(5L).toDF("id"), w)
    val e2 = intercept[IllegalArgumentException] {
      graft.core.TxnJournal.exactlyOnce(spark, root, 14L, Seq(w))(())
    }
    assert(e2.getMessage.contains("whitespace"))
    // a named entry missing its ':' hits the documented remediation
    // message, not a StringIndexOutOfBoundsException
    val out2 = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_txn/b15"), false)
    out2.write("events:1 7".getBytes("UTF-8")); out2.close()
    val e3 = intercept[IllegalArgumentException] {
      graft.core.TxnJournal.exactlyOnce(spark, root, 15L, Seq(a))(())
    }
    assert(e3.getMessage.contains("no ':'"))
    // ... and a non-numeric (truncated-write) version gets the same
    // remediation, not a raw NumberFormatException
    val out3 = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_txn/b16"), false)
    out3.write("events:3a".getBytes("UTF-8")); out3.close()
    val e4 = intercept[IllegalArgumentException] {
      graft.core.TxnJournal.exactlyOnce(spark, root, 16L, Seq(a))(())
    }
    assert(e4.getMessage.contains("non-numeric"))
    // a bare-version intent (no names) is not a format replay reads:
    // it fails with the same remediation, never a positional guess
    val out4 = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_txn/b17"), false)
    out4.write("1".getBytes("UTF-8")); out4.close()
    val e5 = intercept[IllegalArgumentException] {
      graft.core.TxnJournal.exactlyOnce(spark, root, 17L, Seq(a))(())
    }
    assert(e5.getMessage.contains("no ':'") &&
      e5.getMessage.contains("resolve the crashed batch manually"))
  }

  test("merge, delete, replace-where and compact label their data writes") {
    // every commit-dir write (its shuffle job included) runs under the
    // `commit <table>` job label. The job totals are the ones measured
    // before these writes carried it, when all of them were `unlabeled`,
    // except compact's: it reads its small files with a driver-resolved
    // schema, so its one job is the commit
    val path = tbl()
    (0 until 4).foreach(i => VersionedTable.commitAppend(
      Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1), path))
    val ops = Seq(
      ("merge", 5, Map("commit" -> 2, "unlabeled" -> 3),
        counted(VersionedTable.commitMerge(
          Seq((1L, "m")).toDF("id", "v"), path, Seq("id")))),
      ("delete", 5, Map("commit" -> 2, "unlabeled" -> 3),
        counted(VersionedTable.commitDelete(spark, path,
          Seq(2L).toDF("id"), Seq("id")))),
      ("replace-where", 6,
        Map("commit" -> 1, "scratch" -> 1, "unlabeled" -> 4),
        counted(VersionedTable.commitReplaceWhere(spark, path,
          Seq((3L, "r")).toDF("id", "v"), col("id") === 3L))),
      ("compact", 1, Map("commit" -> 1),
        counted(VersionedTable.compact(spark, path))))
    for ((op, jobs, labels, c) <- ops) {
      assert(c.jobs == jobs, s"$op ran ${c.json}")
      assert(c.jobsByLabel == labels, s"$op ran ${c.json}")
    }
    assert(VersionedTable.files(spark, path).size == 1)
    assert(VersionedTable.read(spark, path).as[(Long, String)].collect()
      .sorted.toSeq == Seq((0L, "v0"), (1L, "m"), (3L, "r")))
  }
}
