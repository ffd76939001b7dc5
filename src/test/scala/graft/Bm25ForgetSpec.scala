package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.VersionedTable
import graft.operators.{Bm25, Bm25Index}

/** Right-to-be-forgotten on the BM25 index: tombstone deletion must be
  * score-for-score indistinguishable from a rebuild on the remaining
  * corpus, exactly once per op, crash-safe, and cheap (no
  * postings rewrite). */
class Bm25ForgetSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark joins tables with hash join"),
    (2L, "join join join everywhere a join"),
    (3L, "window aggregation over streams"),
    (4L, "hash partitioned shuffle join strategy and more words here"),
    (5L, "nothing relevant at all"),
    (6L, "hash maps and hash sets uniquetoken"),
    (7L, "uniquetoken appears here too")).toDF("doc_id", "text")
  private val qs = Seq((0L, "hash join"), (1L, "streams uniquetoken"))
    .toDF("query_id", "qtext")

  private def freshIndex(): String = {
    val path = graft.core.Scratch.root(docs) +
      s"/bm25fgt_${java.util.UUID.randomUUID()}"
    graft.core.Scratch.registerForCleanup(path)
    Bm25Index.publish(docs, "doc_id", "text", path)
    path
  }

  private def rows(df: DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    .toSeq.sorted
  private def search(path: String) = rows(Bm25Index.searchFrom(
    spark, path, qs, "query_id", "qtext", "doc_id", k = 10))
  private def rebuild(remaining: DataFrame) = rows(Bm25.topK(
    remaining, "doc_id", "text", qs, "query_id", "qtext", k = 10))

  test("forget equals rebuild, bit-for-bit; forgotten ids gone") {
    val path = freshIndex()
    assert(Bm25Index.forget(spark, path,
      Seq(2L, 6L).toDF("doc_id"), "doc_id", opId = 1L))
    val got = search(path)
    assert(got === rebuild(docs.filter(!$"doc_id".isin(2L, 6L))))
    assert(!got.exists(r => r._2 == 2L || r._2 == 6L))
    // postings/doclen were NOT rewritten: no new version landed there
    assert(VersionedTable.latestVersion(spark, s"$path/postings") === 1)
    assert(VersionedTable.latestVersion(spark, s"$path/doclen") === 1)
  }

  test("df hitting zero drops the token, exactly like a rebuild") {
    val path = freshIndex()
    Bm25Index.forget(spark, path,
      Seq(6L, 7L).toDF("doc_id"), "doc_id", opId = 1L)
    val ts = VersionedTable.read(spark, s"$path/termstats")
      .filter($"token" === "uniquetoken").count()
    assert(ts === 0L, "token with df 0 must vanish from termstats")
    assert(search(path) ===
      rebuild(docs.filter(!$"doc_id".isin(6L, 7L))))
  }

  test("op replay is a no-op; double-forget never double-subtracts") {
    val path = freshIndex()
    assert(Bm25Index.forget(spark, path,
      Seq(2L).toDF("doc_id"), "doc_id", opId = 1L))
    val after = search(path)
    // same opId: done-marker short-circuits
    assert(!Bm25Index.forget(spark, path,
      Seq(2L).toDF("doc_id"), "doc_id", opId = 1L))
    assert(search(path) === after)
    // new op, already-forgotten id + unknown id: nothing changes
    assert(Bm25Index.forget(spark, path,
      Seq(2L, 999L).toDF("doc_id"), "doc_id", opId = 2L))
    assert(search(path) === after)
    val stats = VersionedTable.read(spark, s"$path/stats").collect().head
    assert(stats.getAs[Long]("n_docs") === 6L)
  }

  test("forget then ingest more docs keeps the rebuild equivalence") {
    val path = freshIndex()
    Bm25Index.forget(spark, path, Seq(4L).toDF("doc_id"), "doc_id", 1L)
    val more = Seq((8L, "hash join hash join")).toDF("doc_id", "text")
    Bm25Index.update(more, "doc_id", "text", path)
    assert(search(path) ===
      rebuild(docs.filter($"doc_id" =!= 4L).union(more)))
  }

  test("crash mid-forget: replay rolls back and applies cleanly") {
    val path = freshIndex()
    val before = search(path)
    // simulate: intent written, termstats half-updated, no done-marker
    val subs = Bm25Index.componentPaths(path)
    val pinned = subs.map(VersionedTable.latestVersion(spark, _))
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/_txn"))
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$path/_txn/f1"), false)
    out.write(namedIntent(subs, pinned).getBytes("UTF-8")); out.close()
    VersionedTable.commitOverwrite(
      Seq(("junktoken", 123L)).toDF("token", "df"), s"$path/termstats")
    // the real op with the same opId: rollback junk, apply
    assert(Bm25Index.forget(spark, path,
      Seq(2L).toDF("doc_id"), "doc_id", opId = 1L))
    assert(search(path) === rebuild(docs.filter($"doc_id" =!= 2L)))
    assert(VersionedTable.read(spark, s"$path/termstats")
      .filter($"token" === "junktoken").count() === 0L)
    assert(search(path) !== before)
  }

  test("upgrade path: pre-deletes index searches and forgets") {
    val path = freshIndex()
    // simulate an index published before the deletes table existed
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/deletes"), true)
    assert(search(path) === rebuild(docs)) // tombstone-free read
    Bm25Index.forget(spark, path, Seq(3L).toDF("doc_id"), "doc_id", 1L)
    assert(search(path) === rebuild(docs.filter($"doc_id" =!= 3L)))
  }

  test("purge + vacuum: forgotten bytes physically leave disk") {
    val path = freshIndex()
    Bm25Index.forget(spark, path,
      Seq(2L, 6L).toDF("doc_id"), "doc_id", opId = 1L)
    val after = search(path)
    assert(Bm25Index.purgeForgotten(spark, path, opId = 1L))
    // search unchanged; tombstones reset; replay no-op
    assert(search(path) === after)
    assert(VersionedTable.read(spark, s"$path/deletes").count() === 0L)
    assert(!Bm25Index.purgeForgotten(spark, path, opId = 2L),
      "purge with nothing tombstoned must be a no-op")
    // live snapshot no longer carries the rows
    assert(VersionedTable.read(spark, s"$path/postings")
      .filter($"doc_id".isin(2L, 6L)).count() === 0L)
    // vacuum the rewritten tables, then scan EVERY parquet file still
    // on disk under them: the forgotten doc ids must be gone from
    // bytes, not just hidden (the privacy SLA endpoint)
    for (sub <- Seq("postings", "doclen")) {
      VersionedTable.vacuum(spark, s"$path/$sub", retainLast = 1,
        graceMs = 0L)
      val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$path/$sub/data"), true)
      val all = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet"))
          all += f.getPath.toString
      }
      assert(all.nonEmpty)
      assert(spark.read.parquet(all.toSeq: _*)
        .filter($"doc_id".isin(2L, 6L)).count() === 0L,
        s"$sub still carries forgotten bytes after purge+vacuum")
    }
  }

  test("serving pin clamps an in-flight forget to the pre-op snapshot") {
    val path = freshIndex()
    val before = search(path)
    // open forget intent + partially-landed stats commit, no done
    val subs = Bm25Index.componentPaths(path)
    val pinned = subs.map(VersionedTable.latestVersion(spark, _))
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/_txn"))
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$path/_txn/f7"), false)
    out.write(namedIntent(subs, pinned).getBytes("UTF-8")); out.close()
    VersionedTable.commitOverwrite(
      Seq((1L, 1L)).toDF("n_docs", "sum_dl"), s"$path/stats")
    val pin = graft.operators.HybridServe.pinConsistent(
      spark, path, subs)
    assert(pin === pinned, "open f-intent must clamp the serving pin")
    assert(rows(Bm25Index.searchFromPinned(spark, path,
      pin.map(Some(_)), qs, "query_id", "qtext", "doc_id", 10))
      === before)
  }
}
