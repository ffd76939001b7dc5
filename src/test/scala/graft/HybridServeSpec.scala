package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.VersionedTable
import graft.operators.{Bm25Index, HashingVectorizer, HybridSearch, HybridServe, IvfIndex}

/** Cross-index hybrid serving tap: one consistent snapshot of BOTH
  * indexes per micro-batch, exactly-once fused-result logging, replay
  * no-op, and open-intent (mid-flight ingest) isolation. */
class HybridServeSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select(col("doc_id"), col("text"))

  private def vecsOf(d: DataFrame): DataFrame =
    HashingVectorizer.denseVectors(d, "doc_id", "text", dim = 64)

  private def queryBatch(d: DataFrame, n: Int): DataFrame =
    d.filter(col("doc_id") < n)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", slice(
          graft.functions.TextFunctions.tokens(lower(col("text"))),
          1, 8)).as("qtext"))
      .join(vecsOf(d.filter(col("doc_id") < n))
        .select(col("doc_id").as("query_id"), col("vec").as("qvec")),
        Seq("query_id"))

  private def freshPath(tag: String): String = {
    val p = graft.core.Scratch.root(docs) +
      s"/$tag${java.util.UUID.randomUUID()}"
    graft.core.Scratch.registerForCleanup(p)
    p
  }

  private def logRows(logPath: String, batchId: Long) =
    VersionedTable.read(spark, logPath)
      .filter(col("_batch_id") === batchId)
      .select("query_id", "doc_id", "rrf_score", "rn")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

  test("fused serve: exactly-once log, replay no-op, later batches " +
    "see later index state") {
    val d0 = docs.filter($"doc_id" >= 3 && $"doc_id" < 120)
    val d1 = docs.filter($"doc_id" >= 120 && $"doc_id" < 140)
    val bm = freshPath("hs_bm_")
    val ivf = freshPath("hs_ivf_")
    val log = freshPath("hs_log_")
    Bm25Index.foreachBatchIngest(bm, "doc_id", "text")(d0, 0L)
    IvfIndex.foreachBatchIngestDriftAware(ivf, "doc_id", "vec",
      cells = 8, trainIters = 1)(vecsOf(d0), 0L)

    val serve = HybridServe.foreachBatchServe(bm, ivf, log,
      "query_id", "qtext", "qvec", "doc_id", k = 5, inK = 10)
    val qs = queryBatch(docs, 3)
    serve(qs, 0L)

    val got0 = logRows(log, 0L)
    assert(got0.nonEmpty)
    // matches a direct fusion over the same quiescent snapshot
    val expected = HybridSearch.rrf(
        Bm25Index.searchFrom(spark, bm, qs, "query_id", "qtext",
          "doc_id", 10),
        "doc_id",
        IvfIndex.searchFrom(spark, ivf, qs, "query_id", "qvec",
          "doc_id", 10, nprobe = 4, excludeSelf = false),
        "neighbor_id", k = 5)
      .select("query_id", "doc_id", "rrf_score", "rn")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(got0 == expected)

    // replay: the log must not move
    val vLog = VersionedTable.latestVersion(spark, log)
    serve(qs, 0L)
    assert(VersionedTable.latestVersion(spark, log) == vLog)
    assert(logRows(log, 0L) == got0)

    // a COMPLETED ingest on both indexes is visible from the next
    // batch on
    Bm25Index.foreachBatchIngest(bm, "doc_id", "text")(d1, 1L)
    IvfIndex.foreachBatchIngestDriftAware(ivf, "doc_id", "vec",
      cells = 8, trainIters = 1)(vecsOf(d1), 1L)
    serve(qs, 1L)
    assert(logRows(log, 1L).nonEmpty)
    assert(logRows(log, 0L) == got0, "serving batch 1 rewrote batch 0")
  }

  test("an open intent on either index does not bleed into the batch") {
    val d0 = docs.filter($"doc_id" >= 3 && $"doc_id" < 120)
    val bm = freshPath("hs_bm2_")
    val ivf = freshPath("hs_ivf2_")
    val log = freshPath("hs_log2_")
    Bm25Index.foreachBatchIngest(bm, "doc_id", "text")(d0, 0L)
    IvfIndex.foreachBatchIngestDriftAware(ivf, "doc_id", "vec",
      cells = 8, trainIters = 1)(vecsOf(d0), 0L)
    val qs = queryBatch(docs, 3)

    // expected = fusion over the current (pre-junk) state
    val bmPin = HybridServe.pinConsistent(spark, bm,
      Bm25Index.componentPaths(bm))
    val ivfPin = HybridServe.pinConsistent(spark, ivf,
      IvfIndex.journalPaths(ivf))
    val expected = HybridSearch.rrf(
        Bm25Index.searchFromPinned(spark, bm, bmPin.map(Some(_)), qs,
          "query_id", "qtext", "doc_id", 10),
        "doc_id",
        IvfIndex.searchFromPinned(spark, ivf, Some(ivfPin(0)),
          Some(ivfPin(1)), qs, "query_id", "qvec", "doc_id", 10,
          nprobe = 4, excludeSelf = false),
        "neighbor_id", k = 5)
      .select("query_id", "doc_id", "rrf_score", "rn")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet

    // simulate a crash mid-multi-table-update on BOTH indexes: open
    // intent (no done-marker) + partially-landed junk commits
    val fs = new org.apache.hadoop.fs.Path(bm).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    def forgeIntent(root: String, subs: Seq[String], pinned: Seq[Int])
        : Unit = {
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_txn"))
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$root/_txn/b9"), false)
      out.write(namedIntent(subs, pinned).getBytes("UTF-8")); out.close()
    }
    forgeIntent(bm, Bm25Index.componentPaths(bm), bmPin)
    VersionedTable.commitAppend(
      Seq((424242L, "junktoken", 99L)).toDF("doc_id", "token", "tf"),
      s"$bm/postings")
    forgeIntent(ivf, IvfIndex.journalPaths(ivf), ivfPin)
    VersionedTable.commitOverwrite(
      (0 until 8).map(c => (c, Seq.fill(64)(9.9))).toDF("cell", "centroid"),
      s"$ivf/codebook")

    val serve = HybridServe.foreachBatchServe(bm, ivf, log,
      "query_id", "qtext", "qvec", "doc_id", k = 5, inK = 10)
    serve(qs, 0L)
    assert(logRows(log, 0L) == expected,
      "mid-flight ingest junk bled into the fused serve batch")
  }

  test("pinConsistent clamps by NAME across sink generations") {
    val root = freshPath("hs_pin_")
    val (a, b) = (s"$root/a", s"$root/b")
    VersionedTable.commitAppend(Seq(1L).toDF("id"), a)
    VersionedTable.commitAppend(Seq(10L).toDF("id"), b)
    VersionedTable.commitAppend(Seq(2L).toDF("id"), a) // a at v2
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_txn"))
    // open intent from a sink generation with different arity (pins
    // a and a table c this reader doesn't serve): named pins must
    // clamp a to its pinned version while leaving b at latest
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_txn/b5"), false)
    out.write("a:1 c:3".getBytes("UTF-8")); out.close()
    assert(HybridServe.pinConsistent(spark, root, Seq(a, b))
      === Seq(1, 1))
    // a bare-version intent has no named entry: serving skips it as
    // malformed (its replay fails loudly)
    val out2 = fs.create(
      new org.apache.hadoop.fs.Path(s"$root/_txn/b6"), false)
    out2.write("0 0 0".getBytes("UTF-8")); out2.close()
    assert(HybridServe.pinConsistent(spark, root, Seq(a, b))
      === Seq(1, 1))
  }
}
