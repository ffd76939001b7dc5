package graft

import java.nio.file.Files

import graft.sources.{IncrementalFiles, IncrementalJdbc, JdbcWatermark}

class IncrementalSpec extends SparkTestBase {
  import spark.implicits._

  test("jdbc incremental predicate replicates the reference tie-breaker") {
    val wm = JdbcWatermark("2026-01-15T10:30:00.1234567", 42L)
    val p = IncrementalJdbc.incrementalPredicate(wm, "updated_at", "id")
    assert(p ==
      "(updated_at > '2026-01-15T10:30:00.1234567' OR " +
        "(updated_at = '2026-01-15T10:30:00.1234567' AND id > 42))")
  }

  test("jdbc pushdown query embeds CONVERT and predicate") {
    val q = IncrementalJdbc.pushdownQuery("dbo.maintenance_events",
      "updated_at", "id", Some(JdbcWatermark("2026-01-01T00:00:00", 5)))
    assert(q.contains("CONVERT(varchar(33), updated_at, 126)"))
    assert(q.contains("WHERE"))
    assert(IncrementalJdbc.pushdownQuery("t", "u", "p", None)
      .startsWith("SELECT t.*, CONVERT"))
  }

  test("predicate escapes single quotes (no SQL injection via state)") {
    val wm = JdbcWatermark("2026-01-01' OR '1'='1", 1L)
    val p = IncrementalJdbc.incrementalPredicate(wm, "u", "pk")
    assert(p.contains("2026-01-01'' OR ''1''=''1"))
  }

  test("nextWatermark picks max (ts,pk) lexicographically") {
    val batch = Seq(
      ("2026-01-01T05:00:00.0000001", 3L),
      ("2026-01-01T05:00:00.0000001", 9L), // pk tie-break
      ("2026-01-01T04:59:59.9999999", 100L))
      .toDF("updated_at_str", "id")
    val wm = IncrementalJdbc.nextWatermark(batch, "updated_at_str", "id",
      None)
    assert(wm.contains(JdbcWatermark("2026-01-01T05:00:00.0000001", 9L)))
  }

  test("nextWatermark on empty batch keeps current state") {
    val empty = Seq.empty[(String, Long)].toDF("u", "id")
    val cur = Some(JdbcWatermark("2026-01-01T00:00:00", 7L))
    assert(IncrementalJdbc.nextWatermark(empty, "u", "id", cur) == cur)
  }

  test("file-ingest state roundtrip + date-partition pruned resume") {
    val tmp = Files.createTempDirectory("graft-incr").toString
    val landing = s"$tmp/landing"
    // two hive-style date partitions
    Seq(("2026-01-01 00:00:00", "50.0"))
      .toDF("ts", "price_eur_mwh")
      .write.option("header", "true").csv(s"$landing/date=2026-01-01")
    Seq(("2026-01-02 00:00:00", "60.0"))
      .toDF("ts", "price_eur_mwh")
      .write.option("header", "true").csv(s"$landing/date=2026-01-02")

    val statePath = s"$tmp/state"
    assert(IncrementalFiles.readState(spark, statePath).isEmpty)
    val all = IncrementalFiles.readNew(spark, landing, None)
    assert(all.count() == 2)

    IncrementalFiles.writeState(spark, statePath, "2026-01-01")
    assert(IncrementalFiles.readState(spark, statePath)
      .contains("2026-01-01"))
    // >= semantics: the boundary partition is re-read (files can keep
    // landing into it after ingestion; silver dedup makes it idempotent)
    val onlyNew = IncrementalFiles.readNew(spark, landing,
      Some("2026-01-01"))
    assert(onlyNew.count() == 2)

    IncrementalFiles.writeState(spark, statePath, "2026-01-02")
    val boundary = IncrementalFiles.readNew(spark, landing,
      Some("2026-01-02"))
    assert(boundary.count() == 1)
    assert(boundary.select("date").as[String].head() == "2026-01-02")

    // a late file landing into the already-ingested boundary partition
    // IS picked up on the next run — the bug the `>` protocol had
    Seq(("2026-01-02 01:00:00", "61.0"))
      .toDF("ts", "price_eur_mwh")
      .write.option("header", "true").mode("append")
      .csv(s"$landing/date=2026-01-02")
    assert(IncrementalFiles.readNew(spark, landing, Some("2026-01-02"))
      .count() == 2)
  }

  test("readState: a missing path is no state, a corrupt file fails") {
    val tmp = Files.createTempDirectory("graft-state").toString
    val statePath = s"$tmp/state"
    assert(IncrementalFiles.readState(spark, statePath).isEmpty)
    IncrementalFiles.writeState(spark, statePath, "2026-01-01")
    assert(IncrementalFiles.readState(spark, statePath)
      .contains("2026-01-01"))
    // the state file replaced by bytes that are not parquet: treating
    // this as "no state" would re-ingest the whole landing zone
    val dir = new java.io.File(statePath)
    dir.listFiles().foreach(_.delete())
    Files.write(java.nio.file.Paths.get(s"$statePath/part-00000.parquet"),
      "not a parquet file".getBytes("UTF-8"))
    intercept[Exception](IncrementalFiles.readState(spark, statePath))
  }

  test("mod-time pickup catches backfills into frozen partitions") {
    val tmp = Files.createTempDirectory("graft-mtime").toString
    val landing = s"$tmp/landing"
    Seq(("2026-01-01 00:00:00", "50.0")).toDF("ts", "price_eur_mwh")
      .write.option("header", "true").csv(s"$landing/date=2026-01-01")
    Seq(("2026-01-02 00:00:00", "60.0")).toDF("ts", "price_eur_mwh")
      .write.option("header", "true").csv(s"$landing/date=2026-01-02")

    // graceMs = 0: tests ingest immediately; production keeps the
    // default safety horizon against same-tick commits
    val (b1, m1) = IncrementalFiles.readNewByModTime(spark, landing, 0L,
      graceMs = 0L)
    assert(b1.exists(_.count() == 2))
    // converged: nothing new, watermark stable
    val (b2, m2) = IncrementalFiles.readNewByModTime(spark, landing, m1,
      graceMs = 0L)
    assert(b2.isEmpty && m2 == m1)

    // a file backfilled into the OLD date=2026-01-01 partition — the
    // date watermark at 2026-01-02 would never see it; mtime does
    Thread.sleep(100)
    Seq(("2026-01-01 12:00:00", "51.0")).toDF("ts", "price_eur_mwh")
      .write.option("header", "true").mode("append")
      .csv(s"$landing/date=2026-01-01")
    val (b3, m3) = IncrementalFiles.readNewByModTime(spark, landing, m1,
      graceMs = 0L)
    assert(m3 > m1)
    val rows = b3.get.withColumn("date",
      org.apache.spark.sql.functions.col("date").cast("string")).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("date") == "2026-01-01")
    assert(rows.head.getAs[String]("price_eur_mwh") == "51.0")
  }

  test("mod-time pickup skips in-flight writer dirs and honors the grace horizon") {
    val tmp = Files.createTempDirectory("graft-mtime2").toString
    val landing = s"$tmp/landing"
    Seq(("2026-01-01 00:00:00", "50.0")).toDF("ts", "price_eur_mwh")
      .write.option("header", "true").csv(s"$landing/date=2026-01-01")
    // a non-hidden file under a hidden ancestor: an uncommitted
    // Spark/MR task attempt must never be ingested
    val staging = new java.io.File(
      s"$landing/date=2026-01-01/_temporary/0")
    staging.mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$staging/part-000.csv"),
      "ts,price_eur_mwh\n2026-01-01 09:00:00,99.0\n".getBytes)

    // an in-flight copy (`._COPYING_`, newer than the real file) is
    // skipped like Spark skips it, and the watermark stays before it
    val day1 = new java.io.File(s"$landing/date=2026-01-01")
    val now = System.currentTimeMillis()
    day1.listFiles().filter(_.getName.startsWith("part-"))
      .foreach(_.setLastModified(now - 60000L))
    val day2 = new java.io.File(s"$landing/date=2026-01-02")
    day2.mkdirs()
    val copying = new java.io.File(day2, "more.csv._COPYING_")
    java.nio.file.Files.write(copying.toPath,
      "ts,price_eur_mwh\n2026-01-02 00:00:00,60.0\n".getBytes)
    copying.setLastModified(now - 30000L)

    val (b1, m1) = IncrementalFiles.readNewByModTime(spark, landing, 0L,
      graceMs = 0L)
    assert(b1.exists(_.count() == 1), "staging file leaked into batch")
    // the copy completes by rename, keeping its mtime: it must land
    assert(copying.renameTo(new java.io.File(day2, "more.csv")))
    val (b3, _) = IncrementalFiles.readNewByModTime(spark, landing, m1,
      graceMs = 0L)
    assert(b3.exists(_.collect().map(_.getAs[String]("price_eur_mwh"))
      .toSeq == Seq("60.0")), "renamed in-flight copy was never ingested")

    // grace horizon: a file committed within the last graceMs is held
    // back AND the watermark does not advance past it — it lands in
    // the next round instead of being skipped forever
    val (b2, m2) = IncrementalFiles.readNewByModTime(spark, landing, 0L,
      graceMs = 3600000L)
    assert(b2.isEmpty && m2 == 0L)
  }
}
