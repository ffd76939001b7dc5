package graft

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.batch.{ElectricityBatchJob, StructuredBatchJob}
import graft.core.{LakeLayout, ParquetSchema, TableIO, Tables, VersionedTable}
import graft.ops.DataQuality
import graft.sources.{CsvVariants, IncrementalFiles}

class BatchJobsSpec extends SparkTestBase {
  import spark.implicits._

  private def rawPools = Seq(
    (1, "Pool A", "Madrid", 50000, true, "hotel",
      ts("2026-01-01 10:00:00")),
    (1, "Pool A renamed", "Madrid", 50000, true, "hotel",
      ts("2026-01-02 10:00:00")), // later version wins
    (2, "Pool B", "Sevilla", 30000, false, "private",
      ts("2026-01-01 11:00:00")))
    .toDF("pool_id", "pool_name", "location", "volume_liters",
      "is_heated", "owner_type", "updated_at")

  private def rawEvents = Seq(
    (10, 1, ts("2026-01-05 09:00:00"), "chlorine", Option("dichloro"),
      Option(2.0), Option("ok"), ts("2026-01-05 09:00:00")),
    (10, 1, ts("2026-01-05 09:00:00"), "chlorine", Option("dichloro"),
      Option(2.5), Option("corrected"),
      ts("2026-01-06 09:00:00")), // dup id, later wins
    (11, 2, ts("2026-01-05 12:00:00"), "refill", None: Option[String],
      None: Option[Double], None: Option[String],
      ts("2026-01-05 12:00:00")),
    (12, 9, ts("2026-01-05 13:00:00"), "chlorine", None: Option[String],
      Option(1.0), Option("orphan pool"),
      ts("2026-01-05 13:00:00")),  // FK violation
    (13, 1, ts("2026-01-05 14:00:00"), "bogus_type",
      None: Option[String], None: Option[Double], None: Option[String],
      ts("2026-01-05 14:00:00")))  // domain violation
    .toDF("id", "pool_id", "event_time", "intervention_type",
      "product_type", "product_amount", "notes", "updated_at")

  test("EP1 medallion run: dedup, DQ, FK filter, cost model, metrics") {
    val layout = LakeLayout(
      Files.createTempDirectory("graft-ep1").toString)
    StructuredBatchJob.run(spark, layout, rawPools, rawEvents)

    val silverPools = TableIO.readSnapshot(spark,
      layout.silver("pools_dim"))
    assert(silverPools.count() == 2)
    assert(silverPools.filter(col("pool_id") === 1)
      .select("pool_name").as[String].head() == "Pool A renamed")

    val silverEvents = TableIO.readSnapshot(spark,
      layout.silver("maintenance_events"))
    // 10 (deduped) + 11; orphan 12 and bogus 13 dropped
    assert(silverEvents.select("id").as[Int].collect().sorted.toSeq ==
      Seq(10, 11))
    assert(silverEvents.filter(col("id") === 10)
      .select("product_amount").as[Double].head() == 2.5)

    val enriched = TableIO.readSnapshot(spark,
      layout.gold("events_enriched"))
    val costById = enriched.select(col("id"), col("est_cost_eur"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(costById(10) - 2.5 * 3.5) < 1e-9)
    assert(math.abs(costById(11) - 30000 / 1000.0 * 1.8) < 1e-9)

    val daily = TableIO.readSnapshot(spark, layout.gold("daily_metrics"))
    assert(daily.count() == 2) // (pool1, 01-05) and (pool2, 01-05)
    val latest = TableIO.readSnapshot(spark, layout.gold("latest_event"))
    assert(latest.count() == 2)
  }

  test("EP1 re-run upserts silver instead of duplicating") {
    val layout = LakeLayout(
      Files.createTempDirectory("graft-ep1b").toString)
    StructuredBatchJob.run(spark, layout, rawPools, rawEvents)
    // second batch: newer version of pool 2 + new pool 3
    val batch2 = Seq(
      (2, "Pool B v2", "Sevilla", 30000, false, "airbnb",
        ts("2026-02-01 10:00:00")),
      (3, "Pool C", "Bilbao", 20000, true, "sports_center",
        ts("2026-02-01 10:00:00")))
      .toDF("pool_id", "pool_name", "location", "volume_liters",
        "is_heated", "owner_type", "updated_at")
    // a reader that resolved the silver table BEFORE the second run
    // must keep v1's snapshot while the re-publish commits
    val preRerun = TableIO.readSnapshot(spark, layout.silver("pools_dim"))
    StructuredBatchJob.run(spark, layout, batch2, rawEvents)
    assert(preRerun.count() == 2,
      "concurrent reader lost its snapshot during re-publish")
    val silverPools = TableIO.readSnapshot(spark,
      layout.silver("pools_dim")).orderBy("pool_id")
    assert(silverPools.count() == 3)
    assert(silverPools.filter(col("pool_id") === 2)
      .select("owner_type").as[String].head() == "airbnb")
  }

  test("CSV variant dispatch normalizes A, B and C shapes identically") {
    val a = Seq(("2026-01-15T14:00:00Z", "2026-01-15", "14", "85.1",
      "0.0851", "ES", "synthetic"))
      .toDF("ts_utc", "date", "hour", "price_eur_mwh", "price_eur_kwh",
        "region", "source")
    val b = Seq(("2026-01-15 14:00:00", "85.1")).toDF("ts",
      "price_eur_mwh")
    val c = Seq(("2026-01-15", "14", "85.1")).toDF("date", "hour",
      "price_eur_mwh")
    for (raw <- Seq(a, b, c)) {
      val n = CsvVariants.normalizeElectricity(raw).collect().head
      assert(n.getAs[java.sql.Date]("date").toString == "2026-01-15")
      assert(n.getAs[Int]("hour") == 14)
      assert(math.abs(n.getAs[Double]("price_eur_mwh") - 85.1) < 1e-9)
      assert(n.getAs[Double]("price_eur_kwh") > 0.08)
    }
  }

  test("EP2 incremental run ingests only new landing partitions") {
    val tmp = Files.createTempDirectory("graft-ep2").toString
    val landing = s"$tmp/landing"
    val layout = LakeLayout(s"$tmp/lake")
    (0 until 24).map(h => (f"2026-01-15 $h%02d:00:00", "50.0"))
      .toDF("ts", "price_eur_mwh")
      .coalesce(1).write.option("header", "true")
      .csv(s"$landing/date=2026-01-15")
    ElectricityBatchJob.run(spark, layout, landing)
    val silver1 = spark.read.parquet(layout.silver("electricity_prices"))
    assert(silver1.count() == 24)

    // day 2 lands; re-run reads ONLY the new partition
    (0 until 24).map(h => (f"2026-01-16 $h%02d:00:00", "60.0"))
      .toDF("ts", "price_eur_mwh")
      .coalesce(1).write.option("header", "true")
      .csv(s"$landing/date=2026-01-16")
    ElectricityBatchJob.run(spark, layout, landing)
    val silver2 = spark.read.parquet(layout.silver("electricity_prices"))
    assert(silver2.count() == 48)
    val daily = spark.read.parquet(layout.gold("electricity_daily"))
      .orderBy("date")
    assert(daily.count() == 2)
    assert(daily.select("avg_price").as[Double].collect().toSeq ==
      Seq(50.0, 60.0))
    val peaks = spark.read.parquet(layout.gold("electricity_peak_hours"))
    assert(peaks.filter(col("date") === "2026-01-15").count() == 5)

    // third run with nothing new is a no-op
    ElectricityBatchJob.run(spark, layout, landing)
    assert(spark.read.parquet(layout.silver("electricity_prices"))
      .count() == 48)
  }

  /** Spark jobs started by `body`, counted via listener (drained
    * through the bridge so the async bus can't undercount). */
  private def jobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.GraftBridge.waitListenerEmpty(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.sql.GraftBridge.waitListenerEmpty(spark)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  // Spark jobs of one warm increment over this suite's fixtures
  private val EP1_JOBS = 21
  private val EP2_JOBS = 11

  private def tmpDir(prefix: String) =
    Files.createTempDirectory(prefix).toString

  /** One day of electricity CSVs in `landing/date=<d>`: one file per
    * (variant, hours) pair, variant 0/1/2 = CsvVariants A/B/C. */
  private def landPrices(landing: String, d: String,
      files: Seq[(Int, Seq[Int])], price: Double): Unit =
    files.zipWithIndex.foreach { case ((variant, hours), i) =>
      def hh(h: Int) = f"$h%02d"
      val (header, line) = variant match {
        case 0 => ("ts_utc,date,hour,price_eur_mwh,price_eur_kwh,region,source",
          (h: Int) => s"${d}T${hh(h)}:00:00Z,$d,$h,$price,${price / 1000}," +
            "ES,synthetic")
        case 1 => ("ts,price_eur_mwh", (h: Int) => s"$d ${hh(h)}:00:00,$price")
        case _ => ("date,hour,price_eur_mwh", (h: Int) => s"$d,$h,$price")
      }
      val f = java.nio.file.Paths.get(s"$landing/date=$d/prices_$i.csv")
      Files.createDirectories(f.getParent)
      Files.write(f, (header +: hours.map(line)).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
    }

  test("EP2 ingests a date partition mixing CSV variants A, B and C") {
    val tmp = tmpDir("graft-ep2-mixed")
    val landing = s"$tmp/landing"
    val layout = LakeLayout(s"$tmp/lake")
    landPrices(landing, "2026-01-15",
      Seq(0 -> (0 until 8), 1 -> (8 until 16), 2 -> (16 until 24)), 50.0)
    // one frame per header; one frame cannot hold all three
    assert(IncrementalFiles.readNewGroups(spark, landing, None)
      .map(_.count()) == Seq(8L, 8L, 8L))
    intercept[IllegalArgumentException](
      IncrementalFiles.readNew(spark, landing, None))

    ElectricityBatchJob.run(spark, layout, landing)
    val silver = spark.read.parquet(layout.silver("electricity_prices"))
    assert(silver.count() == 24) // the sum over the three variants
    assert(silver.select("hour").as[Int].collect().sorted.toSeq ==
      (0 until 24))
    assert(silver.filter(col("ts_utc").isNull).isEmpty)
    assert(IncrementalFiles.readState(spark,
      layout.state("electricity_last_date")).contains("2026-01-15"))
  }

  test("a single-header landing read issues the jobs of a read of " +
    "the root, with more files than Spark's parallel-listing threshold") {
    val landing = tmpDir("graft-ep2-wide") + "/landing"
    val d = "2026-01-15"
    val files = 40
    assert(files > spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
    landPrices(landing, d, Seq.fill(files)(1 -> (0 until 3)), 50.0)
    val rootRead = jobs {
      assert(spark.read.option("header", "true")
        .option("basePath", landing).format("csv").load(landing)
        .filter(col("date") >= lit(d)).count() == 3L * files)
    }
    val grouped = jobs {
      val frames = IncrementalFiles.readNewGroups(spark, landing, Some(d))
      assert(frames.map(_.count()) == Seq(3L * files))
    }
    assert(grouped == rootRead,
      s"readNewGroups ran $grouped jobs, a read of the root $rootRead")
  }

  test("DataQuality.assertEmpty runs one job over all partitions") {
    val wide = spark.range(0, 1000, 1, 64).toDF()
    val empty = wide.filter(col("id") < 0)
    assert(jobs(DataQuality.assertEmpty("none", empty)) == 1)
    assert(jobs(assert(empty.limit(1).count() == 0)) == 2)
    val e = intercept[IllegalArgumentException](
      DataQuality.assertEmpty("last row", wide.filter(col("id") === 999)))
    assert(e.getMessage.contains("data-quality check failed: last row"))
    val dim = Seq(1L, 1L, 2L).toDF("pk")
    DataQuality.assertEmpty("fk", DataQuality.orphanForeignKeys(
      Seq(1L, 2L, 2L).toDF("fk"), dim, "fk", "pk"))
    intercept[IllegalArgumentException](DataQuality.assertEmpty("fk",
      DataQuality.orphanForeignKeys(Seq(3L).toDF("fk"), dim, "fk", "pk")))
  }

  test("TableIO.read, VersionedTable.read and the publishSnapshot " +
    "schema guard run no Spark job") {
    val root = tmpDir("graft-nojob")
    val layout = LakeLayout(root)
    Seq((1, "a"), (2, "b")).toDF("k", "v").write.parquet(s"$root/plain")
    Seq((1, "a", "x"), (2, "b", "y")).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(s"$root/part")
    VersionedTable.commitOverwrite(Seq((1, "a")).toDF("k", "v"),
      s"$root/vt")
    VersionedTable.commitOverwrite(Seq((1, "a")).toDF("k", "v"),
      s"$root/vt2")
    val n = jobs {
      assert(TableIO.read(spark, layout, s"$root/plain").columns.toSeq ==
        Seq("k", "v"))
      assert(TableIO.read(spark, layout, s"$root/part").columns.toSeq ==
        Seq("k", "v", "p"))
      assert(VersionedTable.read(spark, s"$root/vt").columns.toSeq ==
        Seq("k", "v"))
      val e = intercept[IllegalArgumentException](TableIO.publishSnapshot(
        Seq((1, 2L)).toDF("k", "w"), layout, s"$root/vt2"))
      assert(e.getMessage.contains("changes schema"))
    }
    assert(n == 0, s"$n Spark jobs resolving table schemas")
  }

  test("warm EP1 and EP2 increments stay within their job counts") {
    val tmp = tmpDir("graft-jobs")
    val layout = LakeLayout(s"$tmp/lake")
    val landing = s"$tmp/landing"
    for (d <- Seq("2026-01-15", "2026-01-16")) {
      StructuredBatchJob.run(spark, layout, rawPools, rawEvents)
      landPrices(landing, d, Seq(1 -> (0 until 12), 1 -> (12 until 24)),
        50.0)
      ElectricityBatchJob.run(spark, layout, landing)
    }
    val ep1 = jobs(StructuredBatchJob.run(spark, layout, rawPools,
      rawEvents))
    landPrices(landing, "2026-01-17", Seq(1 -> (0 until 12),
      1 -> (12 until 24)), 50.0)
    val ep2 = jobs(ElectricityBatchJob.run(spark, layout, landing))
    info(s"warm EP1 increment: $ep1 jobs, warm EP2 increment: $ep2 jobs")
    assert(ep1 <= EP1_JOBS, s"warm EP1 increment ran $ep1 jobs")
    assert(ep2 <= EP2_JOBS, s"warm EP2 increment ran $ep2 jobs")
    assert(spark.read.parquet(layout.silver("electricity_prices"))
      .count() == 72)
  }

  /** `ParquetSchema.ofPath` must equal Spark's own inference, minus
    * the partition columns Spark adds from the directories. */
  private def assertSameAsSpark(path: String, merge: Boolean = false)
      : Unit = {
    val r = if (merge) spark.read.option("mergeSchema", "true")
      else spark.read
    val expected = r.parquet(path).schema
    val parts = TableIO.describe(spark, path)("partitionColumns")
      .asInstanceOf[Seq[String]].toSet
    assert(ParquetSchema.ofPath(spark, path, merge) ==
      Some(StructType(expected.filterNot(f => parts(f.name)))))
    assert(TableIO.read(spark, LakeLayout("unused"), path, merge).schema ==
      expected)
  }

  test("driver-side parquet schema equals Spark's: plain and " +
    "Hive-partitioned directories") {
    val root = tmpDir("graft-schema")
    val df = Seq((1L, "a", 2.5, true), (2L, "b", 3.5, false))
      .toDF("id", "name", "x", "flag")
    df.write.parquet(s"$root/plain")
    assertSameAsSpark(s"$root/plain")
    df.write.partitionBy("flag", "name").parquet(s"$root/part")
    assertSameAsSpark(s"$root/part")
    // a data column named like a partition directory: Spark's
    // inference keeps its position, so the driver leaves it to Spark
    df.write.parquet(s"$root/clash/name=a")
    assert(ParquetSchema.ofPath(spark, s"$root/clash", merge = false)
      .isEmpty)
    assert(TableIO.read(spark, LakeLayout(root), s"$root/clash").schema ==
      spark.read.parquet(s"$root/clash").schema)
    // a parquet summary file steers Spark's choice of footer: left to
    // Spark as well
    val part = new java.io.File(s"$root/plain").listFiles()
      .find(_.getName.endsWith(".parquet")).get.toPath
    Files.copy(part, java.nio.file.Paths.get(s"$root/plain/_common_metadata"))
    assert(ParquetSchema.ofPath(spark, s"$root/plain", merge = false)
      .isEmpty)
    assert(TableIO.read(spark, LakeLayout(root), s"$root/plain").schema ==
      spark.read.parquet(s"$root/plain").schema)
  }

  test("driver-side parquet schema equals Spark's: evolved versioned " +
    "table (mergeSchema)") {
    val path = tmpDir("graft-evolved") + "/t"
    VersionedTable.commitAppend(Seq((1, "a")).toDF("k", "v"), path)
    VersionedTable.commitAppendEvolve(
      Seq((2, "b", 3.0)).toDF("k", "v", "added"), path)
    VersionedTable.commitAppendEvolve(
      Seq((3, "c", 4.0, 5L)).toDF("k", "v", "added", "more"), path)
    val fl = VersionedTable.files(spark, path)
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(fl: _*).schema
    assert(merged.fieldNames.toSeq == Seq("k", "v", "added", "more"))
    assert(ParquetSchema.ofFiles(spark, fl, merge = true) == Some(merged))
    assert(VersionedTable.read(spark, path).schema == merged)
    assert(ParquetSchema.ofFiles(spark, fl, merge = false) ==
      Some(spark.read.parquet(fl: _*).schema))
    // conflicting footers: Spark's error, not a driver-side guess
    val bad = tmpDir("graft-conflict")
    Seq(1).toDF("c").write.parquet(s"$bad/a")
    Seq("x").toDF("c").write.parquet(s"$bad/b")
    val files = Seq("a", "b").flatMap(d => new java.io.File(s"$bad/$d")
      .listFiles().map(_.getPath).filter(_.endsWith(".parquet")))
    assert(ParquetSchema.ofFiles(spark, files, merge = true).isEmpty)
  }

  test("driver-side parquet schema equals Spark's: nested struct, " +
    "array and map types, decimals") {
    val root = tmpDir("graft-nested")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("s", StructType(Seq(StructField("a", IntegerType),
        StructField("b", ArrayType(StringType))))),
      StructField("arr", ArrayType(StructType(Seq(
        StructField("x", DoubleType), StructField("y", BinaryType))))),
      StructField("m", MapType(StringType, ArrayType(IntegerType))),
      StructField("d9", DecimalType(9, 2)),
      StructField("d18", DecimalType(18, 4)),
      StructField("d38", DecimalType(38, 10))))
    val row = org.apache.spark.sql.Row(1L,
      org.apache.spark.sql.Row(1, Seq("p")),
      Seq(org.apache.spark.sql.Row(1.0, Array[Byte](1))),
      Map("k" -> Seq(1, 2)), BigDecimal("1.25").bigDecimal,
      BigDecimal("2.5").bigDecimal, BigDecimal("3.125").bigDecimal)
    spark.createDataFrame(java.util.Arrays.asList(row), schema)
      .write.parquet(s"$root/t")
    assertSameAsSpark(s"$root/t")
  }

  test("driver-side parquet schema equals Spark's: timestamp vs " +
    "timestamp_ntz, with and without Spark's footer metadata") {
    val root = tmpDir("graft-ts")
    Seq((ts("2026-01-01 00:00:00"),
        java.time.LocalDateTime.parse("2026-01-01T00:00:00")))
      .toDF("ts", "ntz").write.parquet(s"$root/spark")
    assertSameAsSpark(s"$root/spark")
    assert(spark.read.parquet(s"$root/spark").schema.map(_.dataType) ==
      Seq(TimestampType, TimestampNTZType))
    // a footer without Spark's schema goes through the type converter
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message m {
        |  required int64 ntz (TIMESTAMP(MICROS,false));
        |  required int64 utc (TIMESTAMP(MICROS,true));
        |  optional int32 d (DECIMAL(9,2));
        |  optional binary s (STRING);
        |}""".stripMargin)
    val file = new org.apache.hadoop.fs.Path(s"$root/foreign/f.parquet")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        file, spark.sparkContext.hadoopConfiguration))
      .withType(msg).build()
    try w.write(new org.apache.parquet.example.data.simple
      .SimpleGroupFactory(msg).newGroup()
      .append("ntz", 1L).append("utc", 2L).append("d", 125)
      .append("s", "x"))
    finally w.close()
    assertSameAsSpark(s"$root/foreign")
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(key, "false")
    try {
      assertSameAsSpark(s"$root/foreign")
      assert(ParquetSchema.ofPath(spark, s"$root/foreign", merge = false)
        .get("ntz").dataType == TimestampType)
    } finally spark.conf.unset(key)
  }

  test("trees and merges beyond Spark's parallel-discovery threshold " +
    "are left to Spark") {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val threshold = spark.conf.get(key).toInt
    val root = tmpDir("graft-wide")
    (0 to threshold).map(i => (i.toLong, s"p$i")).toDF("id", "p")
      .write.partitionBy("p").parquet(s"$root/t")
    assert(ParquetSchema.ofPath(spark, s"$root/t", merge = false).isEmpty)
    assert(TableIO.read(spark, LakeLayout(root), s"$root/t").schema ==
      spark.read.parquet(s"$root/t").schema)
    val fl = new java.io.File(s"$root/t").listFiles()
      .filter(_.isDirectory).flatMap(_.listFiles())
      .map(_.getPath).filter(_.endsWith(".parquet")).toSeq
    assert(fl.size > threshold)
    assert(ParquetSchema.ofFiles(spark, fl, merge = true).isEmpty)
    assert(ParquetSchema.ofFiles(spark, fl, merge = false).isDefined)
    // the cut-off is the session's own value, not a constant
    spark.conf.set(key, (2 * threshold).toString)
    try {
      assertSameAsSpark(s"$root/t")
      assert(ParquetSchema.ofFiles(spark, fl, merge = true) ==
        Some(spark.read.option("mergeSchema", "true").parquet(fl: _*)
          .schema))
    } finally spark.conf.unset(key)
  }

  test("an empty or missing path fails with Spark's own error class") {
    val root = tmpDir("graft-missing")
    Files.createDirectories(java.nio.file.Paths.get(s"$root/empty"))
    for (p <- Seq(s"$root/missing", s"$root/empty")) {
      val ours = intercept[AnalysisException](
        TableIO.read(spark, LakeLayout(root), p))
      val spark0 = intercept[AnalysisException](spark.read.parquet(p))
      assert(ours.getCondition == spark0.getCondition)
    }
    val vt = s"$root/vt"
    VersionedTable.commitOverwrite(Seq(1).toDF("k"), vt)
    // a committed data file that disappeared: Spark's error, no guess
    new java.io.File(VersionedTable.files(spark, vt).head
      .stripPrefix("file:")).delete()
    intercept[Exception](VersionedTable.read(spark, vt).collect())
  }

  test("Tables re-resolves the schema of a file regenerated at a " +
    "cached path") {
    val root = tmpDir("graft-tables")
    def regenerate(df: org.apache.spark.sql.DataFrame, mtime: Long)
        : Unit = {
      val out = s"$root/gen_$mtime"
      df.coalesce(1).write.parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      val target = java.nio.file.Paths.get(s"$root/region.parquet")
      Files.copy(part, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(target,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    regenerate(Seq((1, "a")).toDF("r_regionkey", "r_name"), 1000000L)
    assert(Tables.load(spark, root, "region").columns.toSeq ==
      Seq("r_regionkey", "r_name"))
    regenerate(Seq((1L, 2.0, "x")).toDF("a", "b", "c"), 2000000L)
    val again = Tables.load(spark, root, "region")
    assert(again.columns.toSeq == Seq("a", "b", "c"))
    assert(again.collect().head.getDouble(1) == 2.0)
  }
}
