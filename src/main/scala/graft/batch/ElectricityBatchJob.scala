package graft.batch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{LakeLayout, TableIO}
import graft.ops.{DedupLatest, TopNPerGroup}
import graft.sources.{CsvVariants, IncrementalFiles}

/** EP2 — the semi-structured (CSV landing zone) pipeline (SURVEY.md §3
  * EP2): incremental landing-dir ingest → bronze (lineage cols) →
  * silver (normalized, deduped, date-partitioned) → gold (daily price
  * stats + top-N peak hours).
  *
  * Reference: spark-apps/05_ingest_electricity_csv.py,
  * 06_gold_electricity_enrichment.py and notebook variants.
  */
object ElectricityBatchJob {

  /** Landing CSVs → bronze: schema-variant normalize + lineage
    * (05:…py:49-61). One frame per CSV header
    * ([[IncrementalFiles.readNewGroups]]): each is normalized on its
    * own, then the normalized frames are unioned. */
  def toBronze(rawCsvs: Seq[DataFrame]): DataFrame =
    rawCsvs.map(CsvVariants.normalizeElectricity(_))
      .reduce(_ unionByName _)
      .withColumn("_source_file", input_file_name())
      .withColumn("_ingest_ts", current_timestamp())
      .withColumn("ingest_date", current_date())

  /** Bronze → silver: require key fields, dedupe on (region, ts_utc)
    * latest-file-wins (05_ingest….ipynb §5). */
  def silver(bronze: DataFrame): DataFrame = {
    val clean = bronze.filter(
      col("date").isNotNull && col("hour").isNotNull &&
        col("price_eur_mwh").isNotNull)
    DedupLatest(clean, Seq("region", "date", "hour"),
      Seq(col("_ingest_ts").desc, col("_source_file").desc))
      .select("ts_utc", "date", "hour", "price_eur_mwh",
        "price_eur_kwh", "region", "source")
  }

  /** Gold daily stats per (date, region) (06:…py:31-40). */
  def goldDailyStats(silver: DataFrame): DataFrame =
    silver.groupBy(col("date"), col("region"))
      .agg(
        count(lit(1)).as("n_hours"),
        round(avg(col("price_eur_mwh")), 4).as("avg_price"),
        round(min(col("price_eur_mwh")), 4).as("min_price"),
        round(max(col("price_eur_mwh")), 4).as("max_price"),
        round(sum(col("price_eur_mwh")), 4).as("sum_price"))

  /** Gold peak hours: top-5 price hours per (date, region) by
    * row_number (06_gold….ipynb §3) — dense_rank variant available via
    * [[TopNPerGroup.denseRank]] (06:…py:51-54). */
  def goldPeakHours(silver: DataFrame, n: Int = 5): DataFrame =
    TopNPerGroup.rowNumber(silver, Seq("date", "region"),
      Seq(col("price_eur_mwh").desc, col("hour")), n, rankCol = "rank")

  /** Full EP2 incremental run: only landing partitions newer than the
    * stored `last_date` state are read (partition-pruned). */
  def run(spark: SparkSession, layout: LakeLayout, landingRoot: String)
      : Unit = {
    val statePath = layout.state("electricity_last_date")
    val lastDate = IncrementalFiles.readState(spark, statePath)
    val newRaw = IncrementalFiles.readNewGroups(spark, landingRoot,
      lastDate)
    if (newRaw.forall(_.isEmpty)) return

    // keep the landing `date` partition column: variant-C CSVs
    // (date+hour, no ts) depend on it for timestamp reconstruction
    val bronze = toBronze(newRaw)
    TableIO.append(bronze, layout, layout.bronze("electricity_prices"),
      partitionCols = Seq("ingest_date"))

    val bronzeAll = TableIO.read(spark, layout,
      layout.bronze("electricity_prices"))
    val sv = silver(bronzeAll)
    TableIO.overwrite(sv, layout, layout.silver("electricity_prices"),
      partitionCols = Seq("date"))

    val svFinal = TableIO.read(spark, layout,
      layout.silver("electricity_prices"))
    TableIO.overwrite(goldDailyStats(svFinal), layout,
      layout.gold("electricity_daily"))
    TableIO.overwrite(goldPeakHours(svFinal), layout,
      layout.gold("electricity_peak_hours"))

    // the state date is silver's newest `date=` directory: silver is
    // rewritten whole, partitioned by a non-null date, so its
    // directories are exactly its dates — no job reads the rows for it
    TableIO.partitionValues(spark, layout.silver("electricity_prices"),
      "date").maxByOption(java.time.LocalDate.parse(_))
      .foreach(d => IncrementalFiles.writeState(spark, statePath, d))
  }
}
