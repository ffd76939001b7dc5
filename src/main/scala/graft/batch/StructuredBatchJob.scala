package graft.batch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{LakeLayout, Par, TableIO}
import graft.model.Schemas
import graft.ops.{ConditionalCounts, DataQuality, DedupLatest}

/** EP1 — the structured-batch medallion pipeline (SURVEY.md §3 EP1):
  * bronze (raw append + ingest stamp) → silver (cast-normalize,
  * latest-wins dedup, DQ gates, referential-integrity filter, upsert) →
  * gold (enriched join + CASE cost model + daily metrics + latest
  * event). Stage functions are pure DataFrame transforms; `run` wires
  * them through [[TableIO]].
  *
  * The reference's QA asserts (pools pk, events pk, events FK) are
  * write-time gates ([[DataQuality.gate]]): each is counted by the
  * tasks of the snapshot write it guards and checked before that
  * snapshot's version is claimed, so a violation fails the run and
  * leaves the table at its previous version.
  *
  * Reference: spark-apps/02/03/04_*.py and the richer notebook variants
  * (03_silver_smartpool.ipynb §3-§6; 04_gold_smartpool.ipynb §3-§8).
  */
object StructuredBatchJob {

  /** Bronze stamp (02_ingest_smartpool.py:68-72). */
  def toBronze(raw: DataFrame): DataFrame =
    raw.withColumn("_ingest_ts", current_timestamp())

  /** Pool rows cast to the silver schema (03_silver_smartpool.py:14-20). */
  private def castPools(pools: DataFrame): DataFrame =
    pools.select(
      col("pool_id").cast("int").as("pool_id"),
      col("pool_name").cast("string").as("pool_name"),
      col("location").cast("string").as("location"),
      col("volume_liters").cast("int").as("volume_liters"),
      col("is_heated").cast("boolean").as("is_heated"),
      col("owner_type").cast("string").as("owner_type"),
      col("updated_at").cast("timestamp").as("updated_at"))

  private def latestPools(pools: DataFrame): DataFrame =
    DedupLatest(pools, Seq("pool_id"), Seq(col("updated_at").desc))

  /** Silver pools: cast re-assert + latest-wins dedup
    * (03_silver_smartpool.py:14-20; ipynb §3). */
  def silverPools(bronzePools: DataFrame): DataFrame =
    latestPools(castPools(bronzePools))

  /** Silver pools after a day's batch (the notebook's MERGE on
    * pool_id, 03_silver_smartpool.ipynb §4): latest-wins over the
    * current silver rows and the day's raw pools. Silver already holds
    * the latest of every earlier batch, so this equals [[silverPools]]
    * over the whole bronze history (ties on `updated_at` are arbitrary
    * in both) while reading only the day's batch. */
  def mergePools(silver: DataFrame, rawPools: DataFrame): DataFrame =
    latestPools(silver.unionByName(castPools(rawPools)))

  /** Silver events: casts, DQ filters (not-null, domain catalog),
    * latest-wins dedup by id, FK filter against silver pools
    * (03_silver_smartpool.ipynb §4). */
  def silverEvents(bronzeEvents: DataFrame, silverPools: DataFrame)
      : DataFrame = {
    val cast = bronzeEvents.select(
      col("id").cast("int").as("id"),
      col("pool_id").cast("int").as("pool_id"),
      col("event_time").cast("timestamp").as("event_time"),
      col("intervention_type").cast("string").as("intervention_type"),
      col("product_type").cast("string").as("product_type"),
      col("product_amount").cast("double").as("product_amount"),
      col("notes").cast("string").as("notes"),
      col("updated_at").cast("timestamp").as("updated_at"))
    val clean = cast
      .filter(col("id").isNotNull && col("pool_id").isNotNull &&
        col("event_time").isNotNull)
      .filter(col("intervention_type")
        .isin(Schemas.interventionTypes: _*))
    val deduped = DedupLatest(clean, Seq("id"),
      Seq(col("updated_at").desc, col("event_time").desc))
    // referential integrity via semi join (J4 done right, SURVEY §2.4);
    // a semi join ignores duplicate keys on its right side, so no
    // distinct (and no exchange) under the broadcast
    deduped.join(broadcast(silverPools.select("pool_id")),
      Seq("pool_id"), "left_semi")
  }

  /** Silver pools with the "pools pk unique" gate
    * ([[DataQuality.uniqueKeysGate]]; 03_silver_smartpool.ipynb §6). */
  def gatedSilverPools(silverPools: DataFrame)
      : (DataFrame, DataQuality.Gate) =
    DataQuality.uniqueKeysGate("pools pk unique", silverPools,
      Seq("pool_id"))

  /** Silver events with the "events pk unique" gate. */
  def gatedSilverEvents(silverEvents: DataFrame)
      : (DataFrame, DataQuality.Gate) =
    DataQuality.uniqueKeysGate("events pk unique", silverEvents, Seq("id"))

  /** Gold: events enriched with pool attrs + CASE cost model
    * (04_gold_smartpool.py:16-55). */
  def goldEnrichedEvents(silverEvents: DataFrame, silverPools: DataFrame)
      : DataFrame =
    enriched(silverEvents, silverPools).drop(PoolFound)

  /** [[goldEnrichedEvents]] with the "events FK" gate
    * ([[DataQuality.orphanForeignKeys]] on the write): it counts the
    * events that the left join matches to no pool. With unique pool
    * keys the join keeps one row per event, so the count is the
    * orphan count. */
  def gatedEnrichedEvents(silverEvents: DataFrame, silverPools: DataFrame)
      : (DataFrame, DataQuality.Gate) = {
    val (df, g) = DataQuality.gate("events FK",
      enriched(silverEvents, silverPools), !col(PoolFound))
    (df.drop(PoolFound), g)
  }

  private val PoolFound = "__pool_found"

  private def enriched(silverEvents: DataFrame, silverPools: DataFrame)
      : DataFrame = {
    val e = silverEvents.as("e")
    val p = broadcast(silverPools.as("p"))
    e.join(p, col("e.pool_id") === col("p.pool_id"), "left")
      .select(col("e.id"), col("e.pool_id"), col("e.event_time"),
        col("e.intervention_type"), col("e.product_type"),
        col("e.product_amount"), col("p.pool_name"), col("p.owner_type"),
        col("p.is_heated"), col("p.volume_liters"),
        col("p.pool_id").isNotNull.as(PoolFound))
      .withColumn("event_date", to_date(col("event_time")))
      .withColumn("est_cost_eur",
        when(col("intervention_type") === "chlorine",
          coalesce(col("product_amount"), lit(0.0)) * 3.5)
          .when(col("intervention_type") === "refill",
            col("volume_liters") / 1000.0 * 1.8)
          .when(col("intervention_type") === "ph_correction",
            coalesce(col("product_amount"), lit(0.0)) * 2.1)
          .when(col("intervention_type") === "filter_backwash", lit(4.0))
          .otherwise(lit(0.0)))
  }

  /** Gold daily metrics per (pool, day): conditional per-type counts +
    * totals (04_gold_smartpool.ipynb §3). */
  def goldDailyMetrics(goldEnriched: DataFrame): DataFrame =
    ConditionalCounts(goldEnriched, Seq("pool_id", "event_date"),
      "intervention_type", Schemas.interventionTypes,
      extraAggs = Seq(
        count(lit(1)).as("n_events"),
        round(sum(col("est_cost_eur")), 4).as("total_cost_eur")))

  /** Gold latest event per pool (04_gold_smartpool.ipynb §6; 3-key
    * tie-broken ordering). */
  def goldLatestEvent(goldEnriched: DataFrame): DataFrame =
    DedupLatest(goldEnriched, Seq("pool_id"),
      Seq(col("event_time").desc, col("id").desc))

  /** Full EP1 run over a lake layout; `upsertSilver` selects the
    * notebook MERGE semantics over the script's overwrite (SURVEY §7.4
    * risk 7): silver pools then merge only the day's batch
    * ([[mergePools]]); without it, or on the first run, they are
    * recomputed from all of bronze. Silver events stay a full
    * recompute over bronze.
    *
    * Silver/gold are published through [[TableIO.publishSnapshot]]
    * (manifest commit on a [[graft.core.VersionedTable]]): a reader
    * concurrent with the daily re-publish keeps the previous
    * snapshot's immutable files instead of seeing a half-written table
    * — the isolation the reference delegates to Delta's log
    * (smartpool_config.py:68-70). Bronze stays plain append (new files
    * only, nothing replaced, no isolation hazard).
    *
    * Each gate is checked before its table's version is claimed: a
    * failing pk gate leaves its table unpublished, and a failing FK
    * gate leaves silver events published and gold not. Writes with no
    * data dependency run together through [[Par]]: the two bronze
    * appends, then `daily_metrics` with `latest_event`. */
  def run(spark: SparkSession, layout: LakeLayout, rawPools: DataFrame,
      rawEvents: DataFrame, upsertSilver: Boolean = true): Unit = {
    Par.run2(
      () => TableIO.append(toBronze(rawPools), layout.bronze("pools_dim")),
      () => TableIO.append(toBronze(rawEvents),
        layout.bronze("maintenance_events")))

    val silverPoolsPath = layout.silver("pools_dim")
    // the merge reads the table it replaces: safe, because the commit
    // writes a fresh data dir and the old version's files are immutable
    val sp =
      if (upsertSilver && TableIO.snapshotExists(spark, silverPoolsPath))
        mergePools(TableIO.readSnapshot(spark, silverPoolsPath), rawPools)
      else silverPools(TableIO.read(spark, layout.bronze("pools_dim")))
    publishGated(gatedSilverPools(sp), silverPoolsPath)
    val poolsFinal = TableIO.readSnapshot(spark, silverPoolsPath)

    val bronzeEvents = TableIO.read(spark,
      layout.bronze("maintenance_events"))
    val silverEventsPath = layout.silver("maintenance_events")
    publishGated(gatedSilverEvents(silverEvents(bronzeEvents, poolsFinal)),
      silverEventsPath)
    val seFinal = TableIO.readSnapshot(spark, silverEventsPath)

    // event_date stays a data column (versioned tables skip on footer
    // stats rather than Hive dirs); the enriched query surface is
    // unchanged
    val goldEnrichedPath = layout.gold("events_enriched")
    publishGated(gatedEnrichedEvents(seFinal, poolsFinal), goldEnrichedPath)
    val geFinal = TableIO.readSnapshot(spark, goldEnrichedPath)
    Par.run2(
      () => TableIO.publishSnapshot(goldDailyMetrics(geFinal),
        layout.gold("daily_metrics")),
      () => TableIO.publishSnapshot(goldLatestEvent(geFinal),
        layout.gold("latest_event")))
  }

  /** Publish a gated frame as the next snapshot at `path`: its gate is
    * checked after the data files are written and before the version
    * is claimed, so a violation publishes nothing. */
  def publishGated(gated: (DataFrame, DataQuality.Gate), path: String)
      : Int = {
    val (df, gate) = gated
    TableIO.publishSnapshot(df, path, beforeClaim = () => gate.check())
  }
}
