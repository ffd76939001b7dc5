package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.VersionedTable
import graft.ops.MaintainedView.{MaintainResult, Update}

/** Streaming-maintained time-series gold table: LOCF grid resample
  * ([[Resample.locf]]) followed by EWMA smoothing
  * ([[graft.functions.EwmaAgg]]) over the grid values, kept up to date
  * from a [[VersionedTable]] base WITHOUT re-folding history — the
  * reference's EP3 gold tables are exactly this windowed-smoothing
  * shape (`07_kafka_smartpool_sensors.py:103-132`), and this is its
  * maintained-view twin over the q188→q190 batch composition.
  *
  * Why incremental is possible at all: both stages carry O(1) state
  * per key. LOCF needs only the latest observation; the EWMA fold
  * needs only its last smoothed value (`sₜ = α·x + (1−α)·sₜ₋₁` — the
  * state IS sₜ₋₁). So a micro-batch of new observations extends each
  * key's gold series by folding FORWARD from a keys-sized state table,
  * touching only the delta files: at 100 TB the per-batch cost is the
  * batch plus one keys-sized join, never the base or the gold history.
  * The gold table itself advances append-only in incremental mode (new
  * grid rows only — no rewrite of emitted history), which also makes
  * IT a well-behaved base for downstream incremental consumers.
  *
  * Exactness: the incremental fold is bit-identical to the batch twin.
  * The EWMA seed trick — prepend one pseudo-row carrying the state
  * value, let the aggregate seed `s₁ = x₁` on it, drop it — reproduces
  * the exact IEEE recurrence, and the LOCF carry row makes every new
  * grid point's predecessor visible without scanning history. The spec
  * asserts stream-built gold == batch-twin gold to the last bit.
  *
  * The maintain protocol (lineage, recompute rules, the sibling state
  * table and its `__gold_version` pin) is [[MaintainedView.drive]]'s.
  * The view's own rules: LATE or duplicate-timestamp data (any delta
  * observation at or before a key's recorded last observation)
  * rewrites history for already-emitted grid rows, so the fold
  * declines it → full recompute, reported as such (event-time-ordered
  * feeds, the common sensor case, never trip it); a smoothing-parameter
  * or step change is pinned (`__alpha`/`__step_us`). The state holds
  * one row per key — first/last observation, last grid point and the
  * EWMA value there — overwritten per maintain (keys-sized).
  */
object TimeSeriesView {

  private val AlphaCol = "__alpha"
  private val StepCol = "__step_us"
  private val GoldVCol = "__gold_version"

  /** The batch twin (what the maintained gold table must equal): LOCF
    * resample onto the aligned grid, then EWMA over each key's grid
    * values in grid order. Emits `keys :+ g_us :+ valueCol :+ ewma`. */
  def smoothedBatch(readings: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, stepUs: Long, alpha: Double): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("g_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Resample.locf(readings, keys, tsCol, valueCol, stepUs)
      .withColumn("ewma",
        graft.functions.Ewma.ewma(col(valueCol), alpha).over(w))
  }

  /** Per-key fold state derived from a (gold, observations) pair — the
    * same columns the incremental path maintains. */
  private def deriveState(obs: DataFrame, gold: DataFrame,
      keys: Seq[String]): DataFrame = {
    val obsStats = obs.groupBy(keys.map(col): _*).agg(
      min(col("__t_us")).as("first_obs_t"),
      max(col("__t_us")).as("last_obs_t"),
      max_by(col("__v"), col("__t_us")).as("last_obs_v"))
    val goldStats = gold.groupBy(keys.map(col): _*).agg(
      max(col("g_us")).as("last_grid_t"),
      max_by(col("ewma"), col("g_us")).as("ewma_state"))
    obsStats.join(goldStats, keys, "left")
  }

  /** Create or refresh the smoothed gold table at `goldPath` to
    * reflect the latest committed version of `basePath`. */
  def maintainSmoothed(spark: SparkSession, basePath: String,
      goldPath: String, keys: Seq[String], tsCol: String,
      valueCol: String, stepUs: Long, alpha: Double): MaintainResult = {
    require(stepUs > 0, "stepUs must be positive")
    MaintainedView.drive(spark, basePath, goldPath,
      full = base => {
        val obs = Resample.series(base, keys, tsCol, valueCol)
        Update(smoothedBatch(base, keys, tsCol, valueCol, stepUs, alpha),
          Some(goldV => deriveState(obs,
            VersionedTable.read(spark, goldPath, Some(goldV)), keys)))
      },
      delta = (st, rows) => extend(st,
        Resample.series(rows, keys, tsCol, valueCol), keys, valueCol,
        stepUs, alpha),
      params = Seq(AlphaCol -> alpha, StepCol -> stepUs),
      statePin = Some(GoldVCol))
  }

  /** Fold the delta observations forward from the per-key state: the
    * new grid rows to append and the state after them, or None when
    * the delta is late (or NULL-keyed) and history must be rewritten. */
  private def extend(st: DataFrame, delta: DataFrame, keys: Seq[String],
      valueCol: String, stepUs: Long, alpha: Double): Option[Update] = {
    if (!Resample.strictlyAfter(delta, st, keys, "last_obs_t")) return None
    // per-key delta stats, joined to (possibly absent) prior state
    val dstats = delta.groupBy(keys.map(col): _*).agg(
      min(col("__t_us")).as("__dmin"),
      max(col("__t_us")).as("__dmax"),
      max_by(col("__v"), col("__t_us")).as("__dlastv"))
    val joined = dstats.join(st, keys, "left")

    // new aligned grid range per key: continue past the last emitted
    // grid point, or start at the key's first observation (carried for
    // keys that had observations but no aligned point yet)
    val firstT = coalesce(col("first_obs_t"), col("__dmin"))
    val lo = coalesce(
      col("last_grid_t") + lit(stepUs),
      firstT + ((lit(stepUs) - (firstT % stepUs + stepUs) % stepUs)
        % stepUs))
    val hi = col("__dmax") - ((col("__dmax") % stepUs + stepUs) % stepUs)
    val bounds = joined.select(keys.map(col) :+ lo.as("__glo") :+
      hi.as("__ghi") :+ col("last_obs_t") :+ col("last_obs_v") :+
      col("last_grid_t") :+ col("ewma_state"): _*)
    val grid = bounds.filter(col("__glo") <= col("__ghi"))
      .select(keys.map(col) :+
        explode(sequence(col("__glo"), col("__ghi"), lit(stepUs)))
          .as("g_us"): _*)

    // LOCF over delta obs ∪ one carry row per key (the last already-
    // reflected observation): every new grid point's predecessor is in
    // that union by the late-data guard
    val carry = bounds.filter(col("last_obs_t").isNotNull)
      .select(keys.map(col) :+ col("last_obs_t").as("__t_us") :+
        col("last_obs_v").as("__v"): _*)
    val obsAll = delta.unionByName(carry)
      // a carry row duplicates nothing (delta is strictly later), but
      // collapse defensively with the series discipline anyway
      .groupBy((keys :+ "__t_us").map(col): _*)
      .agg(max(col("__v")).as("__v"))
    val located = AsofJoin.backward(grid, obsAll, keys, keys, "g_us",
      "__t_us", payload = Seq("__v"))
      .select(keys.map(col) :+ col("g_us") :+
        col("__v").as(valueCol): _*)

    // EWMA seed trick: one pseudo-row per key carrying the fold state
    // at the last emitted grid point; the aggregate seeds s₁ = x₁ on
    // it, reproducing the exact IEEE continuation, then it's dropped
    val seeds = bounds
      .filter(col("last_grid_t").isNotNull && col("__glo") <= col("__ghi"))
      .select(keys.map(col) :+ col("last_grid_t").as("g_us") :+
        lit(null).cast("double").as(valueCol) :+
        col("ewma_state").as("__fold"): _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("g_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val newGold = located
      .withColumn("__fold", col(valueCol))
      .unionByName(seeds)
      .withColumn("ewma",
        graft.functions.Ewma.ewma(col("__fold"), alpha).over(w))
      .filter(col(valueCol).isNotNull)
      .drop("__fold")

    // fold state forward: delta keys take the batch's extremes and the
    // last new grid point's EWMA; untouched keys carry verbatim
    val goldStats = newGold.groupBy(keys.map(col): _*).agg(
      max(col("g_us")).as("__ngrid"),
      max_by(col("ewma"), col("g_us")).as("__newma"))
    val upd = dstats.join(goldStats, keys, "left")
      .select(keys.map(col) :+ col("__dmin") :+ col("__dmax") :+
        col("__dlastv") :+ col("__ngrid") :+ col("__newma"): _*)
    val stKeyed = keys.foldLeft(upd)((f, k) =>
      f.withColumnRenamed(k, s"__k_$k"))
    val cond = keys.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
    val newState = st.join(stKeyed, cond, "full_outer")
      .select(keys.map(k =>
        coalesce(col(k), col(s"__k_$k")).as(k)) ++ Seq(
        coalesce(col("first_obs_t"), col("__dmin")).as("first_obs_t"),
        coalesce(col("__dmax"), col("last_obs_t")).as("last_obs_t"),
        coalesce(col("__dlastv"), col("last_obs_v")).as("last_obs_v"),
        coalesce(col("__ngrid"), col("last_grid_t")).as("last_grid_t"),
        coalesce(col("__newma"), col("ewma_state")).as("ewma_state")): _*)
    Some(Update(newGold, Some(_ => newState)))
  }

  /** Streaming sink: [[MaintainedView.appendThenMaintain]] over
    * [[maintainSmoothed]]. */
  def foreachBatchMaintainSmoothed(basePath: String, goldPath: String,
      keys: Seq[String], tsCol: String, valueCol: String, stepUs: Long,
      alpha: Double): (DataFrame, Long) => Unit =
    MaintainedView.appendThenMaintain(basePath)(batch =>
      maintainSmoothed(batch.sparkSession, basePath, goldPath, keys,
        tsCol, valueCol, stepUs, alpha))

  /** The maintained gold table (no bookkeeping columns to drop — gold
    * is clean by construction). */
  def read(spark: SparkSession, goldPath: String): DataFrame =
    VersionedTable.read(spark, goldPath)
}
