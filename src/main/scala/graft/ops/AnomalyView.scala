package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.VersionedTable
import graft.functions.{EwVar, EwVarAgg}
import graft.ops.MaintainedView.{MaintainResult, Update}

/** Streaming-maintained anomaly log: the q201 composition (EW
  * mean/variance fold → prior-state z-score → |z| > k flag) kept up to
  * date from a [[VersionedTable]] base WITHOUT re-folding history —
  * the alerting twin of [[TimeSeriesView]]'s smoothing gold table, and
  * the view a sensor pipeline pages on.
  *
  * Why incremental is possible: the detector's entire memory is the
  * per-key (μ, σ²) EW state plus the last observation time. A
  * micro-batch of strictly-later observations folds FORWARD from a
  * keys-sized state table: one pseudo-row per key RESTORES the
  * aggregate buffer to the stored state ([[EwVarAgg]]'s seed struct —
  * the two-component analogue of the EWMA seed trick), the new rows
  * fold after it in time order, and `lag(1)` over the union hands each
  * new row exactly the state its batch-twin z-score would have seen.
  * Per-batch cost ∝ batch + one keys-sized join; the log advances
  * append-only.
  *
  * Exactness: the spec asserts stream-built log == batch twin to the
  * last bit (same IEEE fold, same lag, same comparison).
  *
  * The maintain protocol (lineage, recompute rules, the sibling state
  * table and its `__log_version` pin) is [[MaintainedView.drive]]'s.
  * The view's own rules: the fold declines late or duplicate-timestamp
  * data → full recompute (already-emitted rows' z-scores would be lies
  * otherwise); α and k are pinned (`__alpha`/`__k`).
  */
object AnomalyView {

  private val AlphaCol = "__alpha"
  private val KCol = "__k"
  private val LogVCol = "__log_version"

  private def nullSeed = lit(null).cast(EwVarAgg.stateType)

  /** Fold + score. Input: keys ++ (__t_us, __v nullable, __seed);
    * output keeps the fold state `__e` for state derivation. Seed
    * rows (null `__v`) are retained — callers drop them. */
  private def score(series: DataFrame, keys: Seq[String], alpha: Double,
      k: Double): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("__t_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wo = Window.partitionBy(keys.map(col): _*).orderBy(col("__t_us"))
    val z = (col("__v") - col("__pm")) / sqrt(col("__pv"))
    series
      .withColumn("__e",
        EwVar.ewvarSeeded(col("__v"), alpha, col("__seed")).over(w))
      .withColumn("__pm", lag(col("__e").getField("mean"), 1).over(wo))
      .withColumn("__pv", lag(col("__e").getField("var"), 1).over(wo))
      .withColumn("zscore", when(col("__pv") > 0, z))
      .withColumn("anomaly",
        coalesce(when(col("__pv") > 0, abs(z) > lit(k)), lit(false)))
      .drop("__pm", "__pv", "__seed")
  }

  private def toLog(scored: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame =
    scored.select(keys.map(col) :+ col("__t_us").as("t_us") :+
      col("__v").as(valueCol) :+ col("zscore") :+ col("anomaly"): _*)

  /** The batch twin (what the maintained log must equal): the q201
    * composition over the whole series. Emits
    * `keys :+ t_us :+ valueCol :+ zscore :+ anomaly`. */
  def anomalyBatch(readings: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, alpha: Double, k: Double): DataFrame =
    toLog(score(
      Resample.series(readings, keys, tsCol, valueCol)
        .withColumn("__seed", nullSeed), keys, alpha, k), keys, valueCol)

  private def deriveState(scored: DataFrame, keys: Seq[String])
      : DataFrame =
    scored.groupBy(keys.map(col): _*).agg(
      max(col("__t_us")).as("last_obs_t"),
      max_by(col("__e").getField("mean"), col("__t_us")).as("mean_state"),
      max_by(col("__e").getField("var"), col("__t_us")).as("var_state"))

  /** Create or refresh the anomaly log at `logPath` to reflect the
    * latest committed version of `basePath`. */
  def maintainAnomalies(spark: SparkSession, basePath: String,
      logPath: String, keys: Seq[String], tsCol: String, valueCol: String,
      alpha: Double, k: Double): MaintainResult = {
    require(k > 0.0, s"k must be positive, got $k")
    MaintainedView.drive(spark, basePath, logPath,
      full = base => {
        val sc = score(Resample.series(base, keys, tsCol, valueCol)
          .withColumn("__seed", nullSeed), keys, alpha, k)
        Update(toLog(sc, keys, valueCol), Some(_ => deriveState(sc, keys)))
      },
      delta = (st, rows) => extend(st,
        Resample.series(rows, keys, tsCol, valueCol), keys, valueCol,
        alpha, k),
      params = Seq(AlphaCol -> alpha, KCol -> k),
      statePin = Some(LogVCol))
  }

  /** Score the delta observations forward from the per-key (μ, σ²)
    * state: the log rows to append and the state after them, or None
    * when the delta is late (or NULL-keyed) and history must be
    * rewritten. */
  private def extend(st: DataFrame, delta: DataFrame, keys: Seq[String],
      valueCol: String, alpha: Double, k: Double): Option[Update] = {
    if (!Resample.strictlyAfter(delta, st, keys, "last_obs_t")) return None
    // one seed pseudo-row per delta key with prior state: restores the
    // (μ, σ²) buffer at last_obs_t, then the delta folds after it
    val seeds = st
      .join(delta.select(keys.map(col): _*).distinct(), keys, "left_semi")
      .select(keys.map(col) :+ col("last_obs_t").as("__t_us") :+
        lit(null).cast("double").as("__v") :+
        struct(col("mean_state").as("mean"), col("var_state").as("var"))
          .as("__seed"): _*)
    val sc = score(
      delta.withColumn("__seed", nullSeed).unionByName(seeds),
      keys, alpha, k)
      .filter(col("__v").isNotNull) // drop the seed rows

    // fold state forward: delta keys take the new extremes/state,
    // untouched keys carry verbatim
    val upd = deriveState(sc, keys)
    val updKeyed = keys.foldLeft(
      upd.withColumnRenamed("last_obs_t", "__n_t")
        .withColumnRenamed("mean_state", "__n_m")
        .withColumnRenamed("var_state", "__n_v"))((f, kcol) =>
      f.withColumnRenamed(kcol, s"__k_$kcol"))
    val cond = keys.map(kcol => col(kcol) <=> col(s"__k_$kcol"))
      .reduce(_ && _)
    val newState = st.join(updKeyed, cond, "full_outer")
      .select(keys.map(kcol =>
        coalesce(col(kcol), col(s"__k_$kcol")).as(kcol)) ++ Seq(
        coalesce(col("__n_t"), col("last_obs_t")).as("last_obs_t"),
        coalesce(col("__n_m"), col("mean_state")).as("mean_state"),
        coalesce(col("__n_v"), col("var_state")).as("var_state")): _*)
    Some(Update(toLog(sc, keys, valueCol), Some(_ => newState)))
  }

  /** Streaming sink: [[MaintainedView.appendThenMaintain]] over
    * [[maintainAnomalies]]. */
  def foreachBatchMaintainAnomalies(basePath: String, logPath: String,
      keys: Seq[String], tsCol: String, valueCol: String, alpha: Double,
      k: Double): (DataFrame, Long) => Unit =
    MaintainedView.appendThenMaintain(basePath)(batch =>
      maintainAnomalies(batch.sparkSession, basePath, logPath, keys,
        tsCol, valueCol, alpha, k))

  /** The maintained log (clean by construction). */
  def read(spark: SparkSession, logPath: String): DataFrame =
    VersionedTable.read(spark, logPath)
}
