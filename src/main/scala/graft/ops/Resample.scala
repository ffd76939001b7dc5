package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regular-grid resampling of irregular per-key time series — the
  * sensor-analytics staple the reference's pool-telemetry domain implies
  * but never ships (its notebooks aggregate into fixed tumbling windows,
  * e.g. 04_silver notebook minute-window rollups; resampling onto an
  * aligned grid with gap semantics is absent there and from core Spark).
  *
  * Two gap semantics:
  *  - [[locf]]   — last observation carried forward (step functions:
  *                 meter readings, config states);
  *  - [[linear]] — linear interpolation between the neighbouring
  *                 observations (continuous signals: temperature, pH).
  *
  * Grid points are epoch-aligned multiples of `stepUs` within each key's
  * own [min, max] observation span, so every grid row has a defined
  * neighbour on both sides and re-runs over growing data keep emitting
  * the same grid points for the same span (idempotent backfills).
  *
  * Scale shape (the part that matters at 100 TB):
  *  - duplicate-timestamp observations collapse by `max(value)` first —
  *    order-independent, so results are deterministic under any
  *    partitioning (an `avg` would float-drift with merge order);
  *  - the grid is generated from a per-key (min, max) AGGREGATE —
  *    one map-side-combinable shuffle producing one row per key, then
  *    `sequence + explode`; grid volume is span/step per key, never a
  *    cross join. Size `stepUs` to the span (a year at 1 s steps is 31 M
  *    rows per key — pick the grain you'd actually store);
  *  - LOCF rides [[graft.ops.AsofJoin]] (union + running window — one
  *    hash shuffle on the key, no pair blowup);
  *  - linear needs BOTH neighbours, so rather than two as-of joins
  *    (two shuffles) it unions observations and grid rows once and
  *    computes prev/next in ONE window pass: running `last` over the
  *    preceding frame and `first` over the following frame of the same
  *    sort. Ties at a shared timestamp sort observations before grid
  *    points, making prev inclusive and next strictly-after; at an
  *    exact hit the interpolation fraction is 0, so the emitted value
  *    is the observation itself either way.
  */
object Resample {

  /** Epoch-aligned grid over each key's observation span.
    * Emits `keyCols :+ g_us` (grid epoch-microseconds, BIGINT). */
  def grid(obs: DataFrame, keyCols: Seq[String], tUsCol: String,
           stepUs: Long): DataFrame = {
    require(stepUs > 0, "stepUs must be positive")
    val bounds = obs.groupBy(keyCols.map(col): _*)
      .agg(min(col(tUsCol)).as("__lo"), max(col(tUsCol)).as("__hi"))
      // integer mod arithmetic, not double division (epoch micros
      // ~1.7e15 divided in doubles can round a just-below-integer
      // quotient UP) and not DIV (truncates toward zero, which flips
      // ceil/floor for pre-1970 negative epochs): ((x % s + s) % s) is
      // the non-negative remainder for either sign, so __glo rounds UP
      // to alignment and __ghi rounds DOWN on the whole timeline
      .withColumn("__glo", expr(
        s"__lo + (($stepUs - (__lo % $stepUs + $stepUs) % $stepUs) % $stepUs)"))
      .withColumn("__ghi", expr(
        s"__hi - ((__hi % $stepUs + $stepUs) % $stepUs)"))
    bounds
      // a key whose span contains no aligned grid point emits nothing
      // (sequence() with start > stop and a positive step would throw)
      .filter(col("__glo") <= col("__ghi"))
      .select(keyCols.map(col) :+
        explode(sequence(col("__glo"), col("__ghi"), lit(stepUs))).as("g_us"): _*)
  }

  /** Deterministic observation series: duplicate timestamps collapse to
    * their max value (order-independent, unlike avg/first). Shared with
    * [[TimeSeriesView]] so the streaming-maintained gold table dedups
    * exactly like the batch resample. */
  private[graft] def series(readings: DataFrame, keyCols: Seq[String],
                     tsCol: String, valueCol: String): DataFrame =
    readings
      .select(keyCols.map(col) :+ unix_micros(col(tsCol)).as("__t_us") :+
        col(valueCol).cast("double").as("__v"): _*)
      .where(col("__t_us").isNotNull && col("__v").isNotNull)
      .groupBy((keyCols :+ "__t_us").map(col): _*)
      .agg(max(col("__v")).as("__v"))

  /** Whether every observation of `delta` (a [[series]]) lies strictly
    * after its key's last one in `last` (`keyCols :+ lastCol`) — what
    * the maintained time-series views need to extend a key instead of
    * rewriting its emitted history. A NULL-keyed observation fails it
    * too: the plain-equality state joins of those views never match
    * it, so its late data would slip through. One Spark action. */
  private[graft] def strictlyAfter(delta: DataFrame, last: DataFrame,
      keyCols: Seq[String], lastCol: String): Boolean =
    delta.join(last, keyCols, "left")
      .filter(keyCols.map(col(_).isNull).reduce(_ || _) ||
        col("__t_us") <= col(lastCol))
      .isEmpty

  /** LOCF resample: `keyCols :+ g_us :+ valueCol` at every aligned grid
    * point of each key's span, carrying the latest observation at-or-
    * before the grid point. Grid points never precede the first
    * observation, so the value is never null. */
  def locf(readings: DataFrame, keyCols: Seq[String], tsCol: String,
           valueCol: String, stepUs: Long): DataFrame = {
    val obs = series(readings, keyCols, tsCol, valueCol)
    val g = grid(obs, keyCols, "__t_us", stepUs)
    AsofJoin.backward(g, obs, keyCols, keyCols, "g_us", "__t_us",
      payload = Seq("__v"))
      .select(keyCols.map(col) :+ col("g_us") :+ col("__v").as(valueCol): _*)
  }

  /** Linear-interpolation resample, same output shape as [[locf]].
    * A grid point after the last observation (only possible at the exact
    * final grid point when next is strictly-after) falls back to the
    * previous value — identical to LOCF there. */
  def linear(readings: DataFrame, keyCols: Seq[String], tsCol: String,
             valueCol: String, stepUs: Long): DataFrame = {
    val obs = series(readings, keyCols, tsCol, valueCol)
    val g = grid(obs, keyCols, "__t_us", stepUs)

    // union both row kinds into one keyed timeline; side 0 (observations)
    // sorts before side 1 (grid) at equal timestamps
    val o2 = obs.select(keyCols.map(col) :+ col("__t_us").as("__t") :+
      lit(0).as("__side") :+ col("__v"): _*)
    val g2 = g.select(keyCols.map(col) :+ col("g_us").as("__t") :+
      lit(1).as("__side") :+ lit(null).cast("double").as("__v"): _*)

    val ord = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t"), col("__side"))
    val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsT = when(col("__side") === 0, col("__t"))

    o2.unionByName(g2)
      .withColumn("__pv", last(col("__v"), ignoreNulls = true).over(back))
      .withColumn("__pt", last(obsT, ignoreNulls = true).over(back))
      .withColumn("__nv", first(col("__v"), ignoreNulls = true).over(fwd))
      .withColumn("__nt", first(obsT, ignoreNulls = true).over(fwd))
      .filter(col("__side") === 1)
      // INVARIANT (pinned by ResampleSpec's exact-hit permutation
      // test): the (__t, __side) sort puts an observation BEFORE a
      // grid point at the same timestamp, so for every emitted grid
      // row __pt <= __t and __nt (when non-null) is STRICTLY greater
      // than __pt — the divide below can never see __nt == __pt. An
      // exact grid-on-observation hit lands in this branch with
      // fraction (__t - __pt) = 0 and emits the observation itself.
      // Editing the tie order flips exact hits into the fwd frame
      // (fraction 1 — still the observation) EXCEPT at a key's first
      // observation, where __pt is null and the output silently nulls:
      // that is the regression the spec exists to catch.
      .withColumn(valueCol,
        when(col("__nt").isNull, col("__pv")).otherwise(
          col("__pv") + (col("__nv") - col("__pv")) *
            ((col("__t") - col("__pt")) / (col("__nt") - col("__pt")))))
      .select(keyCols.map(col) :+ col("__t").as("g_us") :+ col(valueCol): _*)
  }
}
