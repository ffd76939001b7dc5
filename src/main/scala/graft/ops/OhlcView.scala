package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.VersionedTable
import graft.ops.MaintainedView.{BaseVCol, MaintainResult, Update}

/** Incrementally maintained OHLC gold table: q205's downsampling bars
  * (open/high/low/close + count per (key, bucket)) kept up to date
  * from a [[VersionedTable]] base without rescanning it — the third
  * time-series gold shape after [[TimeSeriesView]] (smoothing) and
  * [[AnomalyView]] (alerting).
  *
  * Why incremental is possible: OHLC is a MERGEABLE aggregate once
  * each bar carries its endpoint times. For two partial bars of the
  * same (key, bucket): counts add, high/low take greatest/least, open
  * follows the smaller `open_t`, close follows the larger `close_t`.
  * A strictly-later delta partial-aggregates per bucket (map-side
  * combinable) and merges into the existing bars with one
  * bars-sized null-safe full-outer join — extending a key's latest
  * bar in place and opening new ones, cost ∝ delta + bars, never the
  * base.
  *
  * Exactness needs the same event-time discipline as its siblings:
  * the batch twin collapses duplicate timestamps by max() BEFORE
  * aggregating, and that collapse cannot be merged across the
  * delta boundary — so the merge declines (an honest full recompute)
  * any delta observation at or before a key's recorded last one
  * (`max(close_t)` over its bars — the gold IS the state, no sidecar
  * table and therefore no torn-write window). A bucket-width change
  * recomputes too (pinned `__bucket_us`).
  *
  * Unlike the append-only smoothing/anomaly logs, bars REWRITE (the
  * open bar absorbs rows until its bucket closes), so the view carries
  * its own bookkeeping and each maintain publishes via commitOverwrite
  * — a bars-sized write, the [[IncrementalAgg]] convention. One commit
  * per maintain keeps the whole refresh atomic. The maintain protocol
  * is [[MaintainedView.drive]]'s.
  */
object OhlcView {

  private val BucketCol = "__bucket_us"
  private val BarCols =
    Seq("bucket_us", "n", "open_t", "close_t", "open", "high", "low",
      "close")

  /** Partial bars over a collapsed series (keys, __t_us, __v):
    * endpoint times ride along so bars stay mergeable. */
  private def bars(series: DataFrame, keys: Seq[String],
      bucketUs: Long): DataFrame =
    series
      .withColumn("bucket_us", col("__t_us") -
        ((col("__t_us") % bucketUs + bucketUs) % bucketUs))
      .groupBy((keys :+ "bucket_us").map(col): _*)
      .agg(count(lit(1)).as("n"),
        min(col("__t_us")).as("open_t"),
        max(col("__t_us")).as("close_t"),
        min_by(col("__v"), col("__t_us")).as("open"),
        max(col("__v")).as("high"),
        min(col("__v")).as("low"),
        max_by(col("__v"), col("__t_us")).as("close"))

  /** The batch twin (what the maintained bars must equal): duplicate
    * timestamps collapse by max, then one bucket aggregation. Emits
    * `keys :+ bucket_us :+ (n, open_t, close_t, open, high, low,
    * close)`. */
  def ohlcBatch(readings: DataFrame, keys: Seq[String], tsCol: String,
      valueCol: String, bucketUs: Long): DataFrame = {
    require(bucketUs > 0, "bucketUs must be positive")
    bars(Resample.series(readings, keys, tsCol, valueCol), keys,
      bucketUs)
  }

  /** Merge two partial-bar frames on (keys, bucket_us): the OHLC
    * merge algebra. Null-safe keys (a NULL-keyed group is a real
    * group). */
  private def mergeBars(keys: Seq[String])(current: DataFrame,
      delta: DataFrame): DataFrame = {
    val jk = keys :+ "bucket_us"
    val d = jk.foldLeft(
      delta.withColumnRenamed("n", "__dn")
        .withColumnRenamed("open_t", "__dot")
        .withColumnRenamed("close_t", "__dct")
        .withColumnRenamed("open", "__do")
        .withColumnRenamed("high", "__dh")
        .withColumnRenamed("low", "__dl")
        .withColumnRenamed("close", "__dc"))((f, k) =>
      f.withColumnRenamed(k, s"__k_$k"))
    val cond = jk.map(k => col(k) <=> col(s"__k_$k")).reduce(_ && _)
    current.join(d, cond, "full_outer")
      .select(jk.map(k =>
        when(col("n").isNotNull, col(k))
          .otherwise(col(s"__k_$k")).as(k)) ++ Seq(
        (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L)))
          .as("n"),
        least(col("open_t"), col("__dot")).as("open_t"),
        greatest(col("close_t"), col("__dct")).as("close_t"),
        // open follows the earlier endpoint, close the later one;
        // one side absent -> the other side's value carries
        when(col("open_t").isNull, col("__do"))
          .when(col("__dot").isNull, col("open"))
          .when(col("open_t") <= col("__dot"), col("open"))
          .otherwise(col("__do")).as("open"),
        greatest(col("high"), col("__dh")).as("high"),
        least(col("low"), col("__dl")).as("low"),
        when(col("close_t").isNull, col("__dc"))
          .when(col("__dct").isNull, col("close"))
          .when(col("close_t") >= col("__dct"), col("close"))
          .otherwise(col("__dc")).as("close")): _*)
  }

  /** Create or refresh the bars at `goldPath` to reflect the latest
    * committed version of `basePath`. */
  def maintainOhlc(spark: SparkSession, basePath: String,
      goldPath: String, keys: Seq[String], tsCol: String,
      valueCol: String, bucketUs: Long): MaintainResult = {
    require(bucketUs > 0, "bucketUs must be positive")
    MaintainedView.drive(spark, basePath, goldPath,
      full = rows => Update(ohlcBatch(rows, keys, tsCol, valueCol,
        bucketUs)),
      delta = (current, rows) => {
        val obs = Resample.series(rows, keys, tsCol, valueCol)
        val lastT = current.groupBy(keys.map(col): _*)
          .agg(max(col("close_t")).as("__last_t"))
        if (!Resample.strictlyAfter(obs, lastT, keys, "__last_t")) None
        else Some(Update(
          mergeBars(keys)(current, bars(obs, keys, bucketUs))))
      },
      params = Seq(BucketCol -> bucketUs),
      schemaOk = cols => BarCols.forall(cols.contains))
  }

  /** Streaming sink: [[MaintainedView.appendThenMaintain]] over
    * [[maintainOhlc]]. */
  def foreachBatchMaintainOhlc(basePath: String, goldPath: String,
      keys: Seq[String], tsCol: String, valueCol: String,
      bucketUs: Long): (DataFrame, Long) => Unit =
    MaintainedView.appendThenMaintain(basePath)(batch =>
      maintainOhlc(batch.sparkSession, basePath, goldPath, keys, tsCol,
        valueCol, bucketUs))

  /** The maintained bars without bookkeeping columns. */
  def read(spark: SparkSession, goldPath: String): DataFrame =
    VersionedTable.read(spark, goldPath).drop(BaseVCol, BucketCol)
}
