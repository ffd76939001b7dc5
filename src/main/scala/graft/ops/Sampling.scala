package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling for training-data curation.
  *
  * `df.sample()` draws from a partition-seeded RNG: the result changes
  * with partitioning, Spark version, and row order — unacceptable for a
  * 100 TB curation pipeline that must be re-runnable (and auditable from
  * any SQL engine) with identical output. These samplers instead key
  * every decision on `md5(key)`: stable across runs, cluster layouts,
  * and engines, and expressible in plain SQL for the oracle/audit side.
  *
  * All paths are narrow maps or single-shuffle windows — no RNG state,
  * no driver round-trips, nothing that breaks at scale.
  */
object DeterministicSample {

  /** Keep rows whose md5(key) first byte < `frac256`/256 — a narrow
    * map-side filter (zero shuffle). `frac256` of 64 ≈ 25 % sample. */
  def byHash(df: DataFrame, key: Column, frac256: Int): DataFrame = {
    require(frac256 >= 0 && frac256 <= 256, "frac256 in [0,256]")
    df.filter(hashPrefix(key) < lit(thresholdHex(frac256)))
  }

  /** Stratified variant: per-stratum sampling rates (in 256ths), e.g.
    * downsample the over-represented stratum, keep all of the rare one.
    * Unlisted strata are dropped (rate 0). */
  def stratifiedByHash(df: DataFrame, key: Column, stratum: Column,
      frac256: Map[String, Int]): DataFrame = {
    // same domain check as byHash: %02x of an out-of-range rate builds
    // a >2-char threshold that string-compares to ~keep-everything
    require(frac256.values.forall(f => f >= 0 && f <= 256),
      "stratum rates must be in [0,256]")
    val threshold = frac256.foldLeft(lit("00")) {
      case (acc, (s, f)) =>
        when(stratum === s, lit(thresholdHex(f))).otherwise(acc)
    }
    df.filter(hashPrefix(key) < threshold)
  }

  /** Threshold string for `f`/256: two lowercase hex chars, except 256
    * ("keep all") → "zz", which every hex prefix sorts below. A plain
    * `%02x` of 256 would give the 3-char "100", which most 2-char
    * prefixes sort ABOVE — silently sampling ~6 % instead of 100 %. */
  private def thresholdHex(f: Int): String =
    if (f >= 256) "zz" else f"$f%02x"

  /** Deterministic k-per-group sample ("reservoir" without the RNG): the
    * k rows with the smallest md5(key) per group. One hash shuffle on
    * the group columns; md5 ordering is uniform, so the draw is unbiased.
    */
  def perGroupTopK(df: DataFrame, groups: Seq[String], key: Column,
      k: Int, rankCol: String = "rn"): DataFrame = {
    val w = Window.partitionBy(groups.map(col): _*)
      .orderBy(md5(key.cast("string")))
    df.withColumn(rankCol, row_number().over(w)).filter(col(rankCol) <= k)
  }

  /** First two hex chars of md5(key) — lowercase hex compares correctly
    * as a string ('0'..'9' < 'a'..'f'), matching SQL `substr(md5(x),1,2)`
    * in any engine. */
  private def hashPrefix(key: Column): Column =
    substring(md5(key.cast("string")), 1, 2)

  /** Weighted sample without replacement (Efraimidis-Spirakis A-ES),
    * deterministic: each row draws u = uniform(md5(seed:id)) and the k
    * rows with the largest ln(u)/w win — inclusion probability ∝ w.
    * Ranking runs through the bounded-heap [[graft.functions
    * .TopKByScore]], so the corpus-wide draw ships one O(k) heap per
    * task — no global sort, no window shuffle of N rows (the classic
    * A-ES reservoir, distributed). Rows with weight ≤ 0 are excluded
    * (fractional positive weights are fine — A-ES is scale-invariant,
    * so 1/cluster-size soft-dedup weights draw correctly).
    *
    * Returns (id, sample_key, rn) ranked 1..k; the u derivation
    * (first 8 md5 hex chars → (v+0.5)/2^32) is plain SQL on any
    * engine, so the identical draw is auditable outside Spark.
    */
  def weightedTopK(df: DataFrame, idCol: String, weightCol: String,
      k: Int, seed: String): DataFrame =
    rankByAesKey(
      df.filter(col(weightCol) > 0)
        .withColumn("__key", aesKey(idCol, weightCol, seed)),
      idCol, k)
      .select(col(idCol),
        graft.functions.Rounding.dround(col("__key"), 6)
          .as("sample_key"), col("rn"))

  /** The raw A-ES key ln(u)/w with u = uniform(md5(seed:id)) — pure
    * in (seed, id, weight), which is what makes the reservoir
    * INCREMENTAL: re-ranking previously-kept rows alongside a new
    * batch reproduces exactly the keys a full recompute would draw. */
  private def aesKey(idCol: String, weightCol: String,
      seed: String): Column = {
    val v = conv(substring(md5(concat(lit(seed + ":"),
      col(idCol).cast("string"))), 1, 8), 16, 10).cast("double")
    val u = (v + lit(0.5)) / lit(4294967296.0)
    log(u) / col(weightCol).cast("double")
  }

  private def rankByAesKey(keyed: DataFrame, idCol: String, k: Int)
      : DataFrame =
    graft.functions.TopKByScore.explodeTopK(keyed,
      Seq.empty, col("__key"), col(idCol), k,
      outId = idCol, outScore = "__key")

  /** Streaming A-ES reservoir: a `foreachBatch` sink maintaining a
    * fixed-size weighted sample of a GROWING corpus as a
    * [[graft.core.VersionedTable]] — per micro-batch, merge the
    * stored reservoir with the batch's keyed rows and keep the top-k
    * A-ES keys. Because the key is a pure function of (seed, id,
    * weight), the maintained reservoir is IDENTICAL to a full-corpus
    * [[weightedTopK]] over everything ingested so far (the
    * batch-order-invariance spec pins this), and the update is
    * IDEMPOTENT (id-dedup before ranking), so a crash between the
    * overwrite and the [[graft.core.VersionedTable.oncePerBatch]]
    * marker replays to the same state — no journal needed. Contract:
    * ids are unique across batches (append-only corpus, the
    * [[graft.operators.Bm25Index]] ingestion discipline).
    *
    * Per batch cost: the batch scan + a k-row state read; the merge
    * ranks (k + |batch|) rows through the bounded heap. */
  def foreachBatchReservoir(path: String, idCol: String,
      weightCol: String, k: Int, seed: String)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    val spark = batch.sparkSession
    graft.core.VersionedTable.oncePerBatch(spark, path, batchId) {
      if (!batch.isEmpty) {
        val keyed = batch.filter(col(weightCol) > 0)
          .select(col(idCol),
            aesKey(idCol, weightCol, seed).as("__key"))
        val merged =
          if (graft.core.VersionedTable.latestVersion(spark, path) == 0)
            keyed
          else graft.core.VersionedTable.read(spark, path)
            .select(col(idCol), col("__key"))
            .unionByName(keyed)
            .dropDuplicates(idCol)
        graft.core.VersionedTable.commitOverwrite(
          rankByAesKey(merged, idCol, k), path)
      }
    }
    ()
  }

  /** The current reservoir, ranked 1..k with rounded keys (the
    * [[weightedTopK]] output shape). */
  def reservoir(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String): DataFrame =
    graft.core.VersionedTable.read(spark, path)
      .select(col(idCol),
        graft.functions.Rounding.dround(col("__key"), 6)
          .as("sample_key"), col("rn"))
      .orderBy(col("rn"))
}
