package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.VersionedTable
import graft.ops.MaintainedView.{BaseVCol, MaintainResult, Update}

/** Incrementally maintained aggregate table — the materialized-view
  * shape over a [[VersionedTable]] base: `GROUP BY keys → (n_rows,
  * sum_val)` kept up to date WITHOUT rescanning the base.
  *
  * Round 6 made ingestion incremental end-to-end (dedup admission,
  * BM25 postings, IVF assignment); aggregates were the last consumer
  * that still recomputed from scratch. At 100 TB a nightly `GROUP BY`
  * over the full corpus is the single most wasteful recurring job a
  * pipeline runs: the base grows by appends, and the aggregate's
  * change is exactly the aggregate OF THE APPENDED FILES. [[maintain]]
  * partial-aggregates ONLY the new files (map-side combinable) and
  * merges them into the existing aggregate with one keys-sized
  * re-aggregation. The lineage decision (delta, recompute or no-op)
  * is [[MaintainedView.drive]]'s; the aggregate carries its own
  * bookkeeping columns and publishes via commitOverwrite (keys-sized
  * rewrite — the base is never rewritten).
  *
  * Aggregate semantics: `n_rows = count(*)`,
  * `sum_val = sum(coalesce(valueCol, 0))` — the null-as-zero
  * convention keeps the merge algebra total (a group's sum is never
  * NULL, so increments never need three-valued handling); `valueCol`
  * must be integral, making the distributed sum exact and
  * order-free (the q108/q120 lesson: double sums are
  * partition-order-dependent). Averages derive as sum/count.
  */
object IncrementalAgg {

  private val EpsCol = "__qsk_eps"

  private def aggregate(rows: DataFrame, keys: Seq[String],
      valueCol: String, minMax: Boolean): DataFrame = {
    val aggs = Seq(
      count(lit(1)).as("n_rows"),
      sum(coalesce(col(valueCol).cast("long"), lit(0L))).as("sum_val")
    ) ++ (if (minMax) Seq(
      // SQL min/max semantics: nulls ignored, all-null group -> null
      // (NOT the sum's null-as-zero convention — zero is a value for
      // an extremum). Mergeable under append-only lineage because
      // appends never remove the row holding the current extremum
      min(col(valueCol).cast("long")).as("min_val"),
      max(col(valueCol).cast("long")).as("max_val")) else Nil)
    rows.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private def requireIntegral(df: DataFrame, c: String): Unit = {
    val dt = df.schema(c).dataType.simpleString
    require(Seq("bigint", "int", "smallint", "tinyint").contains(dt),
      s"incremental sums must be integral (exact, order-free); " +
        s"$c is $dt — scale doubles to a fixed-point long first")
  }

  /** Merge two already-aggregated frames of the (n_rows, sum_val
    * [, min_val, max_val]) shape. The state is an additive monoid, so
    * merging IS re-aggregation of the UNION: one keys-sized exchange
    * + hash aggregate, instead of the previous two exchanges + a
    * null-safe full-outer sort-merge join (guide §2.4 — remove
    * shuffles outright). Identical algebra: sums add (the dim-repair
    * path's NEGATIVE deltas cancel exactly as before), min/max over
    * the union equals the pairwise least/greatest null-skipping
    * merge, NULL-keyed groups are real GROUP BY groups on both
    * shapes, and groups whose count reaches zero drop out via the
    * same n_rows > 0 filter. (This is also the shape
    * [[maintainSketch]]'s merge already uses.) */
  private[graft] def mergeAggFrames(keys: Seq[String], minMax: Boolean)(
      current: DataFrame, deltaAgg: DataFrame): DataFrame = {
    val cols = Seq("n_rows", "sum_val") ++
      (if (minMax) Seq("min_val", "max_val") else Nil)
    val proj = (keys ++ cols).map(col)
    val u = current.select(proj: _*)
      .unionByName(deltaAgg.select(proj: _*))
    val aggs = Seq(
      sum(col("n_rows")).as("n_rows"),
      sum(col("sum_val")).as("sum_val")) ++
      (if (minMax) Seq(
        min(col("min_val")).as("min_val"),
        max(col("max_val")).as("max_val")) else Nil)
    u.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .filter(col("n_rows") > 0)
  }

  /** Create or refresh the aggregate at `aggPath` to reflect the
    * latest committed version of `basePath`. `minMax = true` adds
    * mergeable `min_val`/`max_val` columns: under the same
    * append-only lineage the delta path already detects, an append
    * can only introduce a new extremum, never retire one, so
    * `least`/`greatest` against the delta's extrema is exact; every
    * delete/overwrite/RESTORE lineage already falls back to full
    * recompute, which is precisely where a retired extremum would
    * otherwise go stale. */
  def maintain(spark: SparkSession, basePath: String, aggPath: String,
      keys: Seq[String], valueCol: String, minMax: Boolean = false)
      : MaintainResult =
    MaintainedView.drive(spark, basePath, aggPath,
      full = rows => Update(aggregate(rows, keys, valueCol, minMax)),
      delta = (current, rows) => Some(Update(mergeAggFrames(keys,
        minMax)(current, aggregate(rows, keys, valueCol, minMax)))),
      schemaOk = cols =>
        cols.contains("min_val") == minMax && !cols.contains("hll"),
      validate = df => requireIntegral(df, valueCol))

  private val DimVCol = "__dim_version"

  // (aggPath, committed agg version) → that version's pinned dim
  // version. A committed version's pins are immutable, so entries can
  // never go stale; the cache lets a streaming maintainJoined against
  // a STATIC dim skip dimDeltaRepair's metadata job entirely — without
  // it the repair adds a collect per micro-batch, the exact tax
  // MaintainedView.drive's single-metadata-job comment warns about.
  // In-memory and tiny (two ints per committed view version); cleared
  // wholesale at a size no real session reaches.
  private val dimPinCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Int]
  private def cacheDimPin(aggPath: String, v: Int, vDim: Int): Unit = {
    if (dimPinCache.size > 8192) dimPinCache.clear()
    dimPinCache.put((aggPath, v), vDim)
    ()
  }
  /** Test hook: a fresh JVM has an empty in-memory pin cache — specs
    * simulate that to prove the PERSISTED pin alone keeps the
    * static-dim probe scan-free. */
  private[graft] def clearDimPinCacheForTest(): Unit = dimPinCache.clear()

  // The pin PERSISTED: a ~10-byte sidecar `_pins/dim-vNNNNN` next to
  // the view holding the dim version that agg version reflects. The
  // in-memory cache dies with the JVM, so without this every fresh
  // session's first maintainJoined per view paid a read of the CURRENT
  // view + a 1-row collect + two file listings just to discover the
  // dim didn't move — per view, per restart, forever, on the streaming
  // path that restarts most. Reading the sidecar is one driver-side
  // open of a version-immutable file: a metadata stat, no Spark job.
  // Best-effort on both sides — a missing/corrupt pin falls back to
  // the view-read probe (and re-persists what it finds), so the
  // sidecar is a pure accelerator, never a correctness input.
  private def pinPath(aggPath: String, v: Int) =
    new org.apache.hadoop.fs.Path(f"$aggPath%s/_pins/dim-v$v%05d")

  private[graft] def persistDimPin(spark: SparkSession, aggPath: String,
      v: Int, vDim: Int): Unit =
    try {
      val p = pinPath(aggPath, v)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(p)) {
        // temp + atomic rename, NEVER create-in-place: a concurrent
        // reader on a shared FS must see the whole pin or no pin — a
        // truncated '1' of '12' parses as a VALID (wrong) version.
        // The pin is defense-in-depth only (the repair path re-derives
        // from the view), but the sidecar should still never lie.
        // rename-to-existing fails on HDFS semantics: losing a
        // creation race is safe (the pin for a committed version is
        // deterministic), just drop the temp
        val tmp = new org.apache.hadoop.fs.Path(
          f"$aggPath%s/_pins/.tmp-v$v%05d-${
            java.util.UUID.randomUUID()}%s")
        // an IOException between create and rename must not strand the
        // temp: nothing ever retires `.tmp-*` names by slot (they
        // carry a UUID), so without this delete repeated IO errors
        // would grow _pins forever. Best-effort — a JVM crash can
        // still leak one temp, which the glob sweep below retires
        try {
          val out = f.create(tmp, false)
          try out.write(vDim.toString.getBytes("UTF-8"))
          finally out.close()
          if (!f.rename(tmp, p)) f.delete(tmp, false)
        } catch {
          case e: java.io.IOException =>
            try f.delete(tmp, false)
            catch { case _: java.io.IOException => () }
            throw e
        }
        // only the LATEST version's pin is ever read — retire a SMALL
        // RANGE of old pins per write (still no listing) so the dir
        // stays ~16 files deep instead of growing one file per commit.
        // The range (not a single slot) sweeps stragglers: a pin write
        // skipped at version v-16 (crash between commit and pin, a
        // swallowed create failure) would otherwise never hit its
        // retirement slot and orphan the file forever
        ((v - 20) to (v - 16)).filter(_ > 0)
          .foreach(ov => f.delete(pinPath(aggPath, ov), false))
        // crash-leaked `.tmp-*` files can't be retired by slot (UUID
        // names) — one glob over the ~16-file _pins dir per successful
        // pin write sweeps any temp at least 16 versions stale (never
        // a temp a concurrent writer may still be about to rename)
        f.globStatus(new org.apache.hadoop.fs.Path(
            s"$aggPath/_pins/.tmp-v*")) match {
          case null => ()
          case sts => sts.foreach { s =>
            val stale = s.getPath.getName.stripPrefix(".tmp-v")
              .takeWhile(_.isDigit).toIntOption.exists(_ <= v - 16)
            if (stale) f.delete(s.getPath, false)
          }
        }
        ()
      }
    } catch { case _: java.io.IOException => () }

  private def readDimPin(spark: SparkSession, aggPath: String,
      v: Int): Option[Int] =
    try {
      val p = pinPath(aggPath, v)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        s.trim.toIntOption
      }
    } catch { case _: java.io.IOException => None }

  /** Record a committed agg version's dim pin in both tiers (session
    * cache + durable sidecar). */
  private def recordDimPin(spark: SparkSession, aggPath: String,
      v: Int, vDim: Int): Unit = {
    cacheDimPin(aggPath, v, vDim)
    persistDimPin(spark, aggPath, v, vDim)
  }

  /** Incrementally maintained JOIN-aggregate view — the enrichment
    * rollup: `SELECT keys…, count(*), sum(valueCol) FROM base INNER
    * JOIN dim USING (joinKey) GROUP BY keys…`, where `keys` may name
    * columns of EITHER side (that's the point — roll fact appends up
    * by a dimension attribute).
    *
    * Delta-exactness argument: under an inner equi-join with a STATIC
    * dim, the view over `base ∪ delta` is the view over `base` plus
    * the aggregate of `delta ⋈ dim` — appends never retract joined
    * rows, so the same additive merge as [[maintain]] applies. The dim
    * is NOT static forever, so the state pins the dim version it
    * reflects (`__dim_version`); any dim commit invalidates per-file
    * deltas (an updated dim row rewrites history for already-counted
    * fact rows) and triggers an honest full recompute, exactly like a
    * base rewrite. Fact-side lineage rules are
    * [[MaintainedView.drive]]'s: append-only advances are delta-scanned,
    * rewrites recompute.
    *
    * The dim join uses Spark's own strategy (AQE/broadcast threshold)
    * — no forced broadcast hint: star-schema dims usually broadcast,
    * but a forced hint on a dim that outgrew memory is the classic
    * OOM; the optimizer sees the real size. */
  def maintainJoined(spark: SparkSession, basePath: String,
      dimPath: String, aggPath: String, joinKey: String,
      keys: Seq[String], valueCol: String): MaintainResult = {
    val vDim = VersionedTable.latestVersion(spark, dimPath)
    require(vDim > 0, s"$dimPath has no committed version to join")
    // slowly-changing-dim fast path: if ONLY the dim moved (or moved
    // alongside an append-only base advance), repair just the groups
    // reachable from the CHANGED dim keys, then let MaintainedView.drive
    // handle any base delta against the re-pinned dim version
    val repaired = dimDeltaRepair(spark, basePath, dimPath, aggPath,
      joinKey, keys, valueCol, vDim)
    val dim = VersionedTable.read(spark, dimPath, Some(vDim))
    def joined(rows: DataFrame): DataFrame =
      rows.join(dim, Seq(joinKey))
    def agg(rows: DataFrame): DataFrame =
      aggregate(joined(rows), keys, valueCol, minMax = false)
    val r = MaintainedView.drive(spark, basePath, aggPath,
      full = rows => Update(agg(rows)),
      delta = (current, rows) =>
        Some(Update(mergeAggFrames(keys, minMax = false)(current,
          agg(rows)))),
      params = Seq(DimVCol -> vDim),
      schemaOk = cols => !cols.contains("hll"),
      validate = df => requireIntegral(df, valueCol))
    // whatever drive committed (or verified, for noop) pins vDim:
    // every commit stamps it, and noop means the pinned one matched —
    // recording it here is what makes the next static-dim repair free
    recordDimPin(spark, aggPath, r.version, vDim)
    repaired match {
      case Repaired(n) if r.mode == "noop" =>
        r.copy(mode = "dim_delta", filesScanned = n)
      case Repaired(n) =>
        r.copy(mode = s"dim_delta+${r.mode}",
          filesScanned = r.filesScanned + n)
      // a decline that forced the recompute is OBSERVABLE in the mode:
      // a permanently-declining repair (vacuumed dim history, schema
      // churn) shows up in monitoring instead of masquerading as a
      // routine full refresh. A decline drive absorbed some other way
      // (noop/init/incremental) cost nothing — leave those unannotated.
      case Declined(reason) if r.mode == "full" =>
        r.copy(mode = s"full:$reason")
      case _ => r
    }
  }

  /** What [[dimDeltaRepair]] decided. `Declined` carries the reason the
    * cheap path was refused (surfaced through `MaintainResult.mode` as
    * `full:<reason>` when [[MaintainedView.drive]] recomputes). */
  private sealed trait RepairOutcome
  private final case class Repaired(baseFilesScanned: Int)
      extends RepairOutcome
  /** The dim at/behind the pinned version — nothing to repair. */
  private case object StaticDim extends RepairOutcome
  private final case class Declined(reason: String) extends RepairOutcome

  /** Test hook, called between the decision probes and the repair
    * algebra: specs inject a fault here to prove a genuine repair BUG
    * propagates instead of silently demoting to recompute forever. */
  private[graft] var repairFaultHookForTest: () => Unit = () => ()

  /** Repair the joined view for a dim advance WITHOUT the full
    * recompute: under the inner equi-join, a dim commit can only
    * change the view's contribution of fact rows whose `joinKey` is in
    * the dim DIFF (rows inserted/deleted/updated between the pinned
    * and latest dim versions — usually a handful of keys for a
    * slowly-changing dim). The repair subtracts the affected facts
    * joined through the OLD dim rows and adds them joined through the
    * NEW ones — exact because the aggregate is an additive integer
    * monoid (the same algebra the append delta rides), and groups
    * whose count reaches zero drop out of the merge. Shuffle volume is
    * proportional to the affected facts, not the table; the fact scan
    * itself is restricted by a broadcast semi-join on the changed keys,
    * AND — when the base carries a [[VersionedTable.publishBloom]]
    * sidecar on `joinKey` — file-granular Bloom skipping shrinks the
    * scan to the candidate files before a row is read (the 100 TB
    * path; `MaintainResult.filesScanned` reports the pruned count).
    *
    * Declines (drive then recomputes honestly, and the reason
    * rides out in `MaintainResult.mode` as `full:<reason>`): a dim
    * SCHEMA change (retypes the view's inputs), unreadable old dim
    * version (vacuumed/erased history), a dim RESTORE moving backward,
    * a rewritten (non-append) base lineage, or any missing
    * bookkeeping. A content-identical dim rewrite (same rows, new
    * version) re-pins the version without touching values. Commits the
    * repaired view at (unchanged base pin, latest dim pin); returns
    * the number of base files the repair scanned.
    *
    * Exception discipline: only the ENUMERATED structural surprises
    * demote to recompute — an unreadable/vacuumed version or racing
    * filesystem (IllegalArgument/IllegalState/IO), an un-diffable or
    * un-resolvable schema (AnalysisException). Anything else (an
    * arithmetic bug in the repair algebra, an NPE) PROPAGATES: a
    * blanket catch would hide a real repair bug as a permanent silent
    * recompute. */
  private def dimDeltaRepair(spark: SparkSession, basePath: String,
      dimPath: String, aggPath: String, joinKey: String,
      keys: Seq[String], valueCol: String, vDim: Int): RepairOutcome =
    try {
      val vAgg = VersionedTable.latestVersion(spark, aggPath)
      if (vAgg == 0) return StaticDim // no view yet — drive inits
      // the pin makes the static-dim skip cheap: in-memory (free, no
      // IO) when this JVM committed the version; the persisted sidecar
      // (one driver-side stat+open, no Spark job, no view scan) after
      // a restart — the streaming case that used to pay a view read
      // per fresh session. The pin serves ONLY this equality skip:
      // every path that actually diffs dim versions re-derives from
      // the view below, so a corrupt/stale sidecar can cost a wasted
      // probe but can never pick the wrong versions to diff
      val pinned = dimPinCache.get((aggPath, vAgg))
        .orElse(readDimPin(spark, aggPath, vAgg).map { p =>
          cacheDimPin(aggPath, vAgg, p); p
        })
      if (pinned.exists(_ == vDim)) return StaticDim
      // the dim moved (or the pin is missing): the repair path reads
      // the view anyway (it merges into it), so derive BOTH reflected
      // versions from the view's own bookkeeping in ONE metadata job —
      // the authoritative source the sidecar merely caches
      val current = VersionedTable.read(spark, aggPath, Some(vAgg))
      if (!current.columns.contains(DimVCol) ||
          !current.columns.contains(BaseVCol))
        return Declined("no_bookkeeping")
      val head = current.select(max(col(BaseVCol)), max(col(DimVCol)))
        .collect().head
      if (head.isNullAt(0) || head.isNullAt(1))
        return Declined("no_bookkeeping")
      val vB0 = head.get(0).toString.toInt
      val vD0 = head.get(1).toString.toInt
      // heal the sidecar with what the view says (a lost/corrupt pin
      // re-persists here, so the next restart's probe is free again)
      recordDimPin(spark, aggPath, vAgg, vD0)
      if (vD0 == vDim) return StaticDim
      if (vD0 > vDim) return Declined("dim_restore")
      // if the base lineage is not append-only from the pinned
      // version, drive recomputes anyway — don't pay the repair
      val bf0 = VersionedTable.files(spark, basePath, Some(vB0)).toSet
      val bfN = VersionedTable.files(spark, basePath,
        Some(VersionedTable.latestVersion(spark, basePath))).toSet
      if (bf0.isEmpty || !bf0.subsetOf(bfN))
        return Declined("base_rewritten")
      val dimOld = VersionedTable.read(spark, dimPath, Some(vD0))
      val dimNewRaw = VersionedTable.read(spark, dimPath, Some(vDim))
      if (dimOld.schema.map(f => (f.name, f.dataType.sql)).toSet !=
          dimNewRaw.schema.map(f => (f.name, f.dataType.sql)).toSet)
        return Declined("dim_schema_change")
      repairFaultHookForTest()
      // exceptAll compares POSITIONALLY while joins resolve by name: a
      // commit that merely reordered same-typed columns must diff as
      // content, not as every-row-changed (or worse, silently equal
      // tuples under a swapped pair) — align by the old column order
      val dimNew = dimNewRaw.select(dimOld.columns.map(col): _*)
      val changed = dimOld.exceptAll(dimNew).select(col(joinKey))
        .union(dimNew.exceptAll(dimOld).select(col(joinKey)))
        .distinct()
      if (changed.isEmpty) {
        // content-identical rewrite: values can't have moved — re-pin
        val v = VersionedTable.commitOverwrite(
          current.withColumn(DimVCol, lit(vDim)), aggPath)
        recordDimPin(spark, aggPath, v, vDim)
        return Repaired(0)
      }
      val facts = VersionedTable.read(spark, basePath, Some(vB0))
      // Bloom file skipping on the fact scan: the repair only needs
      // fact rows whose joinKey is in the (usually tiny) changed set,
      // so when a publishBloom sidecar exists for (vB0, joinKey) the
      // scan shrinks to the candidate files — at 100 TB this is the
      // difference between "repair ∝ affected files" and "repair reads
      // the table once". Taken only when it is certainly cheaper AND
      // certainly exact: a published sidecar (never built on the fly),
      // an integral key, a bounded changed-key set (collected keys are
      // the probe), and an unevolved schema (raw file subsets of
      // evolved tables need footer merging — not worth forking here).
      // The broadcast join below re-applies the exact predicate, so
      // Bloom false positives only cost a wasted file read.
      val integralKey = Seq("bigint", "int", "smallint", "tinyint")
        .contains(facts.schema(joinKey).dataType.simpleString)
      val pruned: Option[(DataFrame, Int)] =
        if (!integralKey || VersionedTable.isEvolved(spark, basePath))
          None
        else {
          val ks = changed.limit(4097).collect()
          if (ks.length > 4096) None
          else {
            val keys = ks.iterator.filterNot(_.isNullAt(0))
              .map(_.get(0).asInstanceOf[Number].longValue).toSeq
            VersionedTable.bloomCandidateFiles(spark, basePath,
                joinKey, keys, Some(vB0))
              .map { files =>
                if (files.isEmpty) (facts.filter(lit(false)), 0)
                else (spark.read.parquet(files: _*), files.size)
              }
          }
        }
      val (factsBase, scanned) = pruned.getOrElse((facts, bf0.size))
      val factsK = factsBase.join(broadcast(changed), Seq(joinKey))
      val dimOldK = dimOld.join(broadcast(changed), Seq(joinKey))
      val dimNewK = dimNew.join(broadcast(changed), Seq(joinKey))
      val plus = aggregate(factsK.join(dimNewK, Seq(joinKey)), keys,
        valueCol, minMax = false)
      val minus = aggregate(factsK.join(dimOldK, Seq(joinKey)), keys,
        valueCol, minMax = false)
        .select(keys.map(col) :+ (-col("n_rows")).as("n_rows") :+
          (-col("sum_val")).as("sum_val"): _*)
      val deltaAgg = plus.unionByName(minus)
        .groupBy(keys.map(col): _*)
        .agg(sum(col("n_rows")).as("n_rows"),
          sum(col("sum_val")).as("sum_val"))
      val merged = mergeAggFrames(keys, minMax = false)(
        current.drop(BaseVCol, DimVCol), deltaAgg)
        .withColumn(DimVCol, lit(vDim))
        .withColumn(BaseVCol, lit(vB0))
      val v = VersionedTable.commitOverwrite(merged, aggPath)
      recordDimPin(spark, aggPath, v, vDim)
      Repaired(scanned)
    } catch {
      // ONLY the expected structural failure classes demote to the
      // honest recompute; see the scaladoc — everything else is a
      // repair bug and must propagate
      case e: org.apache.spark.sql.AnalysisException =>
        Declined(s"undiffable(${e.getCondition})")
      case _: IllegalArgumentException => Declined("missing_version")
      case _: IllegalStateException => Declined("missing_version")
      case _: java.io.IOException => Declined("io_error")
    }

  /** Sketch-backed maintained view — distinct counts and percentiles
    * updating from DELTA FILES ONLY, which exact distinct/percentile
    * cannot do (their state is the full value multiset). State per
    * group is a pair of MERGEABLE sketches:
    *
    *  - `hll`: a Datasketches HLL sketch of `distinctCol`
    *    (`hll_sketch_agg` partials, unioned with `hll_union_agg`);
    *  - `qsk`: a Greenwald-Khanna quantile summary of `valueCol`
    *    ([[graft.functions.QuantileSketchAgg]], merged with
    *    [[graft.functions.QuantileSketchMergeAgg]]).
    *
    * The delta merge is a UNION of the current state rows with the
    * delta's partial sketches followed by one keys-sized
    * re-aggregation — sketch algebra needs no outer-join bookkeeping
    * because both aggregates are commutative monoids with identity.
    * Merge-tree depth grows by one per maintain; the GK rank bound
    * degrades conservatively toward 2ε after deep merges (documented
    * on [[graft.functions.QuantileSketchAgg]]), and HLL union is
    * lossless in sketch space. Readers query via [[readSketch]]. */
  def maintainSketch(spark: SparkSession, basePath: String,
      aggPath: String, keys: Seq[String], distinctCol: String,
      valueCol: String, relativeError: Double = 0.01): MaintainResult = {
    def sketchAgg(rows: DataFrame): DataFrame =
      rows.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n_rows"),
          hll_sketch_agg(col(distinctCol)).as("hll"),
          graft.functions.QuantileSketch.agg(
            col(valueCol).cast("double"), relativeError).as("qsk"))
    MaintainedView.drive(spark, basePath, aggPath,
      full = rows => Update(sketchAgg(rows)),
      delta = (current, rows) => Some(Update(
        current.unionByName(sketchAgg(rows))
          .groupBy(keys.map(col): _*)
          .agg(sum(col("n_rows")).as("n_rows"),
            hll_union_agg(col("hll")).as("hll"),
            graft.functions.QuantileSketch.mergeAgg(col("qsk"))
              .as("qsk")))),
      // the epsilon is state, not schema: pinned so a mid-life
      // parameter change recomputes instead of merging mixed-epsilon
      // partials
      params = Seq(EpsCol -> relativeError),
      schemaOk = cols => cols.contains("hll") && cols.contains("qsk"))
  }

  /** The sketch view resolved to numbers: approximate distinct count
    * and the requested percentiles of the value column. */
  def readSketch(spark: SparkSession, aggPath: String,
      percentiles: Seq[Double] = Seq(0.5, 0.95)): DataFrame = {
    // withColumn REPLACES a same-named column: two percentiles that
    // round to the same label (0.5 and 0.504 -> p50) would silently
    // drop one — refuse instead
    val labels = percentiles.map(p => s"p${(p * 100).round}")
    require(labels.distinct.size == labels.size,
      s"percentile labels collide after rounding: " +
        s"${percentiles.zip(labels)} — request percentiles at least " +
        s"0.005 apart")
    val base = VersionedTable.read(spark, aggPath)
      .drop(BaseVCol, EpsCol)
    val withP = percentiles.zip(labels).foldLeft(
      base.withColumn("approx_distinct",
        hll_sketch_estimate(col("hll"))))((df, pl) =>
      df.withColumn(pl._2,
        graft.functions.QuantileSketch.query(col("qsk"), lit(pl._1))))
    withP.drop("hll", "qsk")
  }

  /** The maintained aggregate, without the bookkeeping columns. */
  def read(spark: SparkSession, aggPath: String): DataFrame =
    VersionedTable.read(spark, aggPath).drop(BaseVCol, DimVCol)

  /** Streaming materialized view: a `foreachBatch` sink that appends
    * each micro-batch to the base exactly once and then [[maintain]]s
    * the aggregate ([[MaintainedView.appendThenMaintain]]). */
  def foreachBatchMaintain(basePath: String, aggPath: String,
      keys: Seq[String], valueCol: String, minMax: Boolean = false)
      : (DataFrame, Long) => Unit =
    MaintainedView.appendThenMaintain(basePath)(batch =>
      maintain(batch.sparkSession, basePath, aggPath, keys, valueCol,
        minMax))

  /** Streaming enrichment rollup: [[foreachBatchMaintain]]'s sink
    * shape over [[maintainJoined]] — each micro-batch of FACT rows
    * appends to the base exactly once, then the join-aggregate view
    * refreshes against the CURRENT dim version. The one case the sink
    * adds is a DIM commit between batches: the pinned `__dim_version`
    * mismatch makes the next maintain a dim-delta repair or an honest
    * full recompute (stream-static enrichment's correctness rule —
    * reference 07_kafka notebook's static-side refresh), after which
    * delta maintenance resumes against the new pin. */
  def foreachBatchMaintainJoined(basePath: String, dimPath: String,
      aggPath: String, joinKey: String, keys: Seq[String],
      valueCol: String): (DataFrame, Long) => Unit =
    MaintainedView.appendThenMaintain(basePath)(batch =>
      maintainJoined(batch.sparkSession, basePath, dimPath, aggPath,
        joinKey, keys, valueCol))

  /** Streaming sketch view: the same sink shape over
    * [[maintainSketch]] — per micro-batch, exactly-once fact append
    * then a delta-files-only refresh of the HLL + GK sketch state;
    * sketch merge algebra is what makes the per-batch refresh cheap.
    * An epsilon change mid-stream recomputes (the pinned parameter),
    * never merges mixed-epsilon partials. */
  def foreachBatchMaintainSketch(basePath: String, aggPath: String,
      keys: Seq[String], distinctCol: String, valueCol: String,
      relativeError: Double = 0.01): (DataFrame, Long) => Unit =
    MaintainedView.appendThenMaintain(basePath)(batch =>
      maintainSketch(batch.sparkSession, basePath, aggPath, keys,
        distinctCol, valueCol, relativeError))
}
