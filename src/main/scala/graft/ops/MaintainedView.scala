package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.VersionedTable

/** The maintain protocol every maintained view runs on
  * ([[IncrementalAgg]], [[TimeSeriesView]], [[AnomalyView]],
  * [[OhlcView]]): keep a view of a [[VersionedTable]] base up to date
  * WITHOUT rescanning the base. The views supply only their math — a
  * full computation, a delta merge and the parameters their state
  * depends on; [[drive]] makes the one decision they share, each time:
  *
  *  - which base version the view reflects: a constant
  *    `__base_version` column in the table holding the view's
  *    bookkeeping (snapshot-consistent by construction — the column is
  *    part of the committed version);
  *  - whether the base grew append-only since then: the reflected
  *    version's file set nests inside the latest one's (commitAppend
  *    lineages, including every streaming sink in this repo). Then
  *    ONLY the new files are read and merged, so the cost is
  *    proportional to the DELTA, not the table;
  *  - when to recompute from scratch, honestly: a non-nesting lineage
  *    (overwrite / MERGE / RESTORE rewrote history — a "diff"-based
  *    repair would scan both snapshots, strictly more than the
  *    recompute), a base that moved BACKWARD, a changed pinned
  *    parameter or state shape (merging mixed-parameter partials would
  *    match neither request), and a delta the view's merge declines
  *    (late, duplicate-timestamp or NULL-keyed data for the
  *    time-series views).
  *
  * Where the bookkeeping lives is a property of the view. Views that
  * rewrite themselves on every maintain (aggregates, OHLC bars) carry
  * it as columns of the view table. Views that only APPEND on the
  * delta path (the smoothing gold table, the anomaly log) stay clean
  * and keep a keys-sized sibling state table at `<path>_state`, which
  * also pins the view version it describes: view and state are two
  * commits, so a crash between them leaves the view ahead of the pin —
  * detected at the next maintain and healed by a full recompute
  * (re-folding the same delta would append duplicate rows).
  *
  * A bookkeeping table without `__base_version` is not a maintained
  * view: the maintain fails loudly instead of overwriting it. The mode
  * taken is reported in the [[MaintainResult]], so callers (and specs)
  * can see which path ran and why.
  */
object MaintainedView {

  /** What one maintain did: the committed view version, which path ran
    * ("init" | "incremental" | "full" | "noop"; the joined aggregate
    * adds "dim_delta[+mode]" and "full:<reason>"), and how many base
    * files were scanned to get there. */
  final case class MaintainResult(version: Int, mode: String,
      filesScanned: Int)

  private[ops] val BaseVCol = "__base_version"

  /** One computed refresh: the rows to publish to the view table and,
    * for a view kept with a sibling state table, its state rows given
    * the committed view version. */
  private[ops] final case class Update(rows: DataFrame,
      state: Option[Int => DataFrame] = None)

  /** Create or refresh the view at `viewPath` to reflect the latest
    * committed version of `basePath`.
    *
    *  - `full` computes the view from the whole base snapshot;
    *  - `delta(current, rows)` merges the base rows of the new files
    *    into the current bookkeeping-free state, or declines (None);
    *  - `params` are the pinned parameters: stamped as constant columns
    *    on every commit, a mismatch recomputes (an empty table pins
    *    nothing);
    *  - `schemaOk` rejects a state shape the delta cannot merge into;
    *  - `validate` checks the base before any computation;
    *  - `statePin` names the column that pins the view version in the
    *    sibling state table `<viewPath>_state`; None keeps the
    *    bookkeeping in the view itself. */
  private[ops] def drive(spark: SparkSession, basePath: String,
      viewPath: String,
      full: DataFrame => Update,
      delta: (DataFrame, DataFrame) => Option[Update],
      params: Seq[(String, Any)] = Nil,
      schemaOk: Seq[String] => Boolean = _ => true,
      validate: DataFrame => Unit = _ => (),
      statePin: Option[String] = None): MaintainResult = {
    val vBase = VersionedTable.latestVersion(spark, basePath)
    require(vBase > 0, s"$basePath has no committed version to maintain")
    val baseFiles = VersionedTable.files(spark, basePath, Some(vBase))
    val target = statePin.fold(viewPath)(_ => viewPath + "_state")

    def stamp(df: DataFrame): DataFrame =
      params.foldLeft(df) { case (d, (c, v)) => d.withColumn(c, lit(v)) }
        .withColumn(BaseVCol, lit(vBase))

    def commit(u: Update, append: Boolean): Int = statePin match {
      case None => VersionedTable.commitOverwrite(stamp(u.rows), viewPath)
      case Some(pin) =>
        val state = u.state.getOrElse(throw new IllegalStateException(
          s"$viewPath keeps a state table: its update must carry state"))
        val v =
          if (append) VersionedTable.commitAppend(u.rows, viewPath)
          else VersionedTable.commitOverwrite(u.rows, viewPath)
        VersionedTable.commitOverwrite(
          stamp(state(v)).withColumn(pin, lit(v)), target)
        v
    }

    def recompute(mode: String): MaintainResult = MaintainResult(
      commit(full(VersionedTable.read(spark, basePath, Some(vBase))),
        append = false), mode, baseFiles.size)

    def isEmpty(path: String, v: Int): Boolean =
      v == 0 || VersionedTable.files(spark, path, Some(v)).isEmpty

    // an EMPTY base snapshot (zero files — a legal version in this
    // format, though every commit writes at least one file) maintains
    // to the empty view: empty each table that still holds rows (a
    // commit of zero rows writes one empty file, which a later maintain
    // must see as empty too), or no-op
    if (baseFiles.isEmpty) {
      def truncate(p: String): Boolean = {
        val v = VersionedTable.latestVersion(spark, p)
        if (isEmpty(p, v)) return false
        val rows = VersionedTable.read(spark, p, Some(v))
        if (rows.isEmpty) return false
        VersionedTable.commitOverwrite(rows.filter(lit(false)), p)
        true
      }
      val emptied = (viewPath +: statePin.map(_ => target).toSeq)
        .map(truncate)
      return MaintainResult(VersionedTable.latestVersion(spark, viewPath),
        if (emptied.contains(true)) "full" else "noop", 0)
    }
    validate(VersionedTable.read(spark, basePath, Some(vBase)))
    val vTarget = VersionedTable.latestVersion(spark, target)
    if (vTarget == 0) return recompute("init")
    // the view exists but its latest version holds no files: there is
    // no reflected version to take a delta from — rebuild
    if (isEmpty(target, vTarget)) return recompute("full")

    val current = VersionedTable.read(spark, target, Some(vTarget))
    require(current.columns.contains(BaseVCol),
      s"$target is not a maintained view (missing $BaseVCol)")
    val pinned = params.map(_._1) ++ statePin
    // a state-shape change mid-life (a parameter column gone, minMax
    // toggled, sum vs sketch flavor switched) is a schema change, not a
    // delta: recompute
    if (!pinned.forall(current.columns.contains) ||
        !schemaOk(current.columns.toSeq))
      return recompute("full")
    // ONE metadata job reads the reflected base version, the pinned
    // parameters and the state's view pin together — a second collect
    // per maintain measurably taxes high-frequency streaming maintenance
    val head = current.select(
      (BaseVCol +: pinned).map(c => max(col(c))): _*).collect().head
    if (!params.zipWithIndex.forall { case ((_, v), i) =>
        Option(head.get(i + 1)).forall(_ == v) })
      return recompute("full")
    val vView =
      if (statePin.isEmpty) vTarget
      else VersionedTable.latestVersion(spark, viewPath)
    // a table with files but no rows (a zero-row commit still writes
    // one empty file) has no row to carry the reflected version: it is
    // current while the base holds no rows either
    if (head.get(0) == null &&
        VersionedTable.read(spark, basePath, Some(vBase)).isEmpty)
      return MaintainResult(vView, "noop", 0)
    // crash window: the view ahead of the state's pin means the last
    // maintain died between its two commits
    if (statePin.isDefined && Option(head.get(pinned.size))
        .map(_.toString.toInt).getOrElse(-1) != vView)
      return recompute("full")
    val reflected = Option(head.get(0)).map(_.toString.toInt).getOrElse(0)
    if (reflected == vBase) return MaintainResult(vView, "noop", 0)
    // a RESTORE (or lost history) can move the base BACKWARD
    if (reflected > vBase) return recompute("full")

    val oldFiles =
      VersionedTable.files(spark, basePath, Some(reflected)).toSet
    if (!oldFiles.subsetOf(baseFiles.toSet)) return recompute("full")
    val newFiles = baseFiles.filterNot(oldFiles.contains)
    // an append that added zero files (empty batch): re-stamp the
    // reflected version, a keys-sized write
    if (newFiles.isEmpty) {
      val v = VersionedTable.commitOverwrite(
        current.withColumn(BaseVCol, lit(vBase)), target)
      return MaintainResult(if (statePin.isEmpty) v else vView,
        "incremental", 0)
    }
    // a multi-version catch-up delta can span a commitAppendEvolve
    // boundary (mixed-schema files): readFileSubset merges footers
    // exactly when VersionedTable.read would
    delta(current.drop((BaseVCol +: pinned): _*),
        VersionedTable.readFileSubset(spark, basePath, newFiles)) match {
      case Some(u) =>
        MaintainResult(commit(u, append = true), "incremental",
          newFiles.size)
      case None => recompute("full")
    }
  }

  /** The one streaming sink shape of every maintained view: append each
    * micro-batch to the base exactly once (the
    * [[VersionedTable.foreachBatchAppend]] marker protocol), then
    * refresh the view. Crash-safe without a joint transaction because a
    * maintain is idempotent per base version: a replayed batch finds
    * its marker (no second append) and the refresh no-ops at the
    * unchanged version; a crash between append and refresh leaves the
    * view one version behind until the next batch's maintain folds
    * every file appended since the version it reflects. */
  private[ops] def appendThenMaintain(basePath: String)(
      refresh: DataFrame => Unit): (DataFrame, Long) => Unit = {
    val append = VersionedTable.foreachBatchAppend(basePath)
    (batch, batchId) => {
      append(batch, batchId)
      refresh(batch)
    }
  }
}
