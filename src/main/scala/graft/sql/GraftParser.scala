package graft.sql

import java.util.regex.Pattern

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

import graft.core.VersionedTable
import graft.ops.MaintainedView.MaintainResult

/** SQL statements for the engine's table-maintenance verbs — the
  * missing half of the SQL surface ([[GraftExtensions]] already
  * injects the scalar/aggregate functions; this parser injects the
  * STATEMENTS a lakehouse exposes, the reference's DESCRIBE DETAIL
  * (03_silver_smartpool.ipynb §6) generalized to the full maintenance
  * loop):
  *
  * {{{
  * OPTIMIZE '<table>' [ZORDER BY (c1, c2, ...)] [PARTITIONS n]
  * VACUUM '<table>' [RETAIN n VERSIONS] [FORCE]
  * CLONE '<src>' TO '<dst>' [VERSION AS OF v]
  * RESTORE '<table>' TO VERSION AS OF v
  * DESCRIBE DETAIL '<table>'
  * FORGET IDS (1, 2, ...) KEY <col> OP <n>
  *   [BASE '<t>'] [BM25 '<t>'] [IVF '<t>']
  * ERASE OP <n> [BASE '<t>'] [BM25 '<t>'] [IVF '<t>'] [FORCE]
  * REPLACE '<table>' WHERE <predicate> FROM '<src>'
  * REFRESH VIEW '<agg>' FROM '<base>' [JOIN '<dim>' ON <key>]
  *   GROUP BY c1, c2, ... VALUE <col> [MINMAX]
  * REFRESH SMOOTHED VIEW '<gold>' FROM '<base>'
  *   KEY c1, c2, ... TIME <col> VALUE <col> STEP <µs> ALPHA <a>
  * REFRESH ANOMALY VIEW '<log>' FROM '<base>'
  *   KEY c1, c2, ... TIME <col> VALUE <col> ALPHA <a> THRESHOLD <k>
  * REFRESH OHLC VIEW '<gold>' FROM '<base>'
  *   KEY c1, c2, ... TIME <col> VALUE <col> BUCKET <µs>
  * REFRESH AUC VIEW '<agg>' FROM '<base>' SCORE <col> LABEL <col>
  * REFRESH KS VIEW '<agg>' FROM '<base>' VALUE <col> AGAINST '<ref>'
  *   [MAX SUPPORT <n>] [COARSEN TO <n>]
  * }}}
  *
  * Tables are [[VersionedTable]] paths as single-quoted string
  * literals (this engine's tables are path-addressed, like
  * `delta.`path``). `FORCE` on VACUUM/ERASE sets the reclaim grace
  * window to zero — only safe with no concurrent writer, mirroring
  * the [[VersionedTable.vacuum]] contract. FORGET ids are BIGINT
  * literals (document/vector keys). Every other statement falls
  * through verbatim to the delegate Spark parser, so the full SQL
  * dialect keeps working.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan =
    maintenancePlan(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String)
      : FunctionIdentifier = delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  private def pat(re: String): Pattern =
    Pattern.compile(s"\\A\\s*$re\\s*;?\\s*\\z",
      Pattern.CASE_INSENSITIVE | Pattern.DOTALL)

  private val OptimizeRe = pat(
    """OPTIMIZE\s+'([^']+)'(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?""" +
      """(?:\s+PARTITIONS\s+(\d+))?""")
  private val VacuumRe = pat(
    """VACUUM\s+'([^']+)'(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?""" +
      """(\s+FORCE)?""")
  private val CloneRe = pat(
    """CLONE\s+'([^']+)'\s+TO\s+'([^']+)'""" +
      """(?:\s+VERSION\s+AS\s+OF\s+(\d+))?""")
  private val RestoreRe = pat(
    """RESTORE\s+'([^']+)'\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)""")
  private val DescribeRe = pat("""DESCRIBE\s+DETAIL\s+'([^']+)'""")
  private val ForgetRe = pat(
    """FORGET\s+IDS\s*\(([-\d\s,]+)\)\s+KEY\s+(\w+)\s+OP\s+(\d+)""" +
      """(?:\s+BASE\s+'([^']+)')?(?:\s+BM25\s+'([^']+)')?""" +
      """(?:\s+IVF\s+'([^']+)')?""")
  private val EraseRe = pat(
    """ERASE\s+OP\s+(\d+)(?:\s+BASE\s+'([^']+)')?""" +
      """(?:\s+BM25\s+'([^']+)')?(?:\s+IVF\s+'([^']+)')?(\s+FORCE)?""")
  // GREEDY predicate: the source clause binds to the LAST " FROM '…'"
  // before end-of-statement, so a predicate containing the token
  // sequence inside a string literal (WHERE src = 'x FROM y') can't
  // steal the source path — pat()'s \z anchor makes the final
  // quoted group the trailing clause.
  private val ReplaceRe = pat(
    """REPLACE\s+'([^']+)'\s+WHERE\s+(.+)\s+FROM\s+'([^']+)'""")
  private val RefreshRe = pat(
    """REFRESH\s+VIEW\s+'([^']+)'\s+FROM\s+'([^']+)'""" +
      """(?:\s+JOIN\s+'([^']+)'\s+ON\s+(\w+))?""" +
      """\s+GROUP\s+BY\s+([\w\s,]+?)\s+VALUE\s+(\w+)(\s+MINMAX)?""")
  // the time-series gold-table twin: LOCF grid resample + EWMA
  // ([[graft.ops.TimeSeriesView]]) maintained from SQL
  private val RefreshSmoothRe = pat(
    """REFRESH\s+SMOOTHED\s+VIEW\s+'([^']+)'\s+FROM\s+'([^']+)'""" +
      """\s+KEY\s+([\w\s,]+?)\s+TIME\s+(\w+)\s+VALUE\s+(\w+)""" +
      """\s+STEP\s+(\d+)\s+ALPHA\s+([0-9.]+)""")
  // the alerting twin: EW mean/variance fold + prior-state z-score
  // flags ([[graft.ops.AnomalyView]]) maintained from SQL
  private val RefreshAnomalyRe = pat(
    """REFRESH\s+ANOMALY\s+VIEW\s+'([^']+)'\s+FROM\s+'([^']+)'""" +
      """\s+KEY\s+([\w\s,]+?)\s+TIME\s+(\w+)\s+VALUE\s+(\w+)""" +
      """\s+ALPHA\s+([0-9.]+)\s+THRESHOLD\s+([0-9.]+)""")
  // downsampling bars ([[graft.ops.OhlcView]]) maintained from SQL
  private val RefreshOhlcRe = pat(
    """REFRESH\s+OHLC\s+VIEW\s+'([^']+)'\s+FROM\s+'([^']+)'""" +
      """\s+KEY\s+([\w\s,]+?)\s+TIME\s+(\w+)\s+VALUE\s+(\w+)""" +
      """\s+BUCKET\s+(\d+)""")
  // the model-monitoring view: score-bucket counts maintained from
  // deltas, AUC verdict computed on the bounded bucket table
  private val RefreshAucRe = pat(
    """REFRESH\s+AUC\s+VIEW\s+'([^']+)'\s+FROM\s+'([^']+)'""" +
      """\s+SCORE\s+(\w+)\s+LABEL\s+(\w+)""")
  // the drift-monitoring twin: the current window's value histogram
  // maintained from deltas, KS verdict against a persisted reference
  // count table computed on the bounded spine. MAX SUPPORT / COARSEN
  // TO expose the spine-guard knobs to the SQL caller — without them
  // an oversized histogram's (correct, loud) refusal had no SQL-side
  // remedy
  private val RefreshKsRe = pat(
    """REFRESH\s+KS\s+VIEW\s+'([^']+)'\s+FROM\s+'([^']+)'""" +
      """\s+VALUE\s+(\w+)\s+AGAINST\s+'([^']+)'""" +
      """(?:\s+MAX\s+SUPPORT\s+(\d+))?(?:\s+COARSEN\s+TO\s+(\d+))?""")

  private def opt(s: String): Option[String] = Option(s)

  /** The maintenance-verb grammar; None = not ours, delegate. */
  def maintenancePlan(sql: String): Option[LogicalPlan] = {
    val o = OptimizeRe.matcher(sql)
    if (o.matches()) {
      val cols = opt(o.group(2)).toSeq.flatMap(
        _.split(",").map(_.trim).filter(_.nonEmpty))
      return Some(OptimizeCommand(o.group(1), cols,
        opt(o.group(3)).map(_.toInt).getOrElse(0)))
    }
    val v = VacuumRe.matcher(sql)
    if (v.matches())
      return Some(VacuumCommand(v.group(1),
        opt(v.group(2)).map(_.toInt).getOrElse(1), v.group(3) != null))
    val c = CloneRe.matcher(sql)
    if (c.matches())
      return Some(CloneCommand(c.group(1), c.group(2),
        opt(c.group(3)).map(_.toInt)))
    val r = RestoreRe.matcher(sql)
    if (r.matches())
      return Some(RestoreCommand(r.group(1), r.group(2).toInt))
    val d = DescribeRe.matcher(sql)
    if (d.matches()) return Some(DescribeDetailCommand(d.group(1)))
    val f = ForgetRe.matcher(sql)
    if (f.matches())
      return Some(ForgetCommand(
        f.group(1).split(",").map(_.trim).filter(_.nonEmpty)
          .map(_.toLong).toSeq,
        f.group(2), f.group(3).toLong, opt(f.group(4)),
        opt(f.group(5)), opt(f.group(6))))
    val e = EraseRe.matcher(sql)
    if (e.matches())
      return Some(EraseCommand(e.group(1).toLong, opt(e.group(2)),
        opt(e.group(3)), opt(e.group(4)), e.group(5) != null))
    val rp = ReplaceRe.matcher(sql)
    if (rp.matches())
      return Some(ReplaceWhereCommand(rp.group(1), rp.group(2),
        rp.group(3)))
    val rv = RefreshRe.matcher(sql)
    if (rv.matches())
      return Some(RefreshViewCommand(rv.group(1), rv.group(2),
        for { d <- opt(rv.group(3)); k <- opt(rv.group(4)) } yield (d, k),
        rv.group(5).split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        rv.group(6), rv.group(7) != null))
    val rs = RefreshSmoothRe.matcher(sql)
    if (rs.matches())
      return Some(RefreshSmoothedViewCommand(rs.group(1), rs.group(2),
        rs.group(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        rs.group(4), rs.group(5), rs.group(6).toLong,
        rs.group(7).toDouble))
    val ra = RefreshAnomalyRe.matcher(sql)
    if (ra.matches())
      return Some(RefreshAnomalyViewCommand(ra.group(1), ra.group(2),
        ra.group(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        ra.group(4), ra.group(5), ra.group(6).toDouble,
        ra.group(7).toDouble))
    val ro = RefreshOhlcRe.matcher(sql)
    if (ro.matches())
      return Some(RefreshOhlcViewCommand(ro.group(1), ro.group(2),
        ro.group(3).split(",").map(_.trim).filter(_.nonEmpty).toSeq,
        ro.group(4), ro.group(5), ro.group(6).toLong))
    val rau = RefreshAucRe.matcher(sql)
    if (rau.matches())
      return Some(RefreshAucViewCommand(rau.group(1), rau.group(2),
        rau.group(3), rau.group(4)))
    val rk = RefreshKsRe.matcher(sql)
    if (rk.matches())
      return Some(RefreshKsViewCommand(rk.group(1), rk.group(2),
        rk.group(3), rk.group(4),
        opt(rk.group(5)).map(_.toInt).getOrElse(1 << 20),
        opt(rk.group(6)).map(_.toInt).getOrElse(0)))
    None
  }

  private[sql] def attr(name: String, dt: DataType): AttributeReference =
    AttributeReference(name, dt, nullable = true)()

  /** The `(<pathCol>, mode, version, files_scanned)` columns every
    * `REFRESH … VIEW` command leads its output with. */
  private[sql] def maintainAttrs(pathCol: String): Seq[Attribute] = Seq(
    attr(pathCol, StringType), attr("mode", StringType),
    attr("version", IntegerType), attr("files_scanned", IntegerType))

  /** The values of [[maintainAttrs]] for one maintain of `path`. */
  private[sql] def maintainValues(path: String, r: MaintainResult)
      : Seq[Any] = Seq(path, r.mode, r.version, r.filesScanned)
}

/** `OPTIMIZE '<t>'` = bin-pack compaction; with `ZORDER BY` = Morton
  * re-layout + stats sidecar ([[graft.ops.ZOrder.clusterTable]]). */
case class OptimizeCommand(path: String, zorderCols: Seq[String],
    partitions: Int) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    GraftSqlParser.attr("path", StringType),
    GraftSqlParser.attr("operation", StringType),
    GraftSqlParser.attr("version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] =
    if (zorderCols.isEmpty)
      Seq(Row(path, "compact", VersionedTable.compact(spark, path)))
    else {
      val parts =
        if (partitions > 0) partitions
        else spark.sessionState.conf.numShufflePartitions
      Seq(Row(path, s"zorder(${zorderCols.mkString(",")})",
        graft.ops.ZOrder.clusterTable(spark, path, zorderCols, parts)))
    }
}

case class VacuumCommand(path: String, retainLast: Int, force: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    GraftSqlParser.attr("path", StringType),
    GraftSqlParser.attr("retained_versions", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    VersionedTable.vacuum(spark, path, retainLast,
      graceMs = if (force) 0L else 15 * 60 * 1000L)
    Seq(Row(path, retainLast))
  }
}

case class CloneCommand(source: String, target: String,
    version: Option[Int]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    GraftSqlParser.attr("source", StringType),
    GraftSqlParser.attr("target", StringType),
    GraftSqlParser.attr("version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(source, target,
      VersionedTable.cloneFrom(spark, source, target, version)))
}

case class RestoreCommand(path: String, toVersion: Int)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    GraftSqlParser.attr("path", StringType),
    GraftSqlParser.attr("restored_from", IntegerType),
    GraftSqlParser.attr("new_version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(path, toVersion,
      VersionedTable.restore(spark, path, toVersion)))
}

/** The reference's one `spark.sql` use, over this engine's format:
  * latest version, file count, bytes, and the version-history depth. */
case class DescribeDetailCommand(path: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    GraftSqlParser.attr("path", StringType),
    GraftSqlParser.attr("latest_version", IntegerType),
    GraftSqlParser.attr("num_files", IntegerType),
    GraftSqlParser.attr("size_bytes", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    val v = VersionedTable.latestVersion(spark, path)
    val files =
      if (v == 0) Seq.empty
      else VersionedTable.files(spark, path, Some(v))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = files.map(f =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
    Seq(Row(path, v, files.size, bytes))
  }
}

/** Takedown from SQL: one statement propagates the ids across every
  * named surface ([[graft.ops.Takedown.forget]] semantics). */
case class ForgetCommand(ids: Seq[Long], keyCol: String, opId: Long,
    basePath: Option[String], bm25Path: Option[String],
    ivfPath: Option[String]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    GraftSqlParser.attr("n_ids", IntegerType),
    GraftSqlParser.attr("base_version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    import spark.implicits._
    val df = ids.toDF(keyCol)
    val baseV = graft.ops.Takedown.forget(spark, df, keyCol, opId,
      basePath, bm25Path, ivfPath)
    Seq(Row(ids.size, baseV.orNull))
  }
}

/** Selective overwrite from SQL: `REPLACE '<t>' WHERE <pred> FROM
  * '<src>'` re-lands exactly the predicate's window of `<t>` with the
  * latest version of the VersionedTable at `<src>` — file-granular
  * copy-on-write ([[VersionedTable.commitReplaceWhere]] semantics:
  * untouched files carry by reference, replacement rows outside the
  * predicate are refused). The predicate is standard Spark SQL. */
case class ReplaceWhereCommand(path: String, predicateSql: String,
    srcPath: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    GraftSqlParser.attr("path", StringType),
    GraftSqlParser.attr("version", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    val replacement = VersionedTable.read(spark, srcPath)
    val v = VersionedTable.commitReplaceWhere(spark, path,
      replacement, org.apache.spark.sql.functions.expr(predicateSql))
    Seq(Row(path, v))
  }
}

/** Materialized-view maintenance from SQL: `REFRESH VIEW '<agg>'
  * FROM '<base>' [JOIN '<dim>' ON <key>] GROUP BY keys VALUE <col>
  * [MINMAX]` creates-or-refreshes the incrementally maintained
  * (join-)aggregate at `<agg>` ([[graft.ops.IncrementalAgg.maintain]]
  * / [[graft.ops.IncrementalAgg.maintainJoined]] semantics: append-
  * only base advances scan delta files only; rewrites and dim commits
  * recompute honestly). Returns which path ran, so operators can see
  * delta vs full from the SQL shell. */
case class RefreshViewCommand(aggPath: String, basePath: String,
    dim: Option[(String, String)], keys: Seq[String], valueCol: String,
    minMax: Boolean) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftSqlParser.maintainAttrs("agg_path")
  override def run(spark: SparkSession): Seq[Row] = {
    val r = dim match {
      case Some((dimPath, joinKey)) =>
        require(!minMax,
          "MINMAX is not supported on JOIN views (maintainJoined " +
            "tracks n_rows/sum_val only)")
        graft.ops.IncrementalAgg.maintainJoined(spark, basePath,
          dimPath, aggPath, joinKey, keys, valueCol)
      case None =>
        graft.ops.IncrementalAgg.maintain(spark, basePath, aggPath,
          keys, valueCol, minMax)
    }
    Seq(Row.fromSeq(GraftSqlParser.maintainValues(aggPath, r)))
  }
}

/** Time-series gold-table maintenance from SQL: `REFRESH SMOOTHED
  * VIEW '<gold>' FROM '<base>' KEY k1[,k2] TIME ts VALUE v STEP <µs>
  * ALPHA <a>` creates-or-extends the LOCF-resample + EWMA view
  * ([[graft.ops.TimeSeriesView.maintainSmoothed]] semantics: O(delta)
  * forward fold from keys-sized state; honest recompute on late data
  * or parameter changes). */
case class RefreshSmoothedViewCommand(goldPath: String,
    basePath: String, keys: Seq[String], tsCol: String, valueCol: String,
    stepUs: Long, alpha: Double) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftSqlParser.maintainAttrs("gold_path")
  override def run(spark: SparkSession): Seq[Row] = {
    val r = graft.ops.TimeSeriesView.maintainSmoothed(spark, basePath,
      goldPath, keys, tsCol, valueCol, stepUs, alpha)
    Seq(Row.fromSeq(GraftSqlParser.maintainValues(goldPath, r)))
  }
}

/** Anomaly-log maintenance from SQL: `REFRESH ANOMALY VIEW '<log>'
  * FROM '<base>' KEY k1[,k2] TIME ts VALUE v ALPHA <a> THRESHOLD <k>`
  * creates-or-extends the EW z-score alert log
  * ([[graft.ops.AnomalyView.maintainAnomalies]] semantics: O(delta)
  * forward fold from keys-sized (μ, σ²) state; honest recompute on
  * late data or parameter changes). */
case class RefreshAnomalyViewCommand(logPath: String,
    basePath: String, keys: Seq[String], tsCol: String, valueCol: String,
    alpha: Double, k: Double) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftSqlParser.maintainAttrs("log_path")
  override def run(spark: SparkSession): Seq[Row] = {
    val r = graft.ops.AnomalyView.maintainAnomalies(spark, basePath,
      logPath, keys, tsCol, valueCol, alpha, k)
    Seq(Row.fromSeq(GraftSqlParser.maintainValues(logPath, r)))
  }
}

/** OHLC-bar maintenance from SQL: `REFRESH OHLC VIEW '<gold>' FROM
  * '<base>' KEY k1[,k2] TIME ts VALUE v BUCKET <µs>` creates-or-merges
  * the downsampling bars ([[graft.ops.OhlcView.maintainOhlc]]
  * semantics: delta bars merge into existing ones, honest recompute on
  * late data or a width change). */
case class RefreshOhlcViewCommand(goldPath: String, basePath: String,
    keys: Seq[String], tsCol: String, valueCol: String, bucketUs: Long)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftSqlParser.maintainAttrs("gold_path")
  override def run(spark: SparkSession): Seq[Row] = {
    val r = graft.ops.OhlcView.maintainOhlc(spark, basePath, goldPath,
      keys, tsCol, valueCol, bucketUs)
    Seq(Row.fromSeq(GraftSqlParser.maintainValues(goldPath, r)))
  }
}

/** Model-monitoring maintenance from SQL: `REFRESH AUC VIEW '<agg>'
  * FROM '<base>' SCORE <col> LABEL <col>` maintains the score-bucket
  * count view from deltas ([[graft.ops.IncrementalAgg.maintain]] with
  * the score as the key and the 0/1 label as the additive value) and
  * returns the refreshed AUC verdict in the same statement — the
  * bucket table is bounded by score quantization, so the post-math is
  * vocabulary-sized ([[graft.ops.MlEval.aucFromCounts]], bit-identical
  * to the one-shot rocAuc). `auc` is null while a class is absent. */
case class RefreshAucViewCommand(aggPath: String, basePath: String,
    scoreCol: String, labelCol: String) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftSqlParser.maintainAttrs("agg_path") ++ Seq(
    GraftSqlParser.attr("auc", DoubleType),
    GraftSqlParser.attr("n_pos", LongType),
    GraftSqlParser.attr("n_neg", LongType))
  override def run(spark: SparkSession): Seq[Row] = {
    val r = graft.ops.IncrementalAgg.maintain(spark, basePath, aggPath,
      Seq(scoreCol), labelCol)
    val v = graft.ops.MlEval.aucFromCounts(
        graft.ops.IncrementalAgg.read(spark, aggPath),
        scoreCol, "sum_val", "n_rows")
      .collect().head
    // getAs[Any], not getAs[Long]: on an EMPTY base table the global
    // aggregate yields one row of NULL sums, and unboxing null to Long
    // would surface as an opaque NPE from the SQL statement — return
    // the honest null-auc/0-count row instead
    def cnt(c: String): Long =
      Option(v.getAs[Any](c)).fold(0L)(_.asInstanceOf[Long])
    Seq(Row.fromSeq(GraftSqlParser.maintainValues(aggPath, r) ++
      Seq(v.getAs[Any]("auc"), cnt("n_pos"), cnt("n_neg"))))
  }
}

/** Drift monitoring from SQL: `REFRESH KS VIEW '<agg>' FROM '<base>'
  * VALUE <col> AGAINST '<ref>' [MAX SUPPORT <n>] [COARSEN TO <n>]`
  * maintains the current window's value histogram from deltas
  * ([[graft.ops.IncrementalAgg.maintain]] keyed on the quantized
  * value — `n_rows` IS the histogram) and returns the two-sample KS
  * verdict against a persisted `(v, n)` reference count table in the
  * same statement. The histogram is additive under appends, so the
  * refresh cost is ∝ the batch while the KS math runs on the
  * quantization-bounded spine ([[graft.ops.DriftMonitor.ksGuarded]]).
  * The optional clauses are the spine-guard knobs with the library
  * defaults (2^20, no coarsening): MAX SUPPORT tightens the refusal,
  * COARSEN TO opts into the bounded lower-edge re-bucketing — the
  * same refusal message and coarsened `[ks, ks_hi]` verdict the
  * library caller gets. `ks`/`ks_hi` are null while either side is
  * empty. */
case class RefreshKsViewCommand(aggPath: String, basePath: String,
    valueCol: String, refPath: String, maxSupport: Int = 1 << 20,
    coarsenTo: Int = 0) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    GraftSqlParser.maintainAttrs("agg_path") ++ Seq(
    GraftSqlParser.attr("n_ref", LongType),
    GraftSqlParser.attr("n_cur", LongType),
    GraftSqlParser.attr("ks_at", LongType),
    GraftSqlParser.attr("ks", DoubleType),
    GraftSqlParser.attr("ks_hi", DoubleType))
  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.col
    val r = graft.ops.IncrementalAgg.maintain(spark, basePath, aggPath,
      Seq(valueCol), valueCol)
    val cur = graft.ops.IncrementalAgg.read(spark, aggPath)
      .select(col(valueCol).cast("long").as("v"),
        col("n_rows").as("n"))
    val ref = VersionedTable.read(spark, refPath)
      .select(col("v").cast("long").as("v"), col("n").cast("long").as("n"))
    // an empty spine yields ZERO rows from the KS math (nothing to
    // rank) — surface the honest null verdict instead of crashing
    graft.ops.DriftMonitor.ksGuarded(ref, cur, maxSupport, coarsenTo)
      .collect().headOption match {
      case Some(v) =>
        def cnt(c: String): Long =
          Option(v.getAs[Any](c)).fold(0L)(_.asInstanceOf[Long])
        Seq(Row.fromSeq(GraftSqlParser.maintainValues(aggPath, r) ++
          Seq(cnt("n_ref"), cnt("n_cur"), v.getAs[Any]("ks_at"),
            v.getAs[Any]("ks"), v.getAs[Any]("ks_hi"))))
      case None =>
        Seq(Row.fromSeq(GraftSqlParser.maintainValues(aggPath, r) ++
          Seq(0L, 0L, null, null, null)))
    }
  }
}

/** Physical erasure from SQL ([[graft.ops.Takedown.erase]]): purge
  * index tombstones and vacuum every surface to its live version. */
case class EraseCommand(opId: Long, basePath: Option[String],
    bm25Path: Option[String], ivfPath: Option[String], force: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    GraftSqlParser.attr("n_surfaces", IntegerType))
  override def run(spark: SparkSession): Seq[Row] = {
    graft.ops.Takedown.erase(spark, opId, basePath, bm25Path, ivfPath,
      graceMs = if (force) 0L else 15 * 60 * 1000L)
    Seq(Row(Seq(basePath, bm25Path, ivfPath).count(_.isDefined)))
  }
}
