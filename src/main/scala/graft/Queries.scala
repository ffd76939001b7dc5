package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.Rounding.dround
import graft.functions.TextFunctions
import graft.operators.{DedupOps, SimilarityOps}
import graft.ops.{ConditionalCounts, DataQuality, DedupLatest, TopNPerGroup}

import graft.Oracle.{RowsOnly, Sql}
import graft.OracleSql._

/** How a catalog query's result is checked. */
sealed trait Oracle

object Oracle {
  /** DuckDB SQL over the same parquet tables. Column aliases match the
    * Spark side exactly (the compare sorts columns by name and hashes
    * values). A `read_parquet('__VERIFY_OUT__/<name>/...')` in the text
    * reads another catalog query's Verify dump, a fixture; Verify
    * substitutes its dump dir. */
  final case class Sql(text: String) extends Oracle

  /** No DuckDB equivalent exists, for the stated reason; the result is
    * checked by its rows alone. */
  final case class RowsOnly(reason: String) extends Oracle
}

/** One catalog entry: the query's name, its builder over a session and
  * a testdata dir, and its oracle. */
final case class Query(name: String,
    build: (SparkSession, String) => DataFrame, oracle: Oracle) {

  /** The catalog queries whose Verify dumps this query's oracle reads. */
  def fixtures: Set[String] = oracle match {
    case Sql(text) =>
      Query.fixtureRead.findAllMatchIn(text).map(_.group(1)).toSet
    case RowsOnly(_) => Set.empty
  }
}

object Query {
  private val fixtureRead = "__VERIFY_OUT__/([^/']+)/".r
}

/** The operator catalog: one [[Query]] per SURVEY.md §2 operator (plus
  * the training-data-pipeline operators), each expressed on the driver's
  * star schema next to its DuckDB oracle. The SQL fragments several
  * oracles share live in [[OracleSql]].
  *
  * Conventions that keep the oracle hash-compare stable:
  *  - every aggregate / computed column is aliased identically here and in
  *    the SQL;
  *  - doubles are rounded (2 decimals for large sums, 4 elsewhere);
  *  - integral aggregates are BIGINT on both sides;
  *  - every result has a deterministic total order.
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // (measured dead end, round 14: hash-repartitioning the documents
  // scan right after the read — guide §2.5's unsplittable-input remedy
  // for the driver's single-row-group parquet files — REGRESSED every
  // pilot query (q110 1.75→2.52 s, q122 1.46→2.08, q71 1.85→2.35,
  // q26 0.34→0.49; only q107 flat): with the 64k AQE coalescing floor
  // the heavy per-row work is already parallel after each pipeline's
  // first NATURAL exchange, so the extra shuffle of raw text plus the
  // lost scan-stage fusion outweigh the single-task scan it replaces.
  // Revisit only if a future testdata layout ships row groups larger
  // than one core can chew AND a pipeline has no early exchange.)

  /** The catalog's load-time check, returning `qs`: names are unique,
    * every fixture an oracle reads is a catalog name, and every
    * rows-only reason is stated. */
  def validate(qs: Seq[Query]): Seq[Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate catalog name(s): ${dups.toSeq.sorted.mkString(", ")}")
    val names = qs.map(_.name).toSet
    for (q <- qs; f <- q.fixtures)
      require(names(f), s"${q.name}'s oracle reads unknown fixture $f")
    for (Query(n, _, RowsOnly(why)) <- qs)
      require(why.trim.nonEmpty, s"$n is rows-only without a reason")
    qs
  }

  private val xxhashSignature =
    "a Spark-specific xxhash64 signature, which DuckDB does not replicate"
  private val noDeflate =
    "a deflate compression ratio; DuckDB does not expose deflate"

  val catalog: Seq[Query] = validate(Seq(
    // ---- aggregation (SURVEY §2.5) ------------------------------------
    Query("q01_global_agg", (s, d) => {
      // A1: global aggregate, no grouping (ref: 02_ingest_smartpool.py:74)
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        dround(sum(col("l_quantity")), 2).as("sum_qty"),
        dround(max(col("l_extendedprice")), 4).as("max_price"),
        dround(min(col("l_discount")), 4).as("min_disc"),
        dround(avg(col("l_tax")), 4).as("avg_tax"))
    }, Sql(
      """SELECT count(*) AS n_rows,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(max(l_extendedprice), 4) AS max_price,
        |  round(min(l_discount), 4) AS min_disc,
        |  round(avg(l_tax), 4) AS avg_tax
        |FROM lineitem""".stripMargin)),

    Query("q02_groupby_stats", (s, d) => {
      // A2/A4: multi-key hash agg w/ count/avg/min/max/sum
      // (ref: 06_gold_electricity_enrichment.py:31-40)
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          count(lit(1)).as("n"),
          dround(sum(col("l_quantity")), 2).as("sum_qty"),
          dround(avg(col("l_extendedprice")), 4).as("avg_price"),
          dround(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          dround(min(col("l_discount")), 4).as("min_disc"),
          dround(max(col("l_tax")), 4).as("max_tax"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, Sql(
      """SELECT l_returnflag, l_linestatus,
        |  count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  round(min(l_discount), 4) AS min_disc,
        |  round(max(l_tax), 4) AS max_tax
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    Query("q03_conditional_agg", (s, d) => {
      // A3: pivot-like sum(when) counts (ref: 04_gold_smartpool.ipynb §3)
      ConditionalCounts(t(s, d, "orders"), Seq("o_orderstatus"),
        "o_orderpriority",
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        extraAggs = Seq(count(lit(1)).as("n")))
        .withColumnsRenamed(Map(
          "n_1-URGENT" -> "n_urgent", "n_2-HIGH" -> "n_high",
          "n_3-MEDIUM" -> "n_medium", "n_4-NOT SPECIFIED" -> "n_notspec",
          "n_5-LOW" -> "n_low"))
        .orderBy(col("o_orderstatus"))
    }, Sql(
      """SELECT o_orderstatus,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
        |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
        |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n_notspec,
        |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  count(*) AS n
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // ---- joins (SURVEY §2.4) ------------------------------------------
    Query("q04_join_left", (s, d) => {
      // J1/J2: left equi join, row level (ref: 04_gold_smartpool.py:22-28)
      val o = t(s, d, "orders")
      val c = t(s, d, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "left")
        .select(o("o_orderkey"), o("o_totalprice"), c("c_name"),
          c("c_mktsegment"))
        .orderBy(col("o_orderkey"))
    }, Sql(
      """SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),

    Query("q05_join_multikey", (s, d) => {
      // J3: multi-key equi join of two aggregates
      // (ref: 06_gold_electricity_enrichment.ipynb §4)
      val li = t(s, d, "lineitem")
      val rev = li.groupBy(to_date(col("l_shipdate")).as("ship_date"),
          col("l_returnflag"))
        .agg(dround(sum(col("l_extendedprice")), 2).as("revenue"))
      val qty = li.groupBy(to_date(col("l_shipdate")).as("ship_date"),
          col("l_returnflag"))
        .agg(dround(sum(col("l_quantity")), 2).as("qty"))
      rev.join(qty, Seq("ship_date", "l_returnflag"), "left")
        .orderBy(col("ship_date"), col("l_returnflag"))
    }, Sql(
      """WITH rev AS (
        |  SELECT CAST(l_shipdate AS DATE) AS ship_date, l_returnflag,
        |    round(sum(l_extendedprice), 2) AS revenue
        |  FROM lineitem GROUP BY 1, 2),
        |qty AS (
        |  SELECT CAST(l_shipdate AS DATE) AS ship_date, l_returnflag,
        |    round(sum(l_quantity), 2) AS qty
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT rev.ship_date, rev.l_returnflag, rev.revenue, qty.qty
        |FROM rev LEFT JOIN qty
        |  ON rev.ship_date = qty.ship_date
        | AND rev.l_returnflag = qty.l_returnflag
        |ORDER BY rev.ship_date, rev.l_returnflag""".stripMargin)),

    Query("q06_join_inner", (s, d) => {
      // J4: inner join as referential-integrity filter
      // (ref: 03_silver_smartpool.ipynb §4)
      val li = t(s, d, "lineitem")
      val p = t(s, d, "part")
      li.join(p, li("l_partkey") === p("p_partkey"), "inner")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          dround(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("p_brand"))
    }, Sql(
      """SELECT p_brand, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin)),

    Query("q07_join_anti", (s, d) => {
      // J5: left-anti orphan check (ref: 03_silver_smartpool.ipynb §6);
      // anti against the P-status subset so the result is non-trivial
      t(s, d, "customer")
        .join(t(s, d, "orders").filter(col("o_orderstatus") === "P")
          .select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }, Sql(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin)),

    Query("q08_join_semi", (s, d) => {
      // J4-as-semi: EXISTS via left_semi (cleaner form of the reference's
      // inner-join RI filter, SURVEY §2.4 J4 note)
      t(s, d, "customer")
        .join(t(s, d, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }, Sql(
      """SELECT c_custkey, c_acctbal FROM customer c
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin)),

    // ---- windows (SURVEY §2.6) ----------------------------------------
    Query("q09_dedup_latest", (s, d) => {
      // W1: latest-wins dedup w/ tie-breaker
      // (ref: 03_silver_smartpool.py:14-20)
      DedupLatest(t(s, d, "events"), Seq("user_id"),
        Seq(col("ts").desc, col("event_id").desc))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("value"), col("ts"))
        .orderBy(col("user_id"))
    }, Sql(
      """SELECT user_id, event_id, event_type, value, ts FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id""".stripMargin)),

    Query("q10_topn_group", (s, d) => {
      // W2: top-N per group via row_number
      // (ref: 06_gold_electricity_enrichment.ipynb §3)
      TopNPerGroup.rowNumber(
        t(s, d, "events").select(col("event_type"), col("event_id"),
          col("value")),
        Seq("event_type"), Seq(col("value").desc, col("event_id")), 3)
        .orderBy(col("event_type"), col("rn"))
    }, Sql(
      """SELECT event_type, event_id, value, rn FROM (
        |  SELECT event_type, event_id, value, CAST(row_number() OVER (
        |    PARTITION BY event_type ORDER BY value DESC, event_id)
        |    AS INTEGER) AS rn
        |  FROM events) WHERE rn <= 3
        |ORDER BY event_type, rn""".stripMargin)),

    Query("q11_dense_rank", (s, d) => {
      // W3: top-N with ties via dense_rank
      // (ref: 06_gold_electricity_enrichment.py:51-54)
      TopNPerGroup.denseRank(
        t(s, d, "part").select(col("p_brand"), col("p_partkey"),
          col("p_retailprice")),
        Seq("p_brand"), Seq(col("p_retailprice").desc), 3)
        .orderBy(col("p_brand"), col("rnk"), col("p_partkey"))
    }, Sql(
      """SELECT p_brand, p_partkey, p_retailprice, rnk FROM (
        |  SELECT p_brand, p_partkey, p_retailprice, CAST(dense_rank() OVER (
        |    PARTITION BY p_brand ORDER BY p_retailprice DESC)
        |    AS INTEGER) AS rnk
        |  FROM part) WHERE rnk <= 3
        |ORDER BY p_brand, rnk, p_partkey""".stripMargin)),

    // ---- sort / limit / set ops (SURVEY §2.7) -------------------------
    Query("q12_toplimit", (s, d) => {
      // O2: orderBy+limit → TakeOrderedAndProject
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
    }, Sql(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    Query("q13_distinct_union", (s, d) => {
      // O4/O5: union + distinct (ref: spark_job.py:51;
      // 03_silver_smartpool.ipynb §6)
      t(s, d, "customer").select(col("c_mktsegment").as("v")).distinct()
        .union(t(s, d, "orders").select(col("o_orderstatus").as("v"))
          .distinct())
        .distinct()
        .orderBy(col("v"))
    }, Sql(
      """SELECT DISTINCT c_mktsegment AS v FROM customer
        |UNION
        |SELECT DISTINCT o_orderstatus AS v FROM orders
        |ORDER BY v""".stripMargin)),

    // ---- filters / projection (SURVEY §2.3) ---------------------------
    Query("q14_filters", (s, d) => {
      // P5/P6/P7: isin + between + isNotNull + coalesce
      // (ref: 03_silver_smartpool.ipynb §4; 07_kafka….ipynb §5)
      t(s, d, "lineitem")
        .filter(col("l_returnflag").isin("A", "R") &&
          col("l_quantity").between(10, 30) &&
          col("l_shipdate").isNotNull &&
          col("l_shipdate") >= lit("1996-01-01").cast("timestamp"))
        .withColumn("disc", coalesce(col("l_discount"), lit(0.0)))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), dround(sum(col("disc")), 4)
          .as("sum_disc"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag, count(*) AS n,
        |  round(sum(coalesce(l_discount, 0.0)), 4) AS sum_disc
        |FROM lineitem
        |WHERE l_returnflag IN ('A', 'R')
        |  AND l_quantity BETWEEN 10 AND 30
        |  AND l_shipdate IS NOT NULL
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    Query("q15_case_map", (s, d) => {
      // CASE chain + map-literal cost model
      // (ref: 04_gold_smartpool.py:41-46; 06_gold….ipynb §5)
      val factor = typedlit(Map(
        "1-URGENT" -> 1.5, "2-HIGH" -> 1.2, "3-MEDIUM" -> 1.0))
      t(s, d, "orders")
        .withColumn("priority_factor",
          coalesce(element_at(factor, col("o_orderpriority")), lit(0.8)))
        .withColumn("weighted_price",
          dround(col("o_totalprice") * col("priority_factor"), 4))
        .select(col("o_orderkey"), col("priority_factor"),
          col("weighted_price"))
        .orderBy(col("o_orderkey"))
    }, Sql(
      """SELECT o_orderkey,
        |  CAST(CASE o_orderpriority
        |    WHEN '1-URGENT' THEN 1.5 WHEN '2-HIGH' THEN 1.2
        |    WHEN '3-MEDIUM' THEN 1.0 ELSE 0.8 END AS DOUBLE)
        |    AS priority_factor,
        |  round(o_totalprice * CAST(CASE o_orderpriority
        |    WHEN '1-URGENT' THEN 1.5 WHEN '2-HIGH' THEN 1.2
        |    WHEN '3-MEDIUM' THEN 1.0 ELSE 0.8 END AS DOUBLE), 4)
        |    AS weighted_price
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    // ---- datetime functions (SURVEY §2.8) -----------------------------
    Query("q16_datetime", (s, d) => {
      // to_date / hour / group (ref: 06_gold_electricity_enrichment.py:29)
      t(s, d, "events")
        .groupBy(to_date(col("ts")).as("event_date"),
          hour(col("ts")).as("event_hour"))
        .agg(count(lit(1)).as("n"), dround(sum(col("value")), 2)
          .as("sum_value"))
        .orderBy(col("event_date"), col("event_hour"))
    }, Sql(
      """SELECT CAST(ts AS DATE) AS event_date,
        |  CAST(EXTRACT(hour FROM ts) AS INTEGER) AS event_hour,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY event_date, event_hour""".stripMargin)),

    Query("q17_window_tumbling", (s, d) => {
      // A6 batch form: 1-minute tumbling window agg
      // (ref: 07_kafka_smartpool_sensors.py:103-132)
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 minute"), col("event_type"))
        .agg(count(lit(1)).as("n_readings"),
          dround(avg(col("value")), 4).as("avg_value"),
          dround(max(col("value")), 4).as("max_value"))
        .select(col("window.start").as("w_start"), col("event_type"),
          col("n_readings"), col("avg_value"), col("max_value"))
        .orderBy(col("w_start"), col("event_type"))
    }, Sql(
      """SELECT time_bucket(INTERVAL '1 minute', ts) AS w_start,
        |  event_type, count(*) AS n_readings,
        |  round(avg(value), 4) AS avg_value,
        |  round(max(value), 4) AS max_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY w_start, event_type""".stripMargin)),

    Query("q18_json_extract", (s, d) => {
      // from_json + getField (ref: 07_kafka_smartpool_sensors.py:87-88)
      t(s, d, "events")
        .withColumn("j", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .groupBy(col("event_type"))
        .agg(sum(col("j.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n_k"))
        .orderBy(col("event_type"))
    }, Sql(
      """SELECT event_type,
        |  CAST(sum(CAST(NULLIF(regexp_extract(props, '[0-9]+'), '')
        |    AS BIGINT)) AS BIGINT) AS sum_k,
        |  count(*) AS n_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    Query("q19_dq_duplicates", (s, d) => {
      // A5: duplicate detection agg (ref: 03_silver_smartpool.ipynb §6)
      DataQuality.duplicateKeys(
        t(s, d, "events").withColumn("event_date", to_date(col("ts"))),
        Seq("user_id", "event_date"))
        .orderBy(col("user_id"), col("event_date"))
    }, Sql(
      """SELECT user_id, CAST(ts AS DATE) AS event_date,
        |  count(*) AS n_dup
        |FROM events
        |GROUP BY 1, 2 HAVING count(*) > 1
        |ORDER BY user_id, event_date""".stripMargin)),

    // ---- text analysis (training-data pipeline) -----------------------
    Query("q20_text_stats", (s, d) => {
      val doc = t(s, d, "documents")
      doc.select(
        col("doc_id"),
        TextFunctions.charCount(col("text")).cast("long").as("n_chars_m"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextFunctions.bpeishCount(col("text")).cast("long").as("n_units"),
        dround(TextFunctions.punctRatio(col("text")), 4).as("punct_ratio"))
        .orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars_m,
        |  CAST(CASE WHEN trim(text) = '' THEN 0
        |    ELSE len(string_split_regex(trim(text), '\s+')) END
        |    AS BIGINT) AS n_tokens,
        |  CAST(len(regexp_extract_all(text,
        |    '[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]')) AS BIGINT) AS n_units,
        |  round(CAST(len(regexp_extract_all(text, '[[:punct:]]'))
        |    AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0), 4)
        |    AS punct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Query("q21_quality_score", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))
    }, Sql(
      """SELECT doc_id,
        |  round(
        |    (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |     * (1.0 - least(
        |         (CAST(len(regexp_extract_all(text, '[[:punct:]]'))
        |            AS DOUBLE)
        |          / greatest(CAST(length(text) AS DOUBLE), 1.0))
        |         * 4.0, 1.0) * 0.5))
        |    * sqrt(
        |        CAST(len(list_distinct(CASE WHEN trim(text) = ''
        |          THEN [] ELSE string_split_regex(
        |            trim(lower(text)), '\s+') END)) AS DOUBLE)
        |        / greatest(CAST(CASE WHEN trim(text) = '' THEN 0
        |          ELSE len(string_split_regex(trim(text), '\s+'))
        |          END AS DOUBLE), 1.0)), 4) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin)),

    Query("q22_langid", (s, d) => {
      // language-ID heuristic scored against the labeled lang column
      t(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextFunctions.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS DOUBLE) AS n_toks,
        |    CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]'))
        |      AS DOUBLE) AS cjk
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, n_toks, cjk,
        |    len(list_filter(toks, x -> x IN ('the','and','of','to','is',
        |      'in','that','with'))) AS s_en,
        |    len(list_filter(toks, x -> x IN ('el','la','los','las','de',
        |      'que','y','en','una'))) AS s_es,
        |    len(list_filter(toks, x -> x IN ('der','die','das','und',
        |      'ist','nicht','mit','ein'))) AS s_de,
        |    len(list_filter(toks, x -> x IN ('le','la','les','des','et',
        |      'est','dans','une','du'))) AS s_fr
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN cjk > n_toks / 2.0 THEN 'zh'
        |    WHEN greatest(s_en, s_es, s_de, s_fr) > 0 THEN
        |      CASE
        |        WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de
        |          THEN 'fr'
        |        WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
        |        WHEN s_en >= s_de THEN 'en'
        |        ELSE 'de' END
        |    ELSE 'und' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin)),

    Query("q23_exact_dedup", (s, d) => {
      DedupOps.exactDedup(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Sql(
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text)
        |ORDER BY doc_id""".stripMargin)),

    Query("q24_minhash_neardups", (s, d) => {
      DedupOps.minhashNearDups(t(s, d, "documents"), "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.2)
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      // LSH pipelines, oracle-checked downstream of the hash: the hash
      // families themselves (64-hash MinHash + xxhash64 banding,
      // SimHash64, seeded hyperplane signs) are not replicable in DuckDB,
      // so Spark dumps them as fixtures (q103/q104/q105) and the
      // q24/q25/q30 oracles recompute the entire candidate-generation +
      // verification pipeline in SQL from the fixture: band/chunk/bucket
      // self-join, pair dedup, and exact jaccard/hamming/cosine
      // verification against the source tables.
      """WITH bands AS (
        |  SELECT * FROM
        |    read_parquet('__VERIFY_OUT__/q104_minhash_band_fixture/*.parquet')),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.band_hash = b.band_hash
        |    AND a.doc_id < b.doc_id),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      END) AS s
        |  FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks FROM documents)),
        |p AS (
        |  SELECT id_a, id_b, CASE
        |    WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0
        |    THEN CAST(1 AS DOUBLE)
        |    ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
        |    END AS j
        |  FROM cand JOIN sh a ON a.doc_id = cand.id_a
        |  JOIN sh b ON b.doc_id = cand.id_b)
        |SELECT id_a, id_b, round(j, 4) AS jaccard
        |FROM p WHERE j >= 0.2 ORDER BY id_a, id_b""".stripMargin)),

    Query("q25_simhash_neardups", (s, d) => {
      DedupOps.simhashNearDups(t(s, d, "documents"), "doc_id", "text",
        maxHamming = 8)
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      """WITH h AS (
        |  SELECT doc_id, simhash FROM
        |    read_parquet('__VERIFY_OUT__/q103_simhash_fixture/*.parquet')),
        |ch AS (
        |  SELECT doc_id, simhash, r.i AS chunk,
        |    (simhash >> (r.i * 16)) & 65535 AS chunk_val
        |  FROM h, (SELECT unnest(range(4)) AS i) r),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    bit_count(xor(a.simhash, b.simhash)) AS hamming
        |  FROM ch a JOIN ch b
        |    ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
        |    AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM cand
        |WHERE hamming <= 8 ORDER BY id_a, id_b""".stripMargin)),

    Query("q26_ngram_jaccard", (s, d) => {
      // exact 3-gram Jaccard over a bounded candidate set (the docs are
      // near-orthogonal word salad, so the report threshold is low)
      // pre-distinct the shingle sets once per doc (not once per pair)
      // and broadcast one side: a plain crossJoin plans a
      // CartesianProduct whose every task re-reads and re-shingles both
      // input partitions — 7.9 s at sf0.1 vs <1 s broadcast
      val doc = t(s, d, "documents").filter(col("doc_id") < 100)
        .withColumn("sh", array_distinct(DedupOps.shingles(col("text"), 3)))
      val a = doc.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = doc.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.crossJoin(broadcast(b)).filter(col("id_a") < col("id_b"))
        .withColumn("jaccard",
          dround(DedupOps.jaccardDistinct(col("sh_a"), col("sh_b")), 4))
        .filter(col("jaccard") >= 0.01)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      END) AS s
        |  FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks FROM documents WHERE doc_id < 100)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(CASE
        |      WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) = 0
        |      THEN CAST(1 AS DOUBLE)
        |      ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
        |      END, 4) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.01
        |ORDER BY id_a, id_b""".stripMargin)),

    Query("q27_fingerprint", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }, RowsOnly(xxhashSignature)),

    // ---- similarity search (training-data pipeline) -------------------
    Query("q28_ann_bruteforce", (s, d) => {
      val emb = t(s, d, "embeddings")
      SimilarityOps.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        "vec_id", k = 5)
        .orderBy(col("query_id"), col("rn"))
    }, Sql(
      """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (
        |  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
        |  FROM embeddings),
        |s AS (
        |  SELECT query_id, neighbor_id,
        |    list_cosine_similarity(qv, cv) AS cs
        |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
        |r AS (
        |  SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim,
        |    CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |      AS INTEGER) AS rn
        |  FROM s)
        |SELECT query_id, neighbor_id, cos_sim, rn FROM r WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin)),

    Query("q29_embedding_norms", (s, d) => {
      t(s, d, "embeddings")
        .select(col("vec_id"),
          dround(SimilarityOps.l2Norm(col("embedding")
            .cast("array<double>")), 4).as("l2_norm"),
          col("label"))
        .orderBy(col("vec_id"))
    }, Sql(
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> x * x))), 4) AS l2_norm,
        |  label
        |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // ---- upsert / merge semantics as a query (K4, SURVEY §2.2) -------
    Query("q31_upsert", (s, d) => {
      // merge: per-customer latest order value upserts a target balance
      // table — updates for existing keys, inserts for new ones
      // (ref: 03_silver_smartpool.ipynb §4 MERGE; non-Delta fallback)
      val target = t(s, d, "customer")
        .filter(col("c_custkey") <= 100)
        .select(col("c_custkey"), dround(col("c_acctbal"), 2).as("bal"))
      val source = t(s, d, "orders")
        .groupBy(col("o_custkey").as("c_custkey"))
        .agg(dround(max(col("o_totalprice")), 2).as("bal"))
      graft.ops.Upsert(target, source, Seq("c_custkey"),
        Seq(col("bal").desc))
        .orderBy(col("c_custkey"))
    }, Sql(
      """WITH target AS (
        |  SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer
        |  WHERE c_custkey <= 100),
        |src AS (
        |  SELECT o_custkey AS c_custkey, round(max(o_totalprice), 2)
        |    AS bal
        |  FROM orders GROUP BY 1)
        |SELECT c_custkey, bal FROM src
        |UNION ALL
        |SELECT t.c_custkey, t.bal FROM target t
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM src s WHERE s.c_custkey = t.c_custkey)
        |ORDER BY c_custkey""".stripMargin)),

    Query("q32_multiformat_ts", (s, d) => {
      // multi-format timestamp parse chain (ref: 07_kafka….ipynb §5):
      // format each event ts three different ways, parse back, output
      // must round-trip to the original value
      val e = t(s, d, "events")
      val asStr = e.withColumn("ts_str",
        when(col("event_id") % 3 === 0,
          concat(date_format(col("ts"),
            "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), lit("Z")))
          .when(col("event_id") % 3 === 1,
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
          .otherwise(concat(date_format(col("ts"),
            "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"), lit("+00:00"))))
      asStr.select(col("event_id"),
        graft.functions.TimeParse.parseTimestamp(col("ts_str"))
          .as("parsed_ts"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id, ts AS parsed_ts FROM events
        |ORDER BY event_id""".stripMargin)),

    Query("q33_approx_distinct", (s, d) => {
      // approx_count_distinct (HLL) vs exact, as a tolerance flag —
      // the sketch is impl-specific, so the envelope must hold for any
      // reasonable implementation: rsd 0.01 here (≤ ~2% typical error)
      // against a 10% bound (default rsd 0.05 breached 5% at sf0.1)
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"),
          approx_count_distinct(col("user_id"), 0.01).as("approx"))
        .select(col("event_type"), col("n_exact"),
          (abs(col("approx") - col("n_exact")).cast("double") /
            col("n_exact") < 0.10).as("approx_ok"))
        .orderBy(col("event_type"))
    }, Sql(
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_exact,
        |  (CAST(abs(approx_count_distinct(user_id)
        |      - count(DISTINCT user_id)) AS DOUBLE)
        |    / count(DISTINCT user_id) < 0.10) AS approx_ok
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    Query("q34_rollup", (s, d) => {
      // rollup with subtotal rows (engine-completeness beyond the
      // reference's flat groupBy)
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          dround(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)
    }, Sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST"""
        .stripMargin)),

    Query("q35_cube", (s, d) => {
      t(s, d, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          dround(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus").asc_nulls_first,
          col("o_orderpriority").asc_nulls_first)
    }, Sql(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
        .stripMargin)),

    Query("q36_session_window", (s, d) => {
      // session windows (gap-based) — streaming-engine completeness
      // beyond the reference's tumbling windows; oracle is a
      // gaps-and-islands SQL formulation
      t(s, d, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n_events"),
          dround(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start"))
    }, Sql(
      """WITH w AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |        IS NULL
        |      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |        >= INTERVAL '10 minutes'
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (
        |  SELECT *, sum(new_s) OVER (
        |    PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM w)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL '10 minutes' AS session_end,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),

    Query("q37_sliding_window", (s, d) => {
      // sliding windows: 10-minute windows every 5 minutes — each event
      // lands in exactly two windows
      t(s, d, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
        .agg(count(lit(1)).as("n"),
          dround(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("w_start"), col("n"),
          col("sum_value"))
        .orderBy(col("w_start"))
    }, Sql(
      """SELECT w_start, count(*) AS n,
        |  round(sum(value), 2) AS sum_value
        |FROM (
        |  SELECT unnest([
        |      time_bucket(INTERVAL '5 minutes', ts),
        |      time_bucket(INTERVAL '5 minutes', ts)
        |        - INTERVAL '5 minutes']) AS w_start,
        |    value
        |  FROM events)
        |GROUP BY w_start
        |ORDER BY w_start""".stripMargin)),

    Query("q38_salted_join", (s, d) => {
      // salted skew join must be result-identical to the plain join
      val events = t(s, d, "events")
      val dim = t(s, d, "events").select(col("user_id")).distinct()
        .withColumn("user_tag",
          concat(lit("u"), col("user_id").cast("string")))
      graft.ops.SaltedJoin(events, dim, Seq("user_id"), salt = 8)
        .groupBy(col("user_id"), col("user_tag"))
        .agg(count(lit(1)).as("n"),
          dround(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("user_id"))
    }, Sql(
      """WITH dim AS (
        |  SELECT DISTINCT user_id,
        |    'u' || CAST(user_id AS VARCHAR) AS user_tag
        |  FROM events)
        |SELECT e.user_id, d.user_tag, count(*) AS n,
        |  round(sum(e.value), 2) AS sum_value
        |FROM events e JOIN dim d ON e.user_id = d.user_id
        |GROUP BY e.user_id, d.user_tag
        |ORDER BY e.user_id""".stripMargin)),

    Query("q39_multimodal_features", (s, d) => {
      // multimodal surface: REAL header sniffing (PNG/WAV/JPEG dims
      // and sample rate parsed from the bytes) + the distributed
      // decode feature path — now FULLY hash-checked: every emitted
      // value is a closed-form function of the asset generator
      // (decode flags, header geometry, red-channel / PCM means,
      // noise byte statistics), recomputed by the oracle from the
      // pixel/sample formulas while the engine decodes actual
      // container bytes. The only masked values are the two that are
      // compressor outputs rather than content functions: n_bytes of
      // DEFLATE/JPEG streams (encoder-sized) and the JPEG channel
      // mean (lossy decode — held to javax.imageio by
      // JpegDecodeSpec). That the JPEG DID decode stays certified:
      // decoded_flag = 1 requires a successful real baseline decode
      val mm = graft.multimodal.MultimodalOps
      val assets = mm.syntheticMixedAssets(s, 300)
      val meta = mm.annotateAssets(assets).select(col("asset_id"),
        col("sniffed_format"), col("sniffed_width"),
        col("sniffed_sample_rate"))
      mm.extractFeatures(assets, dim = 16, partitions = 8)
        .join(meta, Seq("asset_id"))
        .select(col("asset_id"), col("modality"),
          when(col("sniffed_format").isin("png", "jpeg"), lit(null))
            .otherwise(col("n_bytes")).as("n_bytes"),
          element_at(col("feature"), 1).cast("bigint")
            .as("decoded_flag"),
          when(col("sniffed_format") === "jpeg", lit(null))
            .otherwise(dround(
              element_at(col("feature"), 5).cast("double"), 4)
              + lit(0)).as("mean_ch1"),
          col("sniffed_format"), col("sniffed_width"),
          col("sniffed_sample_rate"))
        .orderBy(col("asset_id"))
    }, Sql(
      // q39: the mixed-modality feature surface re-derived from the
      // generator's closed-form pixel/sample/byte formulas (the
      // q127/q128/q161 discipline applied to the whole table): BMP and
      // PNG red-channel means, WAV PCM means, noise byte-histogram
      // mass, container sizes where the container is a content function
      // (BMP geometry, WAV PCM length, raw noise), header dims/rates
      // for every sniffable format. The float32 feature quantization is
      // replayed with an explicit CAST(AS FLOAT) round-trip. Encoder-
      // sized bytes (PNG deflate, JPEG) and the lossy JPEG mean are
      // NULL on both sides by construction.
      """WITH a AS (SELECT CAST(i AS BIGINT) AS i FROM range(0, 300) t(i)),
        |bmp AS (SELECT i, 8 + i % 9 AS w, 6 + i % 7 AS h
        |  FROM a WHERE i % 5 = 0),
        |bmppx AS (
        |  SELECT i, w, h, x, unnest(range(0, h)) AS y
        |  FROM (SELECT i, w, h, unnest(range(0, w)) AS x FROM bmp)),
        |bmpf AS (
        |  SELECT i AS asset_id, 'image' AS modality,
        |    CAST(54 + ((any_value(w) * 3 + 3) // 4 * 4)
        |      * any_value(h) AS BIGINT) AS n_bytes,
        |    CAST(1 AS BIGINT) AS decoded_flag,
        |    round(CAST(CAST(CAST(sum((i*7 + x*3 + y*5) % 256)
        |        AS DOUBLE) / (255.0 * count(*)) AS FLOAT) AS DOUBLE)
        |      * 10000.0) / 10000.0 + 0 AS mean_ch1,
        |    'bmp' AS sniffed_format,
        |    CAST(any_value(w) AS INT) AS sniffed_width,
        |    CAST(NULL AS INT) AS sniffed_sample_rate
        |  FROM bmppx GROUP BY i),
        |png AS (SELECT i, 8 + i % 9 AS w, 6 + i % 7 AS h
        |  FROM a WHERE i % 5 = 1),
        |pngpx AS (
        |  SELECT i, w, h, x, unnest(range(0, h)) AS y
        |  FROM (SELECT i, w, h, unnest(range(0, w)) AS x FROM png)),
        |pngf AS (
        |  SELECT i AS asset_id, 'image' AS modality,
        |    CAST(NULL AS BIGINT) AS n_bytes,
        |    CAST(1 AS BIGINT) AS decoded_flag,
        |    round(CAST(CAST(CAST(sum((i*7 + x*3 + y*5) % 256)
        |        AS DOUBLE) / (255.0 * count(*)) AS FLOAT) AS DOUBLE)
        |      * 10000.0) / 10000.0 + 0 AS mean_ch1,
        |    'png' AS sniffed_format,
        |    CAST(any_value(w) AS INT) AS sniffed_width,
        |    CAST(NULL AS INT) AS sniffed_sample_rate
        |  FROM pngpx GROUP BY i),
        |jpgf AS (
        |  SELECT i AS asset_id, 'image' AS modality,
        |    CAST(NULL AS BIGINT) AS n_bytes,
        |    CAST(1 AS BIGINT) AS decoded_flag,
        |    CAST(NULL AS DOUBLE) AS mean_ch1,
        |    'jpeg' AS sniffed_format,
        |    CAST(16 + i % 17 AS INT) AS sniffed_width,
        |    CAST(NULL AS INT) AS sniffed_sample_rate
        |  FROM a WHERE i % 5 = 2),
        |wav AS (SELECT i, 60 + (i % 50) * 3 AS m
        |  FROM a WHERE i % 5 = 3),
        |wavs AS (SELECT i, m, unnest(range(0, m)) AS t FROM wav),
        |wavf AS (
        |  SELECT i AS asset_id, 'audio' AS modality,
        |    CAST(44 + 2 * any_value(m) AS BIGINT) AS n_bytes,
        |    CAST(1 AS BIGINT) AS decoded_flag,
        |    round(CAST(CAST(CAST(sum((i*37 + t*101) % 65536 - 32768)
        |        AS DOUBLE) / (32768.0 * count(*)) AS FLOAT) AS DOUBLE)
        |      * 10000.0) / 10000.0 + 0 AS mean_ch1,
        |    'wav' AS sniffed_format,
        |    CAST(NULL AS INT) AS sniffed_width,
        |    CAST(8600 AS INT) AS sniffed_sample_rate
        |  FROM wavs GROUP BY i),
        |vidb AS (SELECT i, unnest(range(0, 96)) AS j
        |  FROM a WHERE i % 5 = 4),
        |vidf AS (
        |  SELECT i AS asset_id, 'video' AS modality,
        |    CAST(96 AS BIGINT) AS n_bytes,
        |    CAST(0 AS BIGINT) AS decoded_flag,
        |    round(CAST(CAST(CAST(sum(CASE WHEN (i*31 + j*7) % 251 < 32
        |          THEN 1 ELSE 0 END) AS DOUBLE) / 96.0 AS FLOAT)
        |        AS DOUBLE)
        |      * 10000.0) / 10000.0 + 0 AS mean_ch1,
        |    CAST(NULL AS VARCHAR) AS sniffed_format,
        |    CAST(NULL AS INT) AS sniffed_width,
        |    CAST(NULL AS INT) AS sniffed_sample_rate
        |  FROM vidb GROUP BY i)
        |SELECT * FROM (
        |  SELECT * FROM bmpf UNION ALL SELECT * FROM pngf
        |  UNION ALL SELECT * FROM jpgf UNION ALL SELECT * FROM wavf
        |  UNION ALL SELECT * FROM vidf)
        |ORDER BY asset_id""".stripMargin)),

    Query("q41_string_funcs", (s, d) => {
      // §2.8 string surface: concat_ws, lpad, regexp_replace,
      // date_format (ref: 05_ingest_electricity_csv.py:41,61;
      // 07_kafka….ipynb §5)
      t(s, d, "events")
        .select(col("event_id"),
          concat_ws("-", col("event_type"),
            lpad(col("user_id").cast("string"), 4, "0")).as("tag"),
          regexp_replace(col("props"), "[0-9]+", "N").as("props_norm"),
          date_format(col("ts"), "yyyy-MM-dd HH").as("hour_str"))
        .orderBy(col("event_id"))
    }, Sql(
      """SELECT event_id,
        |  concat_ws('-', event_type,
        |    lpad(CAST(user_id AS VARCHAR), 4, '0')) AS tag,
        |  regexp_replace(props, '[0-9]+', 'N', 'g') AS props_norm,
        |  strftime(ts, '%Y-%m-%d %H') AS hour_str
        |FROM events ORDER BY event_id""".stripMargin)),

    Query("q42_percentiles", (s, d) => {
      // exact interpolated percentiles (median/p90) per group —
      // percentile() here, quantile_cont in the oracle
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          dround(expr("percentile(l_extendedprice, 0.5)"), 4)
            .as("p50_price"),
          dround(expr("percentile(l_extendedprice, 0.9)"), 4)
            .as("p90_price"),
          dround(expr("percentile(l_quantity, 0.5)"), 4).as("p50_qty"))
        .orderBy(col("l_returnflag"))
    }, Sql(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    Query("q43_stats", (s, d) => {
      // statistical aggregates: stddev/variance/correlation/covariance
      t(s, d, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          dround(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
          dround(var_samp(col("l_quantity")), 4).as("var_qty"),
          dround(corr(col("l_quantity"), col("l_extendedprice")), 4)
            .as("corr_qty_price"),
          dround(covar_samp(col("l_discount"), col("l_tax")), 6)
            .as("cov_disc_tax"))
        .orderBy(col("l_linestatus"))
    }, Sql(
      """SELECT l_linestatus,
        |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
        |  round(var_samp(l_quantity), 4) AS var_qty,
        |  round(corr(l_quantity, l_extendedprice), 4)
        |    AS corr_qty_price,
        |  round(covar_samp(l_discount, l_tax), 6) AS cov_disc_tax
        |FROM lineitem GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin)),

    Query("q44_curation", (s, d) => {
      // end-to-end curation pipeline (annotate → exact dedup →
      // near-dup drop → quality gates). The corpus contains planted
      // near-duplicates (24 pairs with jaccard ≥ 0.95 at sf0.01); the
      // oracle replicates the near-dup stage with exact shingle
      // jaccard in SQL — LSH recall at j ≥ 0.95 with 16×4 bands is
      // 1 - 4e-12, so the sets agree
      graft.batch.CurationJob.curate(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        minTokens = 10, minQuality = 0.05,
        nearDupThreshold = 0.95)
        .select(col("doc_id"), col("n_tokens"), col("n_units"),
          col("quality"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH ann AS (
        |  SELECT doc_id, text,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_extract_all(text,
        |      '[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]')) AS BIGINT)
        |      AS n_units,
        |    round(
        |      (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |       * (1.0 - least(
        |           (CAST(len(regexp_extract_all(text, '[[:punct:]]'))
        |              AS DOUBLE)
        |            / greatest(CAST(length(text) AS DOUBLE), 1.0))
        |           * 4.0, 1.0) * 0.5))
        |      * sqrt(
        |          CAST(len(list_distinct(CASE WHEN trim(text) = ''
        |            THEN [] ELSE string_split_regex(
        |              trim(lower(text)), '\s+') END)) AS DOUBLE)
        |          / greatest(CAST(CASE WHEN trim(text) = '' THEN 0
        |            ELSE len(string_split_regex(trim(text), '\s+'))
        |            END AS DOUBLE), 1.0)), 4) AS quality
        |  FROM documents),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      END) AS s
        |  FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks FROM documents)),
        |shu AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM shu a JOIN shu b ON a.g = b.g AND a.doc_id < b.doc_id),
        |neardup_drops AS (
        |  SELECT DISTINCT c.dst AS doc_id FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.src
        |  JOIN sh sb ON sb.doc_id = c.dst
        |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |      / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
        |    >= 0.95)
        |SELECT a.doc_id, a.n_tokens, a.n_units, a.quality
        |FROM ann a JOIN keepers k ON a.doc_id = k.doc_id
        |WHERE a.doc_id NOT IN (SELECT doc_id FROM neardup_drops)
        |  AND a.n_tokens >= 10 AND a.quality >= 0.05
        |ORDER BY a.doc_id""".stripMargin)),

    Query("q45_pivot", (s, d) => {
      // relational pivot via the DataFrame pivot API (the reference
      // hand-rolls this with sum(when) — A3; this is the operator form)
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
            "5-LOW"))
        .agg(count(lit(1)))
        .withColumnsRenamed(Map(
          "1-URGENT" -> "n_urgent", "2-HIGH" -> "n_high",
          "3-MEDIUM" -> "n_medium", "4-NOT SPECIFIED" -> "n_notspec",
          "5-LOW" -> "n_low"))
        .na.fill(0L)
        .orderBy(col("o_orderstatus"))
    }, Sql(
      """SELECT o_orderstatus,
        |  CAST(count(*) FILTER (o_orderpriority = '1-URGENT')
        |    AS BIGINT) AS n_urgent,
        |  CAST(count(*) FILTER (o_orderpriority = '2-HIGH')
        |    AS BIGINT) AS n_high,
        |  CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM')
        |    AS BIGINT) AS n_medium,
        |  CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED')
        |    AS BIGINT) AS n_notspec,
        |  CAST(count(*) FILTER (o_orderpriority = '5-LOW')
        |    AS BIGINT) AS n_low
        |FROM orders GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    Query("q46_token_freq", (s, d) => {
      // generator/explode surface: corpus token frequencies, top 50
      t(s, d, "documents")
        .select(explode(TextFunctions.tokens(lower(col("text"))))
          .as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(50)
    }, Sql(
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(CASE WHEN trim(text) = '' THEN []
        |    ELSE string_split_regex(trim(lower(text)), '\s+') END)
        |    AS token
        |  FROM documents)
        |GROUP BY token
        |ORDER BY n DESC, token LIMIT 50""".stripMargin)),

    Query("q47_collect_set", (s, d) => {
      // array aggregation: sorted distinct set per group, serialized to a
      // scalar (the driver's comparator can't hash array cells)
      t(s, d, "documents")
        .groupBy(col("lang"))
        .agg(array_join(sort_array(collect_set(col("source"))), ",")
            .as("sources"),
          count(lit(1)).as("n_docs"))
        .orderBy(col("lang"))
    }, Sql(
      """SELECT lang,
        |  array_to_string(list_sort(list(DISTINCT source)), ',')
        |    AS sources,
        |  count(*) AS n_docs
        |FROM documents GROUP BY lang
        |ORDER BY lang""".stripMargin)),

    Query("q48_setops", (s, d) => {
      // except/intersect (absent from the reference; engine
      // completeness per SURVEY §2.7 note)
      val withOrders = t(s, d, "orders")
        .select(col("o_custkey").as("c_custkey")).distinct()
      val allCust = t(s, d, "customer").select(col("c_custkey"))
      val noOrders = allCust.except(withOrders)
        .withColumn("kind", lit("no_orders"))
      val both = allCust.intersect(withOrders)
        .withColumn("kind", lit("has_orders"))
      noOrders.union(both).orderBy(col("kind"), col("c_custkey"))
    }, Sql(
      """WITH wo AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
        |ac AS (SELECT c_custkey FROM customer)
        |SELECT c_custkey, 'no_orders' AS kind FROM
        |  (SELECT c_custkey FROM ac EXCEPT SELECT c_custkey FROM wo)
        |UNION ALL
        |SELECT c_custkey, 'has_orders' AS kind FROM
        |  (SELECT c_custkey FROM ac INTERSECT SELECT c_custkey FROM wo)
        |ORDER BY kind, c_custkey""".stripMargin)),

    Query("q40_ann_ivf", (s, d) => {
      // IVF-style cell-probed ANN over a TRAINED codebook (2 Lloyd
      // iterations); oracle replicates the deterministic init, both
      // assign+mean rounds, argmax assignment, nprobe probes, and
      // (cos desc, id) ranking exactly in SQL (q28 is the exhaustive
      // baseline)
      val emb = t(s, d, "embeddings")
      graft.operators.SimilarityOps.ivfTopK(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        "vec_id", k = 5, cells = 16, nprobe = 4, trainIters = 2)
        .orderBy(col("query_id"), col("rn"))
    }, Sql(
      // exact SQL replica of the IVF path: same first-16-by-id codebook,
      // same cosine-argmax cell assignment (ties → smaller cell), same
      // nprobe-cell probing, same (cos desc, id asc) top-k
      lloyd2cb16 + """,
        |asn AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, cb2.cell, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM v CROSS JOIN cb2) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT v.vec_id AS query_id, cb2.cell, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM v CROSS JOIN cb2 WHERE v.vec_id < 10) WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_cosine_similarity(qv.vv, nv.vv) AS cs
        |  FROM probes p JOIN asn a ON p.cell = a.cell
        |  JOIN v qv ON qv.vec_id = p.query_id
        |  JOIN v nv ON nv.vec_id = a.vec_id
        |  WHERE a.vec_id <> p.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cs, CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |    AS INT) AS rn
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim, rn
        |FROM ranked WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin)),

    Query("q30_embedding_neardups", (s, d) => {
      // synthetic embeddings are near-orthogonal (max pair cos ≈ 0.4),
      // so the "near-dup" threshold is set low to exercise the
      // operator; banded LSH (8 tables × 8 bits) keeps buckets small
      // at scale while real near-parallel pairs are recovered with
      // probability 1-(1-p^8)^8 ≈ 99% at cos ≥ 0.95
      SimilarityOps.embeddingNearDups(t(s, d, "embeddings"), "vec_id",
        "embedding", threshold = 0.2, bits = 8, tables = 8)
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      """WITH bk AS (
        |  SELECT * FROM
        |    read_parquet('__VERIFY_OUT__/q105_lsh_bucket_fixture/*.parquet')),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS id_a, y.vec_id AS id_b
        |  FROM bk x JOIN bk y
        |    ON x.tbl = y.tbl AND x.bucket = y.bucket
        |    AND x.vec_id < y.vec_id),
        |v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |s AS (
        |  SELECT id_a, id_b, list_cosine_similarity(va.vv, vb.vv) AS cs
        |  FROM cand JOIN v va ON va.vec_id = cand.id_a
        |  JOIN v vb ON vb.vec_id = cand.id_b)
        |SELECT id_a, id_b, round(cs, 4) AS cos_sim
        |FROM s WHERE cs >= 0.2 ORDER BY id_a, id_b""".stripMargin)),

    // ---- temporal joins (beyond the reference; SURVEY §2.4 note) ------
    Query("q49_asof_join", (s, d) => {
      // event attribution: each click gets the most recent preceding
      // purchase by the same user (inclusive, no tolerance). The right
      // side is deduped to one purchase per (user, ts) so the as-of
      // choice is deterministic on both sides.
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = DedupLatest(
        e.filter(col("event_type") === "purchase"),
        Seq("user_id", "ts"), Seq(col("event_id").desc))
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"),
          dround(col("value"), 4).as("purchase_value"))
      graft.ops.AsofJoin.backward(clicks, purchases,
        Seq("user_id"), Seq("user_id"), "ts", "ts",
        payload = Seq("purchase_id", "purchase_value"),
        matchedTimeAs = Some("purchase_ts"))
        .orderBy(col("event_id"))
    }, Sql(
      // DuckDB has native ASOF JOIN — ideal oracle for our union+window
      // formulation (inclusive backward match, right side pre-deduped).
      """WITH purchases AS (
        |  SELECT user_id, ts, event_id AS purchase_id,
        |    round(value, 4) AS purchase_value
        |  FROM (SELECT *, row_number() OVER (
        |      PARTITION BY user_id, ts ORDER BY event_id DESC) AS drn
        |    FROM events WHERE event_type = 'purchase')
        |  WHERE drn = 1),
        |clicks AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts,
        |  p.purchase_id, p.purchase_value, p.ts AS purchase_ts
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin)),

    Query("q79_asof_forward", (s, d) => {
      // forward attribution: each click gets the EARLIEST following
      // purchase by the same user (time-to-next-purchase); mirror of
      // q49's backward as-of
      val e = t(s, d, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = DedupLatest(
        e.filter(col("event_type") === "purchase"),
        Seq("user_id", "ts"), Seq(col("event_id").desc))
        .select(col("user_id"), col("ts"),
          col("event_id").as("purchase_id"),
          dround(col("value"), 4).as("purchase_value"))
      graft.ops.AsofJoin.forward(clicks, purchases,
        Seq("user_id"), Seq("user_id"), "ts", "ts",
        payload = Seq("purchase_id", "purchase_value"),
        matchedTimeAs = Some("purchase_ts"))
        .orderBy(col("event_id"))
    }, Sql(
      """WITH purchases AS (
        |  SELECT user_id, ts, event_id AS purchase_id,
        |    round(value, 4) AS purchase_value
        |  FROM (SELECT *, row_number() OVER (
        |      PARTITION BY user_id, ts ORDER BY event_id DESC) AS drn
        |    FROM events WHERE event_type = 'purchase')
        |  WHERE drn = 1),
        |clicks AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, c.ts,
        |  p.purchase_id, p.purchase_value, p.ts AS purchase_ts
        |FROM clicks c ASOF LEFT JOIN purchases p
        |  ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY c.event_id""".stripMargin)),

    Query("q50_range_join", (s, d) => {
      // point-in-interval join via bucketed equi-join (no nested loop):
      // lineitem shipments falling in each order's 30-day window
      val ranges = t(s, d, "orders").filter(col("o_orderkey") < 1000)
        .select(col("o_orderkey"), col("o_orderdate").as("lo"),
          (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("hi"))
      val points = t(s, d, "lineitem")
        .select(col("l_shipdate"), col("l_quantity"))
      graft.ops.RangeJoin.pointInInterval(
        points, "l_shipdate", ranges, "lo", "hi",
        bucketWidthSeconds = 30L * 86400)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_ship"),
          dround(sum(col("l_quantity")), 2).as("sum_qty"))
        .orderBy(col("o_orderkey"))
    }, Sql(
      """WITH ranges AS (
        |  SELECT o_orderkey, o_orderdate AS lo,
        |    o_orderdate + INTERVAL 30 DAY AS hi
        |  FROM orders WHERE o_orderkey < 1000)
        |SELECT o_orderkey, count(*) AS n_ship,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem JOIN ranges
        |  ON l_shipdate >= lo AND l_shipdate <= hi
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)),

    // ---- deterministic sampling (training-data curation) --------------
    Query("q51_det_sample", (s, d) => {
      // stratified hash sample: different keep-rates per order status —
      // reproducible across engines/partitionings (md5-keyed, no RNG)
      graft.ops.DeterministicSample.stratifiedByHash(
        t(s, d, "orders"), col("o_orderkey"), col("o_orderstatus"),
        Map("O" -> 32, "F" -> 16, "P" -> 128))
        .select(col("o_orderkey"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }, Sql(
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) <
        |  (CASE o_orderstatus WHEN 'O' THEN '20' WHEN 'F' THEN '10'
        |    WHEN 'P' THEN '80' ELSE '00' END)
        |ORDER BY o_orderkey""".stripMargin)),

    Query("q58_group_sample", (s, d) => {
      // deterministic k-per-group sample (reservoir without the RNG):
      // 5 smallest-md5 events per event_type
      graft.ops.DeterministicSample.perGroupTopK(
        t(s, d, "events"), Seq("event_type"), col("event_id"), k = 5)
        .select(col("event_type"), col("event_id"), col("rn"))
        .orderBy(col("event_type"), col("rn"))
    }, Sql(
      """SELECT event_type, event_id, rn FROM (
        |  SELECT event_type, event_id, CAST(row_number() OVER (
        |    PARTITION BY event_type
        |    ORDER BY md5(CAST(event_id AS VARCHAR))) AS INTEGER) AS rn
        |  FROM events) WHERE rn <= 5
        |ORDER BY event_type, rn""".stripMargin)),

    // ---- text analysis extensions -------------------------------------
    Query("q52_tfidf", (s, d) => {
      // top-3 characteristic terms per document by smoothed TF-IDF
      graft.operators.TfIdf.topTerms(
        t(s, d, "documents"), "doc_id", "text", k = 3)
        .select(col("doc_id"), col("token"), col("tf"), col("tfidf"),
          col("rn"))
        .orderBy(col("doc_id"), col("rn"))
    }, Sql(
      """WITH toks AS (
        |  SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []
        |    ELSE string_split_regex(trim(lower(text)), '\s+') END)
        |    AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, count(*) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token, tf,
        |    round(tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 4)
        |      AS tfidf
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n),
        |ranked AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, token)
        |    AS INTEGER) AS rn
        |  FROM scored)
        |SELECT doc_id, token, tf, tfidf, rn FROM ranked
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin)),

    Query("q53_text_scrub", (s, d) => {
      // URL/email scrubbing + whitespace normalization; the corpus is
      // clean, so deterministic noise is injected first to make the
      // scrub observable, then removed again
      val noisy = t(s, d, "documents").withColumn("noisy",
        concat(col("text"), lit(" see https://ex.com/d/"),
          col("doc_id").cast("string"), lit(" or  mail user"),
          col("doc_id").cast("string"), lit("@ex.com .")))
      noisy.select(col("doc_id"),
        TextFunctions.tokenCount(col("noisy")).cast("long")
          .as("n_tokens_noisy"),
        length(TextFunctions.normalizeWhitespace(
          TextFunctions.scrubEmails(TextFunctions.scrubUrls(
            col("noisy"))))).cast("long").as("len_clean"),
        regexp_count(col("noisy"), lit(TextFunctions.UrlPattern))
          .cast("long").as("n_urls"),
        regexp_count(col("noisy"), lit(TextFunctions.EmailPattern))
          .cast("long").as("n_emails"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH noisy AS (
        |  SELECT doc_id, text || ' see https://ex.com/d/'
        |    || CAST(doc_id AS VARCHAR) || ' or  mail user'
        |    || CAST(doc_id AS VARCHAR) || '@ex.com .' AS noisy
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(CASE WHEN trim(noisy) = '' THEN 0
        |    ELSE len(string_split_regex(trim(noisy), '\s+')) END
        |    AS BIGINT) AS n_tokens_noisy,
        |  CAST(length(trim(regexp_replace(regexp_replace(regexp_replace(
        |    noisy,
        |    'https?://[^\s]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g'),
        |    '\s+', ' ', 'g'))) AS BIGINT) AS len_clean,
        |  CAST(len(regexp_extract_all(noisy, 'https?://[^\s]+'))
        |    AS BIGINT) AS n_urls,
        |  CAST(len(regexp_extract_all(noisy,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    AS BIGINT) AS n_emails
        |FROM noisy ORDER BY doc_id""".stripMargin)),

    // ---- analytic window functions (beyond the reference, §2.6 note) --
    Query("q55_lag_lead", (s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events").select(col("user_id"), col("event_id"),
        dround(col("value"), 4).as("value"),
        dround(lag(col("value"), 1).over(w), 4).as("prev_value"),
        dround(lead(col("value"), 1).over(w), 4).as("next_value"),
        ntile(4).over(w).as("quartile"))
        .orderBy(col("user_id"), col("event_id"))
    }, Sql(
      """SELECT user_id, event_id, round(value, 4) AS value,
        |  round(lag(value, 1) OVER w, 4) AS prev_value,
        |  round(lead(value, 1) OVER w, 4) AS next_value,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, event_id""".stripMargin)),

    Query("q57_window_frames", (s, d) => {
      // explicit rowsBetween frames: running sum + centered moving avg
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, d, "events").select(col("user_id"), col("event_id"),
        dround(sum(col("value")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
          .as("running_sum"),
        dround(avg(col("value")).over(w.rowsBetween(-2, 0)), 4)
          .as("moving_avg3"))
        .orderBy(col("user_id"), col("event_id"))
    }, Sql(
      """SELECT user_id, event_id,
        |  round(sum(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
        |    AS running_sum,
        |  round(avg(value) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
        |    AS moving_avg3
        |FROM events ORDER BY user_id, event_id""".stripMargin)),

    // ---- SQL entry point: GROUPING SETS (§2.10 SQL surface) -----------
    Query("q56_grouping_sets", (s, d) => {
      // pre-aggregate to the (flag, status) grid BEFORE the grouping
      // sets: Expand otherwise multiplies every fact row by the number
      // of sets (3× the scan bytes through the aggregate at any scale);
      // over the tiny grid it expands 6 rows instead of the corpus
      graft.sql.GraftSql.sql(s, d,
        """WITH base AS (
          |  SELECT l_returnflag, l_linestatus, count(*) AS bn,
          |    sum(l_quantity) AS bq
          |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
          |SELECT l_returnflag, l_linestatus, sum(bn) AS n,
          |  round(sum(bq), 2) AS sum_qty
          |FROM base
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY l_returnflag ASC NULLS FIRST,
          |  l_linestatus ASC NULLS FIRST, n""".stripMargin)
    }, Sql(
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |  l_linestatus ASC NULLS FIRST, n""".stripMargin)),

    // ---- bucketed co-located join (shuffle paid once at write) --------
    Query("q54_bucketed_join", (s, d) => {
      import graft.ops.BucketedJoin
      // table names keyed to the sf dir: the one-time layout write
      // happens on the first run, every later run (Bench's warm
      // iteration, production re-queries) reads the co-located buckets
      val sfx = java.lang.Integer.toHexString(d.hashCode)
      val li = BucketedJoin.ensureBucketed(
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_quantity")),
        s"graft_li_bucketed_$sfx", buckets = 8, key = "l_orderkey")
      val ord = BucketedJoin.ensureBucketed(
        t(s, d, "orders").select(col("o_orderkey"), col("o_totalprice")),
        s"graft_ord_bucketed_$sfx", buckets = 8, key = "o_orderkey")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          dround(sum(col("l_quantity")), 2).as("sum_qty"),
          dround(max(col("o_totalprice")), 4).as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }, Sql(
      // oracle for the bucketed join is the plain join — bucketing must
      // not change results, only the physical plan
      """SELECT o_orderkey, count(*) AS n_items,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(max(o_totalprice), 4) AS o_totalprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)),

    // ---- dedup clustering (transitive closure of near-dup pairs) ------
    Query("q59_dedup_clusters", (s, d) => {
      // near-dup pairs at 0.95 (q44-proven recall at these LSH params)
      // → connected components → every doc labeled with its cluster
      // min. Consumes the session cluster-map ARTIFACT: the closure is
      // computed once and q113/q131 (same corpus, same params) read it
      // back — the pipeline-level shape; see DedupClusters.clusterMap
      // for the documented per-query-isolation exception
      graft.operators.DedupClusters.clusterMap(
        t(s, d, "documents"), "doc_id", "text", threshold = 0.95)
        .withColumn("cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
        .orderBy(col("doc_id"))
    }, Sql(
      // exact-jaccard edge set (same formulation q44 hash-matched) +
      // transitive closure — shared scale-safe CTEs (inverted-index
      // candidates, unrolled label prop with fixpoint guard)
      closureCtes() + """
        |SELECT doc_id, cluster_id,
        |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        |FROM lab ORDER BY doc_id""".stripMargin)),

    // ---- embedding int8 quantization ----------------------------------
    Query("q60_embedding_quantize", (s, d) => {
      graft.operators.Quantization.summary(
        t(s, d, "embeddings"), "vec_id", "embedding")
        .orderBy(col("vec_id"))
    }, Sql(
      // floor(x/s + 0.5) on both sides — engine-identical tie-break
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x
        |  FROM embeddings),
        |s AS (SELECT vec_id, x,
        |  greatest(list_max(list_transform(x, a -> abs(a))), 1e-12)
        |    / 127.0 AS sc FROM v)
        |SELECT vec_id, round(sc, 6) AS scale,
        |  round(list_sum(list_transform(x, a ->
        |    pow(a - least(greatest(floor(a / sc + 0.5), -127.0), 127.0)
        |      * sc, 2))) / len(x), 8) AS mse
        |FROM s ORDER BY vec_id""".stripMargin)),

    // ---- z-order clustering (multi-column data skipping) --------------
    Query("q61_zorder_code", (s, d) => {
      // the Morton code itself is the verifiable part of the layout op;
      // the file-skipping effect of ZOrder.layout is pinned in ZOrderSpec
      t(s, d, "orders").select(col("o_orderkey"),
        graft.ops.ZOrder.zvalue(
          Seq(col("o_custkey") % 256, col("o_orderkey") % 256), 8)
          .as("z"))
        .orderBy(col("o_orderkey"))
    }, Sql {
      // bit-interleave generated to mirror ZOrder.zvalue exactly
      val terms = for {
        (c, i) <- Seq("(o_custkey % 256)", "(o_orderkey % 256)").zipWithIndex
        b <- 0 until 8
      } yield s"((($c >> $b) & 1) << ${b * 2 + i})"
      s"""SELECT o_orderkey,
         |  CAST(${terms.mkString(" | ")} AS BIGINT) AS z
         |FROM orders ORDER BY o_orderkey""".stripMargin
    }),

    // ---- training-sequence layout: chunking + packing -----------------
    Query("q62_chunking", (s, d) => {
      // 64-token chunks with 16-token overlap (step 48); narrow explode
      graft.operators.Chunking.chunkTokens(
        t(s, d, "documents"), "doc_id", "text",
        chunkSize = 64, overlap = 16)
        .orderBy(col("doc_id"), col("chunk_idx"))
    }, Sql(
      """WITH tk AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |    ELSE string_split_regex(trim(text), '\s+') END AS toks
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, len(toks), 48)) AS s
        |  FROM tk WHERE len(toks) > 0)
        |SELECT doc_id, CAST(s // 48 AS INT) AS chunk_idx,
        |  array_to_string(list_slice(toks, s + 1, s + 64), ' ')
        |    AS chunk_text,
        |  CAST(len(list_slice(toks, s + 1, s + 64)) AS INT)
        |    AS n_chunk_tokens
        |FROM st ORDER BY doc_id, chunk_idx""".stripMargin)),

    Query("q63_sequence_pack", (s, d) => {
      // concat-then-cut packing into 512-token training sequences,
      // 8 independent shards (per-shard cumsum — no global ordering).
      // Lengths are BPE token counts under the 5-merge tokenizer
      // (q111's vocab), not whitespace words — the budget a training
      // run actually consumes; counting is a broadcast word→vocab
      // join, packing shuffles (id, n_tokens) rows only
      graft.operators.Chunking.packCounts(
        graft.operators.Bpe.encodeCounts(
          t(s, d, "documents"), "doc_id", "text", merges = 5),
        "doc_id", budget = 512, shards = 8)
        .orderBy(col("doc_id"))
    }, Sql(bpeCountChain(5) + """,
        |t AS (
        |  SELECT doc_id, n_tokens, CAST(doc_id % 8 AS INT) AS shard
        |  FROM nt),
        |o AS (
        |  SELECT *, CAST(COALESCE(sum(n_tokens) OVER (
        |    PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS stream_offset
        |  FROM t)
        |SELECT doc_id, n_tokens, shard, stream_offset,
        |  CAST(shard AS BIGINT) * 1099511627776
        |    + CAST(floor(stream_offset / 512) AS BIGINT) AS pack_id,
        |  CAST(stream_offset % 512 AS BIGINT) AS offset_in_pack,
        |  (stream_offset % 512) + n_tokens > 512 AS spans_boundary
        |FROM o ORDER BY doc_id""".stripMargin)),

    // ---- benchmark decontamination ------------------------------------
    Query("q65_decontam", (s, d) => {
      // every 97th document plays the quarantined eval set; the rest is
      // the training corpus probed against its broadcast n-gram hashes
      val docs = t(s, d, "documents")
      graft.operators.Decontam.contaminationReport(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      END) AS s
        |  FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks FROM documents)),
        |bench AS (
        |  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        |corpus AS (
        |  SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0),
        |ov AS (
        |  SELECT doc_id, count(*) AS n_overlap
        |  FROM corpus JOIN bench USING (g) GROUP BY doc_id),
        |tot AS (
        |  SELECT doc_id, CAST(len(s) AS BIGINT) AS n_ngrams
        |  FROM sh WHERE doc_id % 97 <> 0)
        |SELECT t.doc_id, t.n_ngrams,
        |  CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  round(CAST(COALESCE(o.n_overlap, 0) AS DOUBLE)
        |    / greatest(t.n_ngrams, 1), 4) AS contamination_ratio,
        |  COALESCE(o.n_overlap, 0) > 0 AS contaminated
        |FROM tot t LEFT JOIN ov o USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- repetition signals (Gopher-style quality filter) -------------
    Query("q66_repetition", (s, d) => {
      import graft.functions.TextFunctions.{dupNgramFrac, tokenCount}
      t(s, d, "documents").select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        dround(dupNgramFrac(col("text"), 1), 4).as("dup_unigram_frac"),
        dround(dupNgramFrac(col("text"), 2), 4).as("dup_bigram_frac"),
        dround(dupNgramFrac(col("text"), 3), 4).as("dup_trigram_frac"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH tk AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tokens,
        |    CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id, n_tokens, toks AS g1,
        |    CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) END AS g2,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      END AS g3
        |  FROM tk)
        |SELECT doc_id, n_tokens,
        |  round(CASE WHEN len(g1) > 0 THEN
        |    CAST(len(g1) - len(list_distinct(g1)) AS DOUBLE) / len(g1)
        |    ELSE 0.0 END, 4) AS dup_unigram_frac,
        |  round(CASE WHEN len(g2) > 0 THEN
        |    CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
        |    ELSE 0.0 END, 4) AS dup_bigram_frac,
        |  round(CASE WHEN len(g3) > 0 THEN
        |    CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
        |    ELSE 0.0 END, 4) AS dup_trigram_frac
        |FROM ng ORDER BY doc_id""".stripMargin)),

    // ---- SCD2 dimension history from an event log ---------------------
    Query("q67_scd2", (s, d) => {
      graft.ops.Scd2.fromEventLog(
        t(s, d, "events"), "user_id", "event_type", "ts", "event_id")
        .orderBy(col("user_id"), col("valid_from"), col("event_type"))
    }, Sql(
      """WITH o AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |      OR lag(event_type) OVER w <> event_type
        |      THEN 1 ELSE 0 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |r AS (
        |  SELECT *, sum(chg) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM o),
        |c AS (
        |  SELECT user_id, run, min(event_type) AS event_type,
        |    min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
        |  FROM r GROUP BY user_id, run)
        |SELECT user_id, event_type, valid_from,
        |  lead(valid_from) OVER v AS valid_to, n_events,
        |  lead(valid_from) OVER v IS NULL AS is_current
        |FROM c
        |WINDOW v AS (PARTITION BY user_id ORDER BY valid_from, run)
        |ORDER BY user_id, valid_from, event_type""".stripMargin)),

    // ---- static corpus mixing (token-share rebalancing) ---------------
    Query("q68_corpus_mix", (s, d) => {
      // rebalance four sources to a 40/30/20/10 token split; the rest
      // of the corpus is out of scope for this mixture
      graft.ops.CorpusMix.mixToTokenTargets(
        t(s, d, "documents"), "doc_id", "text", "source",
        Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH tk AS (
        |  SELECT doc_id, source,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS DOUBLE) AS ntok
        |  FROM documents),
        |tgt AS (SELECT * FROM (VALUES
        |  ('src0', CAST(0.4 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
        |  ('src2', CAST(0.2 AS DOUBLE)), ('src3', CAST(0.1 AS DOUBLE)))
        |  t(source, share)),
        |st AS (
        |  SELECT source, sum(ntok) AS toks, min(share) AS share
        |  FROM tk JOIN tgt USING (source) GROUP BY source),
        |f AS (SELECT min(toks / share) AS tt FROM st),
        |r AS (
        |  SELECT source,
        |    least(CAST(1 AS DOUBLE), share * tt / toks) AS rate
        |  FROM st, f),
        |rt AS (
        |  SELECT source, CASE WHEN rate >= 1.0 THEN 'zzzz'
        |    ELSE printf('%04x', CAST(floor(rate * 65536) AS BIGINT))
        |    END AS thresh
        |  FROM r)
        |SELECT tk.doc_id, tk.source, CAST(tk.ntok AS BIGINT) AS n_tokens
        |FROM tk JOIN rt USING (source)
        |WHERE substr(md5(CAST(tk.doc_id AS VARCHAR)), 1, 4) < thresh
        |ORDER BY doc_id""".stripMargin)),

    // ---- time-range rolling window ------------------------------------
    Query("q69_rolling_time", (s, d) => {
      // trailing 10-minute per-user metrics via a RANGE frame over
      // exact epoch microseconds (integer range frames are
      // engine-portable where timestamp INTERVAL frames are not)
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-600000000L, 0L)
      t(s, d, "events").select(col("user_id"), col("event_id"),
        count(lit(1)).over(w).as("n_10m"),
        dround(sum(col("value")).over(w), 2).as("sum_10m"))
        .orderBy(col("user_id"), col("event_id"))
    }, Sql(
      """SELECT user_id, event_id,
        |  CAST(count(*) OVER w AS BIGINT) AS n_10m,
        |  round(sum(value) OVER w, 2) AS sum_10m
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, event_id""".stripMargin)),

    // ---- top n-gram share (boilerplate detector) ----------------------
    Query("q70_top_ngram", (s, d) => {
      graft.operators.TextProfile.topNgramShare(
        t(s, d, "documents"), "doc_id", "text", n = 2)
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH tk AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |    ELSE string_split_regex(trim(lower(text)), '\s+') END
        |    AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) < 2
        |    THEN [array_to_string(toks, ' ')]
        |    ELSE list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1]) END) AS gram
        |  FROM tk),
        |c AS (
        |  SELECT doc_id, gram, count(*) AS c
        |  FROM g GROUP BY doc_id, gram)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
        |  CAST(max(c) AS BIGINT) AS top_ngram_count,
        |  round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS top_ngram_share
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // ---- curation v2: + decontamination + repetition gates ------------
    Query("q71_curation_v2", (s, d) => {
      val all = t(s, d, "documents")
      graft.batch.CurationJob.curateV2(
        all.filter(col("doc_id") % 97 =!= 0), "doc_id", "text",
        bench = all.filter(col("doc_id") % 97 === 0))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH corpus AS (
        |  SELECT * FROM documents WHERE doc_id % 97 <> 0),
        |benchd AS (
        |  SELECT * FROM documents WHERE doc_id % 97 = 0),
        |ann AS (
        |  SELECT doc_id, text,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tokens,
        |    CAST(len(regexp_extract_all(text,
        |      '[\p{L}]+|[\p{N}]+|[^\s\p{L}\p{N}]')) AS BIGINT)
        |      AS n_units,
        |    round(
        |      (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |       * (1.0 - least(
        |           (CAST(len(regexp_extract_all(text, '[[:punct:]]'))
        |              AS DOUBLE)
        |            / greatest(CAST(length(text) AS DOUBLE), 1.0))
        |           * 4.0, 1.0) * 0.5))
        |      * sqrt(
        |          CAST(len(list_distinct(CASE WHEN trim(text) = ''
        |            THEN [] ELSE string_split_regex(
        |              trim(lower(text)), '\s+') END)) AS DOUBLE)
        |          / greatest(CAST(CASE WHEN trim(text) = '' THEN 0
        |            ELSE len(string_split_regex(trim(text), '\s+'))
        |            END AS DOUBLE), 1.0)), 4) AS quality
        |  FROM corpus),
        |keepers AS (
        |  SELECT min(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
        |sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      END) AS s
        |  FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks FROM corpus)),
        |shb AS (
        |  SELECT DISTINCT unnest(list_distinct(CASE WHEN len(toks) < 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      END)) AS g
        |  FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks FROM benchd)),
        |shu AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
        |  FROM shu a JOIN shu b ON a.g = b.g AND a.doc_id < b.doc_id),
        |neardup_drops AS (
        |  SELECT DISTINCT c.dst AS doc_id FROM cand c
        |  JOIN sh sa ON sa.doc_id = c.src
        |  JOIN sh sb ON sb.doc_id = c.dst
        |  WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
        |      / (len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)))
        |    >= 0.95),
        |ov AS (
        |  SELECT cs.doc_id, count(*) AS n_overlap
        |  FROM (SELECT doc_id, unnest(s) AS g FROM sh) cs
        |  JOIN shb USING (g) GROUP BY cs.doc_id),
        |contam_drops AS (
        |  SELECT sh.doc_id FROM sh LEFT JOIN ov USING (doc_id)
        |  WHERE round(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE)
        |    / greatest(len(sh.s), 1), 4) > 0.05),
        |rep AS (
        |  SELECT doc_id,
        |    round(CASE WHEN len(g3) > 0 THEN
        |      CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
        |        / len(g3) ELSE 0.0 END, 4) AS dup_trigram_frac
        |  FROM (SELECT doc_id, CASE WHEN len(toks) < 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      END AS g3
        |    FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |        ELSE string_split_regex(trim(lower(text)), '\s+') END
        |        AS toks FROM corpus)))
        |SELECT a.doc_id, a.n_tokens, a.n_units, a.quality,
        |  r.dup_trigram_frac
        |FROM ann a
        |JOIN keepers k ON a.doc_id = k.doc_id
        |JOIN rep r ON a.doc_id = r.doc_id
        |WHERE a.doc_id NOT IN (SELECT doc_id FROM neardup_drops)
        |  AND a.doc_id NOT IN (SELECT doc_id FROM contam_drops)
        |  AND a.n_tokens >= 10 AND a.quality >= 0.05
        |  AND r.dup_trigram_frac <= 0.2
        |ORDER BY a.doc_id""".stripMargin)),

    // ---- bloom-filter join pruning ------------------------------------
    Query("q72_bloom_join", (s, d) => {
      // dim keys → broadcast bloom sketch → fact pruned AT THE SCAN,
      // before the join exchange; the join keeps the result exact
      val urgent = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      graft.operators.BloomJoin.join(
          t(s, d, "lineitem"), "l_orderkey", urgent, "o_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          dround(sum(col("l_extendedprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }, Sql(
      // bloom pruning is transparent to the result: the oracle is the
      // plain inner join the operator must be indistinguishable from
      """SELECT o_orderstatus, count(*) AS n_items,
        |  round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ---- generic bounded-heap top-k per group -------------------------
    Query("q73_topk_per_group", (s, d) => {
      // the same O(k)-state aggregate that ranks the ANN paths, on a
      // relational group-by: top-3 orders by price per priority with
      // map-side partials (groups×k rows cross the exchange, not the
      // full orders set as a window shuffle would)
      graft.functions.TopKByScore.explodeTopK(t(s, d, "orders"),
          Seq("o_orderpriority"), col("o_totalprice"),
          col("o_orderkey"), 3,
          outId = "o_orderkey", outScore = "o_totalprice")
        .select(col("o_orderpriority"), col("o_orderkey"),
          dround(col("o_totalprice"), 2).as("o_totalprice"), col("rn"))
        .orderBy(col("o_orderpriority"), col("rn"))
    }, Sql(
      """SELECT o_orderpriority, o_orderkey,
        |  round(o_totalprice, 2) AS o_totalprice, rn
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin)),

    // ---- deterministic stratified split -------------------------------
    Query("q74_stratified_split", (s, d) => {
      // pure-function-of-(seed,id) assignment — stable across runs,
      // partitionings, and engines (oracle derives the SAME split)
      graft.ops.Splits.assign(t(s, d, "documents"), col("doc_id"), "graft")
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("split"))
    }, Sql(
      """WITH b AS (
        |  SELECT source,
        |    (position(substring(md5('graft:' || CAST(doc_id AS VARCHAR)),
        |        1, 1) IN '0123456789abcdef') - 1) * 16
        |    + position(substring(md5('graft:' || CAST(doc_id AS VARCHAR)),
        |        2, 1) IN '0123456789abcdef') - 1 AS bucket
        |  FROM documents)
        |SELECT source,
        |  CASE WHEN bucket < 205 THEN 'train'
        |       WHEN bucket < 230 THEN 'val'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs
        |FROM b GROUP BY source, split ORDER BY source, split""".stripMargin)),

    // ---- mergeable distinct-count sketch rollup ------------------------
    Query("q75_sketch_rollup", (s, d) => {
      // daily HLL partials → monthly union → estimate: the incremental
      // rollup pattern (persist daily sketches once; month/quarter/year
      // re-aggregations touch sketches, never the raw 100 TB again).
      // Envelope-checked against exact like q33 — the sketch itself is
      // impl-specific.
      val ev = t(s, d, "events")
      val daily = ev.groupBy(
          date_trunc("month", col("ts")).cast("date").as("month"),
          to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id")).as("__sk"))
      val monthly = daily.groupBy(col("month"))
        .agg(hll_sketch_estimate(hll_union_agg(col("__sk"))).as("__approx"))
      val exact = ev.groupBy(
          date_trunc("month", col("ts")).cast("date").as("month"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      monthly.join(exact, Seq("month"))
        .select(col("month"), col("n_exact"),
          (abs(col("__approx") - col("n_exact")).cast("double") /
            col("n_exact") < 0.05).as("approx_ok"))
        .orderBy(col("month"))
    }, Sql(
      // like q33: the sketch is impl-specific, so the oracle checks the
      // exact counts plus the same 5% envelope with ITS OWN estimator
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
        |  count(DISTINCT user_id) AS n_exact,
        |  (CAST(abs(approx_count_distinct(user_id)
        |      - count(DISTINCT user_id)) AS DOUBLE)
        |    / count(DISTINCT user_id) < 0.05) AS approx_ok
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- incremental near-dup admission --------------------------------
    Query("q76_incremental_dedup", (s, d) => {
      // every 5th doc arrives as the new batch; the rest is the
      // standing corpus whose signature store was persisted earlier.
      // Threshold 0.95 = q44's proven-recall envelope at 16×4 bands.
      val docs = t(s, d, "documents")
      val corpus = docs.filter(col("doc_id") % 5 =!= 0)
      val batch = docs.filter(col("doc_id") % 5 === 0)
      val store = graft.operators.DedupOps.signatureStore(
        corpus, "doc_id", "text")
      graft.operators.DedupOps.incrementalNearDups(
        batch, corpus, store, "doc_id", "text", threshold = 0.95)
        .orderBy(col("id_new"), col("id_dup"))
    }, Sql(
      // exact shingle-jaccard over (batch×corpus ∪ batch×batch) pairs —
      // same exhaustive formulation as q44's near-dup stage, so a hash
      // match certifies the incremental path's recall end-to-end
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      END) AS s
        |  FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks FROM documents)),
        |pairs AS (
        |  SELECT n.doc_id AS id_new, o.doc_id AS id_dup,
        |    CAST(len(list_intersect(n.s, o.s)) AS DOUBLE)
        |      / (len(n.s) + len(o.s) - len(list_intersect(n.s, o.s)))
        |      AS j,
        |    'corpus' AS match_in
        |  FROM sh n JOIN sh o
        |    ON n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
        |      AS j,
        |    'batch' AS match_in
        |  FROM sh a JOIN sh b
        |    ON a.doc_id % 5 = 0 AND b.doc_id % 5 = 0
        |      AND a.doc_id < b.doc_id)
        |SELECT id_new, id_dup, round(j, 4) AS jaccard, match_in
        |FROM pairs
        |WHERE j >= 0.95
        |ORDER BY id_new, id_dup""".stripMargin)),

    // ---- per-domain quota (corpus balancing) ---------------------------
    Query("q77_domain_cap", (s, d) => {
      // at most 10 docs per source, picked by deterministic hash order;
      // bounded-heap aggregate — no corpus-wide window sort
      graft.ops.DomainCap.cap(t(s, d, "documents"),
        "doc_id", "source", k = 10, seed = "cap")
        .orderBy(col("source"), col("rn"))
    }, Sql(
      """WITH b AS (
        |  SELECT source, doc_id,
        |    (position(substring(md5('cap:' || CAST(doc_id AS VARCHAR)),
        |        1, 1) IN '0123456789abcdef') - 1) * 16
        |    + position(substring(md5('cap:' || CAST(doc_id AS VARCHAR)),
        |        2, 1) IN '0123456789abcdef') - 1 AS bucket
        |  FROM documents),
        |r AS (
        |  SELECT source, doc_id, row_number() OVER (
        |    PARTITION BY source ORDER BY bucket, doc_id) AS rn
        |  FROM b)
        |SELECT source, doc_id, rn FROM r WHERE rn <= 10
        |ORDER BY source, rn""".stripMargin)),

    // ---- temperature up-sampling (epochs per source) -------------------
    Query("q78_upsample", (s, d) => {
      // src0 repeats 2.5×, src1 1.25×; whole copies exact, fractional
      // remainder a deterministic per-doc hash coin (binary-exact
      // fractions so both engines quantize identically)
      graft.ops.CorpusMix.upsample(t(s, d, "documents"),
        "doc_id", "source", Map("src0" -> 2.5, "src1" -> 1.25))
        .orderBy(col("doc_id"), col("copy_idx"))
    }, Sql(
      """WITH f AS (
        |  SELECT doc_id, source,
        |    CAST(CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 1.25
        |      ELSE 1.0 END AS DOUBLE) AS r,
        |    (position(substring(md5('upsample:'
        |        || CAST(doc_id AS VARCHAR)), 1, 1)
        |      IN '0123456789abcdef') - 1) * 16
        |    + position(substring(md5('upsample:'
        |        || CAST(doc_id AS VARCHAR)), 2, 1)
        |      IN '0123456789abcdef') - 1 AS bucket
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source,
        |    CAST(floor(r) AS INT)
        |    + CASE WHEN bucket < CAST(round((r - floor(r)) * 256) AS INT)
        |        THEN 1 ELSE 0 END AS n_copies
        |  FROM f)
        |SELECT doc_id, source,
        |  unnest(generate_series(1, n_copies)) AS copy_idx
        |FROM c WHERE n_copies > 0
        |ORDER BY doc_id, copy_idx""".stripMargin)),

    // ---- single-pass column profiling ----------------------------------
    Query("q80_profile", (s, d) => {
      // ANALYZE-TABLE shape: every column's stats in ONE scan; exact
      // distinct added here so the estimate is envelope-checked
      graft.ops.Profile.profile(t(s, d, "orders"), exact = true)
        .orderBy(col("col_name"))
    }, Sql {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_nulls,
           |  CAST(min($c) AS VARCHAR) AS min_value,
           |  CAST(max($c) AS VARCHAR) AS max_value,
           |  (count(DISTINCT $c) = 0 OR
           |   CAST(abs(approx_count_distinct($c) - count(DISTINCT $c))
           |     AS DOUBLE) / count(DISTINCT $c) < 0.10) AS distinct_ok
           |FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    }),

    // ---- relative rank window functions --------------------------------
    Query("q81_percent_rank", (s, d) => {
      // percent_rank / cume_dist / nth_value per priority; the compound
      // (price, key) order makes every row its own RANGE peer group, so
      // the default frame is engine-portable
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, d, "orders").select(
        col("o_orderpriority"), col("o_orderkey"),
        dround(percent_rank().over(w), 6).as("pr"),
        dround(cume_dist().over(w), 6).as("cd"),
        dround(nth_value(col("o_totalprice"), 2).over(w), 2)
          .as("second_lowest"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    }, Sql(
      """SELECT o_orderpriority, o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd,
        |  round(nth_value(o_totalprice, 2) OVER w, 2) AS second_lowest
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin)),

    // ---- date-spine zero-fill (calendar dimension generation) ----------
    Query("q82_date_spine", (s, d) => {
      // gaps in the daily series become explicit zero rows: generate the
      // min..max day spine with sequence+explode (a 1-row agg → tiny
      // generated dim, broadcast back), left-join daily aggregates
      val o = t(s, d, "orders")
        .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
      val spine = o.agg(min(col("day")).as("__d0"), max(col("day")).as("__d1"))
        .select(explode(sequence(col("__d0"), col("__d1"))).as("day"))
      val daily = o.groupBy(col("day"))
        .agg(count(lit(1)).as("n_orders"),
          dround(sum(col("o_totalprice")), 2).as("revenue"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"))
        .orderBy(col("day"))
    }, Sql(
      """WITH bounds AS (
        |  SELECT CAST(min(o_orderdate) AS DATE) AS d0,
        |         CAST(max(o_orderdate) AS DATE) AS d1
        |  FROM orders),
        |spine AS (
        |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
        |    AS DATE) AS day
        |  FROM bounds),
        |daily AS (
        |  SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
        |    round(sum(o_totalprice), 2) AS revenue
        |  FROM orders GROUP BY 1)
        |SELECT spine.day, coalesce(n_orders, 0) AS n_orders,
        |  coalesce(revenue, 0.0) AS revenue
        |FROM spine LEFT JOIN daily USING (day)
        |ORDER BY day""".stripMargin)),

    // ---- winsorized (outlier-robust) statistics ------------------------
    Query("q83_winsorize", (s, d) => {
      graft.ops.RobustStats.winsorized(
        t(s, d, "orders"), "o_totalprice", "o_orderstatus",
        pLo = 0.05, pHi = 0.95)
        .orderBy(col("o_orderstatus"))
    }, Sql(
      """WITH b AS (
        |  SELECT quantile_cont(o_totalprice, 0.05) AS lo,
        |         quantile_cont(o_totalprice, 0.95) AS hi
        |  FROM orders)
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CASE WHEN o_totalprice < lo OR o_totalprice > hi
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
        |  round(avg(least(greatest(o_totalprice, lo), hi)), 4) AS mean_w,
        |  round(stddev_samp(least(greatest(o_totalprice, lo), hi)), 4)
        |    AS sd_w
        |FROM orders, b
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)),

    // ---- PMI bigram collocations ---------------------------------------
    Query("q84_pmi_bigrams", (s, d) => {
      graft.operators.TextProfile.pmiBigrams(
        t(s, d, "documents"), "text", minCount = 5L)
        .orderBy(col("w1"), col("w2"))
    }, Sql(
      """WITH docs AS (
        |  SELECT string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |uni AS (
        |  SELECT w, count(*) AS c
        |  FROM (SELECT unnest(toks) AS w FROM docs) GROUP BY w),
        |n1 AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
        |bi AS (
        |  SELECT p[1] AS w1, p[2] AS w2, count(*) AS c12
        |  FROM (SELECT unnest(list_zip(toks[1:len(toks)-1],
        |                               toks[2:len(toks)])) AS p
        |        FROM docs WHERE len(toks) >= 2)
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 5)
        |SELECT bi.w1, bi.w2, bi.c12,
        |  round(ln(CAST(bi.c12 AS DOUBLE) * n1.n / (u1.c * u2.c)), 4)
        |    + 0 AS pmi
        |FROM bi, n1
        |JOIN uni u1 ON bi.w1 = u1.w
        |JOIN uni u2 ON bi.w2 = u2.w
        |ORDER BY w1, w2""".stripMargin)),

    // ---- per-source token entropy (corpus diversity) -------------------
    Query("q85_entropy", (s, d) => {
      graft.operators.TextProfile.tokenEntropy(
        t(s, d, "documents"), "source", "text")
        .orderBy(col("source"))
    }, Sql(
      """WITH cnt AS (
        |  SELECT source, w, count(*) AS c
        |  FROM (SELECT source, unnest(
        |          string_split_regex(trim(lower(text)), '\s+')) AS w
        |        FROM documents WHERE trim(text) <> '')
        |  GROUP BY source, w),
        |tot AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n,
        |    count(*) AS n_types
        |  FROM cnt GROUP BY source)
        |SELECT cnt.source, max(tot.n) AS n_tokens,
        |  max(tot.n_types) AS n_types,
        |  round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)),
        |    4) + 0 AS entropy
        |FROM cnt JOIN tot ON cnt.source = tot.source
        |GROUP BY cnt.source
        |ORDER BY cnt.source""".stripMargin)),

    // ---- higher-order array functions over embeddings ------------------
    Query("q86_hof_arrays", (s, d) => {
      // transform / filter / aggregate stay inside codegen and fold each
      // list in element order — bitwise-identical accumulation on both
      // engines (cast to double FIRST so no float-precision forks)
      val v = col("embedding").cast("array<double>")
      t(s, d, "embeddings").select(
        col("vec_id"),
        size(filter(v, x => x > lit(0.0))).as("n_pos"),
        dround(aggregate(v, lit(0.0), (acc, x) => acc + x * x), 4)
          .as("sum_sq"),
        dround(aggregate(v, lit(0.0), (acc, x) => acc + abs(x)), 4)
          .as("l1_norm"),
        dround(array_max(transform(v, x => abs(x))), 4).as("max_abs"))
        .orderBy(col("vec_id"))
    }, Sql(
      """SELECT vec_id,
        |  CAST(len(list_filter(CAST(embedding AS DOUBLE[]), x -> x > 0))
        |    AS INT) AS n_pos,
        |  round(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> x * x)), 4) AS sum_sq,
        |  round(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> abs(x))), 4) AS l1_norm,
        |  round(list_max(list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> abs(x))), 4) AS max_abs
        |FROM embeddings ORDER BY vec_id""".stripMargin)),

    // ---- batch gap sessionization --------------------------------------
    Query("q87_sessionize_batch", (s, d) => {
      // 30-minute inactivity gap; batch twin of q36's session_window
      graft.ops.Sessionize.byGap(
        t(s, d, "events"), "user_id", "ts", "event_id", "value",
        gapSec = 1800L)
        .orderBy(col("user_id"), col("session_id"))
    }, Sql(
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev IS NULL
        |      OR epoch_us(ts) - epoch_us(prev) > 1800000000
        |    THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |g AS (
        |  SELECT *, CAST(sum(new_s) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start,
        |  round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0, 3)
        |    AS duration_sec,
        |  round(sum(value), 2) AS sum_value
        |FROM g GROUP BY 1, 2
        |ORDER BY user_id, session_id""".stripMargin)),

    // ---- SemDeDup: cell-partitioned semantic dedup ---------------------
    Query("q88_semdedup", (s, d) => {
      // drop docs with an above-threshold cosine neighbor of smaller id
      // in their IVF cell — cells from a 2-iteration trained codebook,
      // oversized cells split at 400 members; oracle replicates the
      // Lloyd rounds, argmax assignment (ties → smaller cell), the
      // md5 subcell split, and exact pair cosines
      graft.operators.SimilarityOps.semDedup(
        t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.95, cells = 16, trainIters = 2,
        maxCellSize = 400)
        .orderBy(col("vec_id"))
    }, Sql(lloyd2cb16 + """,
        |asn AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, cb2.cell, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM v CROSS JOIN cb2) WHERE rn = 1),
        |cnt AS (SELECT cell, count(*) AS n FROM asn GROUP BY cell),
        |sub AS (
        |  SELECT asn.vec_id, asn.cell,
        |    CASE WHEN cnt.n <= 400 THEN 0
        |      ELSE CAST(concat('0x', substring(md5('cellsplit:' ||
        |          CAST(asn.vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |        % CAST(ceil(cnt.n / 400.0) AS BIGINT) END AS subcell
        |  FROM asn JOIN cnt USING (cell)),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(va.vv, vb.vv) AS cs
        |  FROM sub a JOIN sub b ON a.cell = b.cell
        |    AND a.subcell = b.subcell AND a.vec_id < b.vec_id
        |  JOIN v va ON va.vec_id = a.vec_id
        |  JOIN v vb ON vb.vec_id = b.vec_id),
        |dropped AS (
        |  SELECT id_b, min(id_a) AS dup_of,
        |    round(arg_min(cs, id_a), 4) AS dup_sim
        |  FROM pairs WHERE cs >= 0.95 GROUP BY id_b)
        |SELECT sub.vec_id, sub.cell, (d.dup_of IS NULL) AS kept,
        |  d.dup_of, d.dup_sim
        |FROM sub LEFT JOIN dropped d ON sub.vec_id = d.id_b
        |ORDER BY sub.vec_id""".stripMargin)),

    // ---- mergeable frequency sketch (count-min heavy hitters) ----------
    Query("q89_heavy_hitters", (s, d) => {
      // daily count-min partials → one union → point-estimate the exact
      // top-10 keys; CMS never undercounts, and the 1%-of-total
      // overcount envelope holds w.p. 1-e^-depth per key. Like q75:
      // persist daily sketches once, re-roll any coarser grain from
      // depth×width longs per day instead of the raw 100 TB.
      import graft.functions.CountMin
      val ev = t(s, d, "events")
      val daily = ev.groupBy(to_date(col("ts")).as("__day"))
        .agg(CountMin.agg(col("user_id")).as("__sk"))
      val merged = daily.agg(CountMin.mergeAgg(col("__sk")).as("__sk"))
      val top = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(10)
      val est = CountMin.estimate(col("__sk"), col("user_id"))
      top.crossJoin(broadcast(merged))
        .select(col("user_id"), col("n_exact"),
          (est >= col("n_exact") &&
            (est - col("n_exact")).cast("double") <=
              CountMin.total(col("__sk")).cast("double") * 0.01)
            .as("approx_ok"))
        .orderBy(col("user_id"))
    }, Sql(
      // like q75/q33: the sketch is impl-specific; the oracle pins the
      // exact counts and the envelope verdict the estimates must meet
      """SELECT user_id, n_exact, TRUE AS approx_ok FROM (
        |  SELECT user_id, count(*) AS n_exact FROM events
        |  GROUP BY user_id ORDER BY n_exact DESC, user_id LIMIT 10)
        |ORDER BY user_id""".stripMargin)),

    // ---- LM-style trigram log-probability (perplexity filter) ----------
    Query("q90_lm_score", (s, d) => {
      // corpus-self-estimated trigram LM: mean ln(c3/c2) per doc — the
      // CCNet-shaped quality signal; digests shuffle, never n-grams
      graft.operators.TextProfile.lmTrigramScore(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH docs AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |tris AS (
        |  SELECT doc_id, t[1] AS w1, t[2] AS w2, t[3] AS w3
        |  FROM (SELECT doc_id, unnest(list_zip(toks[1:len(toks)-2],
        |          toks[2:len(toks)-1], toks[3:len(toks)])) AS t
        |        FROM docs WHERE len(toks) >= 3)),
        |bis AS (
        |  SELECT p[1] AS w1, p[2] AS w2
        |  FROM (SELECT unnest(list_zip(toks[1:len(toks)-1],
        |          toks[2:len(toks)])) AS p
        |        FROM docs WHERE len(toks) >= 2)),
        |c3 AS (SELECT w1, w2, w3, count(*) AS c FROM tris
        |       GROUP BY 1, 2, 3),
        |c2 AS (SELECT w1, w2, count(*) AS c FROM bis GROUP BY 1, 2)
        |SELECT tris.doc_id, count(*) AS n_trigrams,
        |  round(avg(ln(CAST(c3.c AS DOUBLE) / c2.c)), 4) + 0
        |    AS avg_logprob
        |FROM tris JOIN c3 USING (w1, w2, w3) JOIN c2 USING (w1, w2)
        |GROUP BY tris.doc_id
        |ORDER BY doc_id""".stripMargin)),

    // ---- CDC change-log apply ------------------------------------------
    Query("q91_cdc_apply", (s, d) => {
      // orders replayed as a change log onto the customer snapshot:
      // latest op per key wins (seq = order key), 'P' deletes,
      // 'O' inserts, 'F' updates; one log shuffle, base never sorted
      val base = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val log = t(s, d, "orders").select(
        col("o_custkey").as("c_custkey"),
        when(col("o_orderstatus") === "P", "D")
          .when(col("o_orderstatus") === "O", "I").otherwise("U")
          .as("op"),
        col("o_orderkey").as("seq"),
        concat(lit("cust-"), col("o_orderkey")).as("c_name"),
        col("o_orderpriority").as("c_mktsegment"))
      graft.ops.Cdc.apply(base, log, "c_custkey", "op", "seq",
        Seq("c_name", "c_mktsegment"))
        .orderBy(col("c_custkey"))
    }, Sql(
      """WITH log AS (
        |  SELECT o_custkey AS c_custkey,
        |    CASE o_orderstatus WHEN 'P' THEN 'D' WHEN 'O' THEN 'I'
        |      ELSE 'U' END AS op,
        |    o_orderkey AS seq,
        |    'cust-' || CAST(o_orderkey AS VARCHAR) AS c_name,
        |    o_orderpriority AS c_mktsegment
        |  FROM orders),
        |latest AS (
        |  SELECT * FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c_custkey
        |      ORDER BY seq DESC,
        |        CASE WHEN op = 'D' THEN 0 ELSE 1 END, op) AS rn
        |    FROM log) WHERE rn = 1),
        |deletes AS (SELECT c_custkey FROM latest WHERE op = 'D'),
        |upserts AS (SELECT c_custkey, c_name, c_mktsegment
        |            FROM latest WHERE op <> 'D')
        |SELECT b.c_custkey,
        |  coalesce(u.c_name, b.c_name) AS c_name,
        |  coalesce(u.c_mktsegment, b.c_mktsegment) AS c_mktsegment
        |FROM customer b
        |LEFT JOIN upserts u ON b.c_custkey = u.c_custkey
        |WHERE b.c_custkey NOT IN (SELECT c_custkey FROM deletes)
        |UNION ALL
        |SELECT u.c_custkey, u.c_name, u.c_mktsegment
        |FROM upserts u
        |WHERE u.c_custkey NOT IN (SELECT c_custkey FROM customer)
        |ORDER BY c_custkey""".stripMargin)),

    // ---- mergeable quantile-sketch rollup ------------------------------
    Query("q92_quantile_rollup", (s, d) => {
      // hourly GK-summary partials → per-day merge → p50/p95 point
      // queries, rank-checked against the raw rows: the count of
      // values ≤ estimate must sit within 2ε of the target rank.
      // Completes the sketch family (q75 HLL distincts, q89 CMS
      // frequencies): persist fine-grain sketches once, any coarser
      // grain re-aggregates kilobyte summaries, not the raw 100 TB.
      import graft.functions.QuantileSketch
      val ev = t(s, d, "events").select(
        to_date(col("ts")).as("day"),
        hour(col("ts")).as("__hour"), col("value"))
      val hourly = ev.groupBy(col("day"), col("__hour"))
        .agg(QuantileSketch.agg(col("value"), 0.01).as("__sk"))
      val daily = hourly.groupBy(col("day"))
        .agg(QuantileSketch.mergeAgg(col("__sk")).as("__sk"))
        .select(col("day"),
          QuantileSketch.query(col("__sk"), lit(0.5)).as("__p50"),
          QuantileSketch.query(col("__sk"), lit(0.95)).as("__p95"))
      ev.join(broadcast(daily), Seq("day"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_events"),
          (abs(sum(when(col("value") <= col("__p50"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)) - 0.5) <= 0.02).as("ok50"),
          (abs(sum(when(col("value") <= col("__p95"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)) - 0.95) <= 0.02).as("ok95"))
        .orderBy(col("day"))
    }, Sql(
      // like q75/q89: the sketch is impl-specific; the oracle pins the
      // per-day row counts and the rank-envelope verdicts
      """SELECT CAST(ts AS DATE) AS day,
        |  count(*) AS n_events, TRUE AS ok50, TRUE AS ok95
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- asymmetric containment similarity (subset-duplicates) ---------
    Query("q93_containment", (s, d) => {
      // containment(a→b) = |A∩B| / |A| over distinct 3-gram sets —
      // catches a doc CONTAINED in a longer one, which symmetric
      // Jaccard dilutes below threshold; directional, so both (a,b)
      // and (b,a) rows exist. Same bounded-verifier shape as q26
      // (broadcast one pre-shingled side; production pairing comes
      // from the LSH band candidates, ref q24/q76)
      val doc = t(s, d, "documents").filter(col("doc_id") < 100)
        .withColumn("sh",
          array_distinct(DedupOps.shingles(col("text"), 3)))
      val a = doc.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = doc.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.crossJoin(broadcast(b)).filter(col("id_a") =!= col("id_b"))
        .withColumn("containment", dround(
          when(size(col("sh_a")) === 0, lit(0.0))
            .otherwise(size(array_intersect(col("sh_a"), col("sh_b")))
              .cast("double") / size(col("sh_a")).cast("double")), 4))
        .filter(col("containment") >= 0.02)
        .select(col("id_a"), col("id_b"), col("containment"))
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(toks) < 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      END) AS s
        |  FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks FROM documents WHERE doc_id < 100)),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(CASE WHEN len(a.s) = 0 THEN CAST(0 AS DOUBLE)
        |      ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |        / len(a.s) END, 4) AS containment
        |  FROM sh a JOIN sh b ON a.doc_id <> b.doc_id)
        |SELECT id_a, id_b, containment FROM p
        |WHERE containment >= 0.02
        |ORDER BY id_a, id_b""".stripMargin)),

    // ---- weighted sampling (A-ES, no global sort) ----------------------
    Query("q94_weighted_sample", (s, d) => {
      // length-weighted corpus draw: inclusion probability ∝ token
      // count, deterministic (md5-derived uniforms), ranked through
      // the O(k)-state bounded heap — the oracle reproduces the
      // IDENTICAL draw from the same hash arithmetic in SQL
      import graft.functions.TextFunctions
      val docs = t(s, d, "documents").select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      graft.ops.DeterministicSample.weightedTopK(
          docs, "doc_id", "n_tokens", k = 25, seed = "wsample")
        .join(docs, Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("sample_key"),
          col("rn"))
        .orderBy(col("rn"))
    }, Sql(
      """WITH w AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS n_tokens
        |  FROM documents),
        |keyed AS (
        |  SELECT doc_id, n_tokens,
        |    ln((CAST(concat('0x', substring(
        |          md5('wsample:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) + 0.5) / 4294967296.0)
        |      / n_tokens AS k
        |  FROM w WHERE n_tokens >= 1),
        |ranked AS (
        |  SELECT doc_id, n_tokens, round(k, 6) AS sample_key,
        |    CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS INT)
        |      AS rn
        |  FROM keyed)
        |SELECT doc_id, n_tokens, sample_key, rn
        |FROM ranked WHERE rn <= 25
        |ORDER BY rn""".stripMargin)),

    // ---- k-means M-step (codebook training) ----------------------------
    Query("q95_kmeans_step", (s, d) => {
      // nearest-centroid assignment (narrow map) + per-(cell, dim)
      // means: the iteration that trains the codebook q40/q88 consume;
      // oracle replicates assignment and averages in SQL
      graft.operators.SimilarityOps.kmeansStep(
        t(s, d, "embeddings"), "vec_id", "embedding", cells = 16)
        .orderBy(col("cell"), col("dim"))
    }, Sql(
      """WITH cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |      AS cell,
        |    CAST(embedding AS DOUBLE[]) AS cv
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        |      FROM embeddings),
        |asn AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, cb.cell, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM v CROSS JOIN cb) WHERE rn = 1),
        |long AS (
        |  SELECT asn.cell,
        |    CAST(generate_subscripts(v.vv, 1) - 1 AS INT) AS dim,
        |    unnest(v.vv) AS x
        |  FROM asn JOIN v ON asn.vec_id = v.vec_id)
        |SELECT cell, dim, count(*) AS n_members,
        |  round(avg(x), 6) + 0 AS mean_val
        |FROM long GROUP BY cell, dim
        |ORDER BY cell, dim""".stripMargin)),

    // ---- denoising corruption (T5-style masking) -----------------------
    Query("q96_span_corrupt", (s, d) => {
      // ~16 % of tokens masked by md5(seed:doc:pos) — reproducible
      // training pairs, all in-row higher-order expressions (zero
      // shuffle); the oracle rebuilds the identical corruption
      graft.operators.Masking.spanCorrupt(
        t(s, d, "documents"), "doc_id", "text",
        seed = "t5", threshold256 = 42)
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH docs AS (
        |  SELECT doc_id,
        |    string_split_regex(trim(text), '\s+') AS toks
        |  FROM documents WHERE trim(text) <> ''),
        |m AS (
        |  SELECT doc_id, toks,
        |    list_transform(toks, (t, i) ->
        |      substring(md5('t5:' || CAST(doc_id AS VARCHAR) || ':'
        |        || CAST(i - 1 AS VARCHAR)), 1, 2) < '2a') AS hit
        |  FROM docs)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(hit, h -> h)) AS BIGINT) AS n_masked,
        |  array_to_string(list_transform(toks, (t, i) ->
        |    CASE WHEN hit[i] THEN '<X>' ELSE t END), ' ')
        |    AS masked_text,
        |  coalesce(array_to_string(
        |    list_filter(toks, (t, i) -> hit[i]), ' '), '') AS targets
        |FROM m
        |ORDER BY doc_id""".stripMargin)),

    // ---- TPC-H-shaped macro queries (multi-join star plans) ------------
    Query("q97_shipping_priority", (s, d) => {
      // TPC-H Q3 shape: segment-filtered customers × date-bounded
      // orders × lineitem, revenue per (order, date, priority),
      // top-10. Customer filter broadcast-prunes orders BEFORE the
      // fact join; both filters push to the scans
      val cut = lit("1997-06-30").cast("date")
      val c = t(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = t(s, d, "orders")
        .filter(to_date(col("o_orderdate")) < cut)
        .join(c, col("o_custkey") === col("c_custkey"))
      val l = t(s, d, "lineitem")
        .filter(to_date(col("l_shipdate")) > cut)
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"),
          to_date(col("o_orderdate")).as("o_date"),
          col("o_orderpriority"))
        .agg(dround(sum(col("l_extendedprice") *
          (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }, Sql(
      """SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_date,
        |  o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND CAST(o_orderdate AS DATE) < DATE '1997-06-30'
        |  AND CAST(l_shipdate AS DATE) > DATE '1997-06-30'
        |GROUP BY l_orderkey, o_date, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)),

    Query("q98_local_supplier_volume", (s, d) => {
      // TPC-H Q5 shape: full star traversal — region → nation →
      // customer → orders → lineitem ⋈ supplier, revenue where the
      // supplier sits in the customer's nation. Dims broadcast down
      // the chain; the only big shuffle is lineitem⋈orders
      val cut = lit("1997-01-01").cast("date")
      val n = t(s, d, "nation")
        .join(t(s, d, "region").filter(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
      val c = t(s, d, "customer")
        .join(n, col("c_nationkey") === col("n_nationkey"))
      val o = t(s, d, "orders")
        .filter(to_date(col("o_orderdate")) >= cut &&
          to_date(col("o_orderdate")) < lit("1999-01-01").cast("date"))
        .join(c, col("o_custkey") === col("c_custkey"))
      val sup = t(s, d, "supplier")
      t(s, d, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("s_nationkey") === col("c_nationkey"))
        .groupBy(col("n_name"))
        .agg(dround(sum(col("l_extendedprice") *
          (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }, Sql(
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM region, nation, customer, orders, lineitem, supplier
        |WHERE r_name = 'ASIA' AND n_regionkey = r_regionkey
        |  AND c_nationkey = n_nationkey
        |  AND o_custkey = c_custkey
        |  AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey
        |  AND s_nationkey = c_nationkey
        |  AND CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(o_orderdate AS DATE) < DATE '1999-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)),

    // ---- end-to-end training export (capstone composition) -----------
    Query("q122_training_export", (s, d) => {
      // quality gate → exact dedup → 512-token sequence packing across
      // 4 shards → seeded training-order address: each stage is the
      // already-oracle-proven operator (q21/q23/q63/q114), composed
      // the way a production export job runs them. Sequence lengths
      // are BPE token counts under the 5-merge tokenizer (q111's
      // vocab — trained over the FULL corpus, applied post-gate), the
      // budget a training run actually consumes. Text never crosses
      // an exchange after the gate: the word→vocab count join is
      // broadcast, dedup shuffles digests, packing and ordering
      // shuffle (id, n_tokens)-sized rows
      val docs = t(s, d, "documents")
      val (_, vocab) = graft.operators.Bpe.trainWithVocabCached(
        docs, "text", merges = 5)
      // one gated text-reading pass: digest and exploded words ride
      // the same scan; after the partial agg, only (id, digest,
      // n_tokens) rows reach an exchange. `base` feeds keepers, clean,
      // packing AND ordering — materialize it so the gated corpus scan
      // runs ONCE, not once per downstream consumer (at 100 TB the
      // corpus re-read would quadruple the dominant I/O)
      val base = graft.core.Scratch.materialize(docs
        .filter(TextFunctions.qualityScore(col("text")) >= 0.3)
        .select(col("doc_id"), md5(col("text")).as("__dg"),
          explode_outer(TextFunctions.tokens(lower(col("text"))))
            .as("word"))
        .join(broadcast(graft.operators.Bpe.perWordCounts(vocab)),
          Seq("word"), "left")
        .groupBy(col("doc_id"))
        .agg(first(col("__dg")).as("__dg"),
          coalesce(sum(col("__nsym")), lit(0L)).as("n_tokens")),
        "q122_base")
      val keepers = base.groupBy(col("__dg"))
        .agg(min(col("doc_id")).as("doc_id"))
      // clean feeds both packing and ordering — materialize so the
      // digest-dedup shuffle also runs once
      val clean = graft.core.Scratch.materialize(
        base.join(keepers, Seq("__dg", "doc_id"))
          .select(col("doc_id"), col("n_tokens")),
        "q122_clean")
      val packed = graft.operators.Chunking.packCounts(
        clean, "doc_id", budget = 512, shards = 4)
        .select(col("doc_id"), col("n_tokens"), col("shard"),
          col("pack_id"), col("offset_in_pack"))
      val order = graft.operators.ShardExport.trainingOrder(
        clean, "doc_id", seed = 7L, shards = 4)
        .select(col("doc_id"), col("shard").as("order_shard"),
          col("pos").as("order_pos"))
      packed.join(order, Seq("doc_id")).orderBy(col("doc_id"))
    }, Sql(bpeCountChain(5) + """,
        |g AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE round(
        |    (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |     * (1.0 - least(
        |         (CAST(len(regexp_extract_all(text, '[[:punct:]]'))
        |            AS DOUBLE)
        |          / greatest(CAST(length(text) AS DOUBLE), 1.0))
        |         * 4.0, 1.0) * 0.5))
        |    * sqrt(
        |        CAST(len(list_distinct(CASE WHEN trim(text) = ''
        |          THEN [] ELSE string_split_regex(
        |            trim(lower(text)), '\s+') END)) AS DOUBLE)
        |        / greatest(CAST(CASE WHEN trim(text) = '' THEN 0
        |          ELSE len(string_split_regex(trim(text), '\s+'))
        |          END AS DOUBLE), 1.0)), 4) >= 0.3),
        |k AS (SELECT min(doc_id) AS doc_id FROM g GROUP BY md5(text)),
        |c AS (SELECT g.doc_id, g.text FROM g JOIN k USING (doc_id)),
        |t AS (
        |  SELECT c.doc_id, nt.n_tokens,
        |    CAST(c.doc_id % 4 AS INT) AS shard
        |  FROM c JOIN nt ON c.doc_id = nt.doc_id),
        |o AS (
        |  SELECT *, CAST(COALESCE(sum(n_tokens) OVER (
        |    PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS stream_offset
        |  FROM t),
        |h AS (
        |  SELECT doc_id, CAST(concat('0x', substring(
        |    md5('7:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |    AS order_key
        |  FROM c),
        |ord AS (
        |  SELECT doc_id, order_key % 4 AS order_shard,
        |    CAST(row_number() OVER (PARTITION BY order_key % 4
        |      ORDER BY order_key, doc_id) AS BIGINT) AS order_pos
        |  FROM h)
        |SELECT o.doc_id, n_tokens, shard,
        |  CAST(shard AS BIGINT) * 1099511627776
        |    + CAST(floor(stream_offset / 512) AS BIGINT) AS pack_id,
        |  CAST(stream_offset % 512 AS BIGINT) AS offset_in_pack,
        |  order_shard, order_pos
        |FROM o JOIN ord USING (doc_id)
        |ORDER BY o.doc_id""".stripMargin)),

    // ---- blocklist phrase filtering -----------------------------------
    Query("q124_blocklist", (s, d) => {
      // substring semantics across token boundaries — the compliance
      // stage; a bounded list needs no join: one in-row array filter
      graft.operators.Blocklist.flagPhrases(
        t(s, d, "documents"), "doc_id", "text",
        Seq("slow fast", "big table", "key agg", "forbidden phrase"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH h AS (
        |  SELECT doc_id, list_filter(
        |    ['slow fast', 'big table', 'key agg', 'forbidden phrase'],
        |    p -> contains(text, p)) AS hits
        |  FROM documents)
        |SELECT doc_id, CAST(len(hits) AS BIGINT) AS n_hits,
        |  CASE WHEN len(hits) > 0 THEN hits[1] ELSE NULL END
        |    AS first_hit,
        |  len(hits) > 0 AS blocked
        |FROM h ORDER BY doc_id""".stripMargin)),

    // ---- per-source curation funnel report ----------------------------
    Query("q123_curation_funnel", (s, d) => {
      // the pipeline observability query: per source, how many docs
      // and tokens survive the quality gate and exact dedup. One
      // text-reading pass; the digest agg and source rollup shuffle
      // narrow rows only
      val docs = t(s, d, "documents")
      // base feeds both the keeper derivation and the rollup —
      // materialize so the text-reading pass (digest + token count +
      // quality score over every doc) runs once
      val base = graft.core.Scratch.materialize(
        docs.select(col("doc_id"), col("source"),
          md5(col("text")).as("__dg"),
          TextFunctions.tokenCount(col("text")).cast("long")
            .as("n_tokens"),
          (TextFunctions.qualityScore(col("text")) >= 0.3)
            .as("__gated")),
        "q123_base")
      val keepers = base.filter(col("__gated"))
        .groupBy(col("__dg")).agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"), lit(true).as("__kept"))
      base.join(keepers, Seq("doc_id"), "left")
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("__gated"), 1L).otherwise(0L)).as("n_gated"),
          sum(when(col("__kept"), 1L).otherwise(0L)).as("n_kept"),
          sum(col("n_tokens")).as("tokens_total"),
          sum(when(col("__kept"), col("n_tokens")).otherwise(0L))
            .as("tokens_kept"))
        .orderBy(col("source"))
    }, Sql(
      """WITH b AS (
        |  SELECT doc_id, source, md5(text) AS dg,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |      ELSE len(string_split_regex(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tokens,
        |    (round(
        |      (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |       * (1.0 - least(
        |           (CAST(len(regexp_extract_all(text, '[[:punct:]]'))
        |              AS DOUBLE)
        |            / greatest(CAST(length(text) AS DOUBLE), 1.0))
        |           * 4.0, 1.0) * 0.5))
        |      * sqrt(
        |          CAST(len(list_distinct(CASE WHEN trim(text) = ''
        |            THEN [] ELSE string_split_regex(
        |              trim(lower(text)), '\s+') END)) AS DOUBLE)
        |          / greatest(CAST(CASE WHEN trim(text) = '' THEN 0
        |            ELSE len(string_split_regex(trim(text), '\s+'))
        |            END AS DOUBLE), 1.0)), 4) >= 0.3) AS gated
        |  FROM documents),
        |k AS (SELECT min(doc_id) AS doc_id FROM b WHERE gated
        |  GROUP BY dg)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN gated THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_gated,
        |  CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_kept,
        |  CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
        |  CAST(sum(CASE WHEN k.doc_id IS NOT NULL THEN n_tokens
        |    ELSE 0 END) AS BIGINT) AS tokens_kept
        |FROM b LEFT JOIN k USING (doc_id)
        |GROUP BY source
        |ORDER BY source""".stripMargin)),

    // ---- TPC-H Q8 shape: market share ----------------------------------
    Query("q121_market_share", (s, d) => {
      // 6-table traversal: per order-year, NATION_1 suppliers' share
      // of ECONOMY-part revenue sold into AMERICA. All four dims
      // (part filter, supplier+nation, customer-side chain) broadcast;
      // the only big shuffles are lineitem⋈orders and the year agg —
      // the join-reorder/broadcast stress test at 100 TB
      val vol = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val supN = t(s, d, "supplier")
        .join(t(s, d, "nation")
          .select(col("n_nationkey").as("sn_key"),
            col("n_name").as("supp_nation")),
          col("s_nationkey") === col("sn_key"))
        .select(col("s_suppkey"), col("supp_nation"))
      val custAmerica = t(s, d, "customer")
        .join(t(s, d, "nation")
          .join(t(s, d, "region").filter(col("r_name") === "AMERICA"),
            col("n_regionkey") === col("r_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"))
      val ord = t(s, d, "orders")
        .filter(to_date(col("o_orderdate")) >=
            lit("1995-01-01").cast("date") &&
          to_date(col("o_orderdate")) <=
            lit("1996-12-31").cast("date"))
        .join(custAmerica, col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("o_orderdate"))
      t(s, d, "lineitem")
        .join(t(s, d, "part").filter(col("p_type") === "ECONOMY"),
          col("l_partkey") === col("p_partkey"))
        .join(supN, col("l_suppkey") === col("s_suppkey"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          dround(sum(when(col("supp_nation") === "NATION_1", vol)
            .otherwise(lit(0.0))), 2).as("nation_volume"),
          dround(sum(vol), 2).as("total_volume"))
        .withColumn("mkt_share",
          dround(col("nation_volume") / col("total_volume"), 4))
        .orderBy(col("o_year"))
    }, Sql(
      """WITH base AS (
        |  SELECT year(o_orderdate) AS o_year,
        |    round(sum(CASE WHEN sn.n_name = 'NATION_1'
        |      THEN l_extendedprice * (1 - l_discount)
        |      ELSE CAST(0 AS DOUBLE) END), 2) AS nation_volume,
        |    round(sum(l_extendedprice * (1 - l_discount)), 2)
        |      AS total_volume
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |    AND r_name = 'AMERICA'
        |  WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
        |    AND CAST(o_orderdate AS DATE) <= DATE '1996-12-31'
        |  GROUP BY 1)
        |SELECT o_year, nation_volume, total_volume,
        |  round(nation_volume / total_volume, 4) AS mkt_share
        |FROM base ORDER BY o_year""".stripMargin)),

    // ---- ordered funnel analysis ---------------------------------------
    Query("q99_funnel", (s, d) => {
      // signup → click → purchase, each step strictly after the
      // previous one, in ONE scan of events and ONE Exchange: a single
      // per-user agg takes min signup ts plus the per-type ts lists,
      // then t2/t3 fall out of in-row array folds (a comparison with a
      // null prior step is null, so filter drops it and the step stays
      // null — the same strictly-after semantics as the staged joins).
      // The collected lists hold only this user's click/purchase
      // timestamps — funnel-step events, not the whole event row
      val ev = t(s, d, "events")
      val s3 = ev.groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "signup", col("ts")))
            .as("__t1"),
          collect_list(when(col("event_type") === "click", col("ts")))
            .as("__clicks"),
          collect_list(when(col("event_type") === "purchase",
            col("ts"))).as("__purchases"))
        .withColumn("__t2", array_min(
          filter(col("__clicks"), c => c > col("__t1"))))
        .withColumn("__t3", array_min(
          filter(col("__purchases"), p => p > col("__t2"))))
      s3.select(col("user_id"),
        col("__t1").isNotNull.as("did_signup"),
        col("__t2").isNotNull.as("did_click_after"),
        col("__t3").isNotNull.as("did_purchase_after"),
        col("__t3").as("purchase_ts"))
        .orderBy(col("user_id"))
    }, Sql(
      """WITH s1 AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
        |  FROM events GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, any_value(s1.t1) AS t1,
        |    min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1
        |      THEN e.ts END) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, any_value(s2.t1) AS t1,
        |    any_value(s2.t2) AS t2,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2
        |      THEN e.ts END) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  GROUP BY e.user_id)
        |SELECT user_id, t1 IS NOT NULL AS did_signup,
        |  t2 IS NOT NULL AS did_click_after,
        |  t3 IS NOT NULL AS did_purchase_after,
        |  t3 AS purchase_ts
        |FROM s3 ORDER BY user_id""".stripMargin)),

    // ---- retention cohorts ---------------------------------------------
    Query("q100_retention", (s, d) => {
      // weekly cohort (first-seen week) × weeks-since-cohort active
      // counts: two distinct-shuffles on (user, week), the standard
      // retention-matrix shape
      val ev = t(s, d, "events").select(col("user_id"),
        (floor(datediff(to_date(col("ts")),
          lit("1995-01-02").cast("date")) / 7)).cast("long").as("week"))
      val uw = ev.distinct()
      val cohort = uw.groupBy(col("user_id"))
        .agg(min(col("week")).as("cohort_week"))
      uw.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy(col("cohort_week"), col("weeks_since"))
    }, Sql(
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(date_diff('day', DATE '1995-01-02',
        |      CAST(ts AS DATE)) / 7.0) AS BIGINT) AS week
        |  FROM events),
        |cohort AS (
        |  SELECT user_id, min(week) AS cohort_week
        |  FROM uw GROUP BY user_id)
        |SELECT cohort.cohort_week, uw.week - cohort.cohort_week
        |    AS weeks_since,
        |  count(DISTINCT uw.user_id) AS n_active
        |FROM uw JOIN cohort ON uw.user_id = cohort.user_id
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin)),

    // ---- unpivot / melt (wide → long reshaping) -----------------------
    Query("q64_unpivot", (s, d) => {
      val wide = t(s, d, "orders").groupBy(col("o_orderstatus")).agg(
        sum(when(col("o_orderpriority") === "1-URGENT", 1L)
          .otherwise(0L)).as("n_urgent"),
        sum(when(col("o_orderpriority") === "5-LOW", 1L)
          .otherwise(0L)).as("n_low"))
      wide.unpivot(
        Array(col("o_orderstatus")),
        Array(col("n_urgent"), col("n_low")),
        "priority", "n")
        .orderBy(col("o_orderstatus"), col("priority"))
    }, Sql(
      """WITH wide AS (
        |  SELECT o_orderstatus,
        |    CAST(count(*) FILTER (o_orderpriority = '1-URGENT')
        |      AS BIGINT) AS n_urgent,
        |    CAST(count(*) FILTER (o_orderpriority = '5-LOW')
        |      AS BIGINT) AS n_low
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT o_orderstatus, priority, n
        |FROM wide UNPIVOT (n FOR priority IN (n_urgent, n_low))
        |ORDER BY o_orderstatus, priority""".stripMargin)),

    // ---- k-means training loop (Lloyd iterations) ----------------------
    Query("q101_kmeans_train", (s, d) => {
      // the trained codebook itself, long-form: 2 assign+mean rounds
      // from the first-16-by-id init, means rounded 6 dp per round so
      // the oracle's unrolled SQL reproduces it bit-for-bit; empty
      // cells carry their previous centroid
      import s.implicits._
      val cb = graft.operators.SimilarityOps.kmeansTrain(
        t(s, d, "embeddings"), "vec_id", "embedding",
        cells = 16, iters = 2)
      cb.zipWithIndex.flatMap { case (v, cell) =>
        v.zipWithIndex.map { case (x, dim) => (cell, dim, x) }
      }.toSeq.toDF("cell", "dim", "mean_val")
        .orderBy(col("cell"), col("dim"))
    }, Sql(lloyd2cb16 + """
        |SELECT cell, CAST(generate_subscripts(cv, 1) - 1 AS INT)
        |    AS dim,
        |  unnest(cv) AS mean_val
        |FROM cb2 ORDER BY cell, dim""".stripMargin)),

    // ---- cell-skew guard: capped semantic dedup ------------------------
    Query("q102_capped_semdedup", (s, d) => {
      // 4 coarse cells (~125 members each at sf0.01) with a 16-member
      // cap force the md5 subcell split on every cell — the guard that
      // bounds Σ|cell|² when a mega-cell shows up at 100 TB; oracle
      // replicates the split hash and within-subcell pair cosines
      graft.operators.SimilarityOps.semDedup(
        t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.2, cells = 4, trainIters = 0, maxCellSize = 16)
        .orderBy(col("vec_id"))
    }, Sql(
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |      AS cell,
        |    CAST(embedding AS DOUBLE[]) AS cv
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 4)),
        |asn AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, cb.cell, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM v CROSS JOIN cb) WHERE rn = 1),
        |cnt AS (SELECT cell, count(*) AS n FROM asn GROUP BY cell),
        |sub AS (
        |  SELECT asn.vec_id, asn.cell,
        |    CASE WHEN cnt.n <= 16 THEN 0
        |      ELSE CAST(concat('0x', substring(md5('cellsplit:' ||
        |          CAST(asn.vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |        % CAST(ceil(cnt.n / 16.0) AS BIGINT) END AS subcell
        |  FROM asn JOIN cnt USING (cell)),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_cosine_similarity(va.vv, vb.vv) AS cs
        |  FROM sub a JOIN sub b ON a.cell = b.cell
        |    AND a.subcell = b.subcell AND a.vec_id < b.vec_id
        |  JOIN v va ON va.vec_id = a.vec_id
        |  JOIN v vb ON vb.vec_id = b.vec_id),
        |dropped AS (
        |  SELECT id_b, min(id_a) AS dup_of,
        |    round(arg_min(cs, id_a), 4) AS dup_sim
        |  FROM pairs WHERE cs >= 0.2 GROUP BY id_b)
        |SELECT sub.vec_id, sub.cell, (d.dup_of IS NULL) AS kept,
        |  d.dup_of, d.dup_sim
        |FROM sub LEFT JOIN dropped d ON sub.vec_id = d.id_b
        |ORDER BY sub.vec_id""".stripMargin)),

    // ---- hash fixtures for the LSH oracles -----------------------------
    // The raw hash families (xxhash64 banding, SimHash64, hyperplane
    // signs) are not DuckDB-replicable, so q24/q25/q30 dump them here
    // and their oracles recompute EVERYTHING downstream — banding join,
    // candidate dedup, hamming/jaccard/cosine verification — in SQL
    // from these fixtures (read via __VERIFY_OUT__, substituted by
    // Verify). Only the hash value itself stays property-tested
    // (TextDedupSpec / SimilaritySpec).
    Query("q103_simhash_fixture", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), DedupOps.simhash64(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    }, RowsOnly(xxhashSignature)),

    Query("q104_minhash_band_fixture", (s, d) => {
      // identical params to q24: 3-shingles, 64 hashes, 16 bands × 4
      DedupOps.signatureStore(t(s, d, "documents"), "doc_id", "text",
        shingleN = 3, bands = 16, rowsPerBand = 4)
        .orderBy(col("doc_id"), col("band"))
    }, RowsOnly(xxhashSignature)),

    Query("q105_lsh_bucket_fixture", (s, d) => {
      // identical params to q30: 8 sign-tables × 8 bits
      val v = t(s, d, "embeddings").select(col("vec_id"),
        col("embedding").cast("array<double>").as("__v"))
      v.select(col("vec_id"),
        graft.operators.SimilarityOps.lshTables(col("__v"), bits = 8,
          tables = 8).as(Seq("tbl", "bucket")))
        .orderBy(col("vec_id"), col("tbl"))
    }, RowsOnly(xxhashSignature)),

    // ---- fingerprint equivalence classes (closes q27's semantics) ------
    Query("q106_fingerprint_groups", (s, d) => {
      // the oracle groups by the normalized token stream itself, so the
      // xxhash64 fingerprint's equivalence classes are fully checked
      // even though the hash value (q27) is not DuckDB-replicable
      DedupOps.fingerprintGroups(t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }, Sql(
      // fingerprint equivalence classes checked against the normalized
      // token stream itself — the hash-free ground truth of q27's contract
      """WITH k AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN ''
        |    ELSE array_to_string(
        |      string_split_regex(trim(text), '\s+'), chr(1))
        |    END AS key
        |  FROM documents),
        |g AS (
        |  SELECT key, min(doc_id) AS rep_id,
        |    CAST(count(*) AS BIGINT) AS n_copies
        |  FROM k GROUP BY key)
        |SELECT k.doc_id, g.rep_id, g.n_copies
        |FROM k JOIN g USING (key) ORDER BY doc_id""".stripMargin)),

    // ---- data selection under a token budget ---------------------------
    Query("q107_token_budget", (s, d) => {
      graft.ops.TokenBudget.selectToBudget(
        t(s, d, "documents"), "doc_id", "text", budget = 10000L)
        .orderBy(col("doc_id"))
    }, Sql("WITH " + docQualityTokens + """,
        |d2 AS (
        |  SELECT *, CAST(round(quality * 10000, 0) AS INT) AS b
        |  FROM doc),
        |bk AS (SELECT b, sum(n_tokens) AS tok FROM d2 GROUP BY b),
        |cum AS (
        |  SELECT b, tok, CAST(coalesce(sum(tok) OVER (
        |    ORDER BY b DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS cum_before
        |  FROM bk),
        |f AS (
        |  SELECT b, cum_before, (cum_before + tok <= 10000) AS is_full
        |  FROM cum),
        |j AS (
        |  SELECT d2.doc_id, d2.quality, d2.n_tokens, d2.b,
        |    f.cum_before, f.is_full
        |  FROM d2 JOIN f USING (b)),
        |part AS (
        |  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
        |    PARTITION BY b ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS BIGINT) AS doc_before
        |  FROM j WHERE NOT is_full AND cum_before < 10000)
        |SELECT doc_id, quality, n_tokens FROM j WHERE is_full
        |UNION ALL
        |SELECT doc_id, quality, n_tokens FROM part
        |WHERE cum_before + doc_before + n_tokens <= 10000
        |ORDER BY doc_id""".stripMargin)),

    // ---- DSIR importance weights (hashed-bigram log-ratio) -------------
    Query("q108_dsir_weights", (s, d) => {
      // target distribution = src0 docs; background = the rest
      graft.operators.Dsir.importanceWeights(
        t(s, d, "documents"), "doc_id", "text",
        isTarget = col("source") === "src0")
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH bg AS (
        |  SELECT doc_id, (source = 'src0') AS t, unnest(
        |    CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) END) AS fg
        |  FROM (SELECT doc_id, source, CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks FROM documents)),
        |fb AS (
        |  SELECT doc_id, t, CAST(concat('0x', substring(md5(fg), 1, 8))
        |    AS BIGINT) % 256 AS fbk
        |  FROM bg),
        |cnt AS (
        |  SELECT fbk,
        |    sum(CASE WHEN t THEN 1 ELSE 0 END) AS ct,
        |    sum(CASE WHEN t THEN 0 ELSE 1 END) AS cs
        |  FROM fb GROUP BY fbk),
        |tot AS (SELECT sum(ct) AS nt, sum(cs) AS ns FROM cnt),
        |lr AS (
        |  SELECT fbk, round(ln(
        |    (CAST(ct + 1 AS DOUBLE) / CAST(nt + 256 AS DOUBLE))
        |    / (CAST(cs + 1 AS DOUBLE) / CAST(ns + 256 AS DOUBLE))), 6)
        |    AS lrv
        |  FROM cnt CROSS JOIN tot),
        |lrt AS (
        |  SELECT list(coalesce(lr.lrv, 0.0) ORDER BY r.range) AS lrl
        |  FROM range(0, 256) r LEFT JOIN lr ON lr.fbk = r.range),
        |bl AS (
        |  SELECT doc_id, CASE WHEN len(toks) < 2 THEN []
        |      ELSE list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) END AS bgl
        |  FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks FROM documents))
        |SELECT bl.doc_id, CAST(len(bgl) AS BIGINT) AS n_feats,
        |  round(coalesce(list_sum(list_transform(bgl, g ->
        |    lrl[(CAST(concat('0x', substring(md5(g), 1, 8)) AS BIGINT)
        |      % 256) + 1])), 0.0), 4) + 0 AS weight
        |FROM bl CROSS JOIN lrt
        |ORDER BY bl.doc_id""".stripMargin)),

    // ---- winnowing fingerprints (MOSS; rolling k-gram hash) ------------
    Query("q109_winnowing", (s, d) => {
      graft.operators.Winnowing.fingerprints(
        t(s, d, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"), col("fp"))
    }, Sql(winnowFp + """
        |SELECT doc_id, fp FROM fp ORDER BY doc_id, fp""".stripMargin)),

    Query("q110_overlap_pairs", (s, d) => {
      graft.operators.Winnowing.overlapPairs(
        t(s, d, "documents"), "doc_id", "text",
        minShared = 2, maxDocFreq = 50)
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(winnowFp + """,
        |rare AS (
        |  SELECT fp FROM (SELECT fp, count(*) AS df FROM fp GROUP BY fp)
        |  WHERE df <= 50),
        |pr AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare USING (fp))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin)),

    // ---- BPE merge training (subword tokenizer induction) --------------
    Query("q111_bpe_merges", (s, d) => {
      // 5 merge iterations over the weighted word vocab; the oracle
      // unrolls the same loop in SQL (argmax is count desc, pair asc)
      graft.operators.Bpe.mergesDF(s, t(s, d, "documents"), "text",
        merges = 5)
        .orderBy(col("step"))
    }, Sql(bpeMerges(5))),

    // ---- BPE encoding (tokenize the corpus with learned merges) -------
    Query("q112_bpe_encode", (s, d) => {
      // per-doc token counts under the 5-merge tokenizer; the merge
      // applications run on the vocab table, never on the corpus text
      graft.operators.Bpe.encodeStats(
        t(s, d, "documents"), "doc_id", "text", merges = 5)
        .orderBy(col("doc_id"))
    }, Sql(bpeEncode(5))),

    // ---- BPE tokenization (real token-id sequences) -------------------
    Query("q125_bpe_token_ids", (s, d) => {
      // the tokenizer's true output: per-doc BPE token-id sequences
      // under the 5-merge vocab; ids are sorted-symbol ranks the
      // oracle re-derives in SQL. The sequence is serialized to csv
      // for the compare (the driver's comparator can't hash array
      // cells) — Bpe.encode itself returns the array<int>
      graft.operators.Bpe.encode(
        t(s, d, "documents"), "doc_id", "text", merges = 5)
        .select(col("doc_id"),
          array_join(col("token_ids"), ",").as("token_ids_csv"),
          col("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }, Sql(bpeTokenIds(5))),

    // ---- duplicated-span removal (Lee 2022 remedy) --------------------
    Query("q126_span_removal", (s, d) => {
      // drop corpus-repeated 5-token windows, keep the rest of the
      // document: the exact-substring dedup fix that preserves
      // documents instead of discarding them (q119 is the signal,
      // this is the edit). Digests and int start-positions shuffle;
      // the one text exchange is the rewrite join itself
      graft.operators.SpanDedup.removeDupSpans(
        t(s, d, "documents"), "doc_id", "text", k = 5)
        .orderBy(col("doc_id"))
    }, Sql(
      // Lee 2022 span removal: same window digests as q119 but with
      // start positions; covered positions are dropped from the
      // original-case token stream and the remainder re-joined
      """WITH tk AS (
        |  SELECT doc_id,
        |    CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(text), '\s+') END AS toks,
        |    CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS lt
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, n, s,
        |    md5(array_to_string(lt[s+1 : s+5], ' ')) AS dg
        |  FROM (SELECT doc_id, lt, len(lt) AS n,
        |      unnest(CASE WHEN len(lt) >= 5
        |        THEN range(0, len(lt) - 4) ELSE [0] END) AS s
        |    FROM tk)),
        |dfr AS (
        |  SELECT dg FROM (SELECT DISTINCT doc_id, dg FROM w)
        |  GROUP BY dg HAVING count(*) >= 2),
        |cov AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(range(s, least(s + 5, n))) AS p
        |  FROM w JOIN dfr USING (dg)),
        |pt AS (
        |  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS p,
        |    unnest(toks) AS t
        |  FROM tk),
        |kept AS (
        |  SELECT pt.doc_id, pt.p, pt.t
        |  FROM pt LEFT JOIN cov
        |    ON pt.doc_id = cov.doc_id AND pt.p = cov.p
        |  WHERE cov.p IS NULL),
        |res AS (
        |  SELECT doc_id, string_agg(t, ' ' ORDER BY p) AS cleaned,
        |    count(*) AS nk
        |  FROM kept GROUP BY doc_id)
        |SELECT tk.doc_id,
        |  coalesce(res.cleaned, '') AS cleaned_text,
        |  CAST(coalesce(res.nk, 0) AS BIGINT) AS n_kept,
        |  CAST(len(tk.toks) - coalesce(res.nk, 0) AS BIGINT)
        |    AS n_removed
        |FROM tk LEFT JOIN res ON tk.doc_id = res.doc_id
        |ORDER BY tk.doc_id""".stripMargin)),

    // ---- REAL BMP pixel decode ----------------------------------------
    Query("q127_bmp_decode", (s, d) => {
      // uncompressed-BMP pixel statistics decoded from the container
      // bytes by a codegen'd expression (MediaDecode) — per-channel
      // means over every pixel, exact integer sums inside the
      // expression, rounding only at the surface. The oracle
      // recomputes the same stats from the generator's closed-form
      // pixel formulas, so padding/BGR/row-order decode defects fail
      // the compare. Narrow map over the asset scan: no shuffle
      // before the output ordering, corpus-parallel at any scale.
      val mm = graft.multimodal.MultimodalOps
      val st = graft.multimodal.MediaDecode
        .bmpColumn(col("media_bytes"))
      mm.syntheticDecodableAssets(s, 120)
        .filter(col("modality") === "image")
        .select(col("asset_id"), st.as("__st"))
        .filter(col("__st").isNotNull)
        .select(col("asset_id"),
          col("__st.width").cast("long").as("width"),
          col("__st.height").cast("long").as("height"),
          col("__st.n_pixels").as("n_pixels"),
          (dround(col("__st.sum_r").cast("double") /
            col("__st.n_pixels"), 6) + lit(0)).as("mean_r"),
          (dround(col("__st.sum_g").cast("double") /
            col("__st.n_pixels"), 6) + lit(0)).as("mean_g"),
          (dround(col("__st.sum_b").cast("double") /
            col("__st.n_pixels"), 6) + lit(0)).as("mean_b"))
        .orderBy(col("asset_id"))
    }, Sql(
      // q127/q128: the engine decodes REAL container bytes (BMP pixel
      // rows / WAV PCM samples); the oracle re-derives the expected
      // stats from the generator's closed-form pixel/sample formulas —
      // independent paths that agree only if the byte-level decode
      // (row padding, BGR order, chunk walk, sign extension) is right.
      """WITH img AS (
        |  SELECT CAST(i AS BIGINT) AS i FROM range(0, 120) t(i)
        |  WHERE i % 3 = 0),
        |dims AS (
        |  SELECT i, 8 + i % 9 AS w, 6 + i % 7 AS h FROM img),
        |xs AS (
        |  SELECT i, w, h, unnest(range(0, w)) AS x FROM dims),
        |px AS (
        |  SELECT i, w, h, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT i AS asset_id,
        |  CAST(any_value(w) AS BIGINT) AS width,
        |  CAST(any_value(h) AS BIGINT) AS height,
        |  CAST(count(*) AS BIGINT) AS n_pixels,
        |  round(CAST(sum((i*7 + x*3 + y*5) % 256) AS DOUBLE)
        |    / count(*), 6) + 0 AS mean_r,
        |  round(CAST(sum((i*11 + x*13 + y*17) % 256) AS DOUBLE)
        |    / count(*), 6) + 0 AS mean_g,
        |  round(CAST(sum((i*19 + x*23 + y*29) % 256) AS DOUBLE)
        |    / count(*), 6) + 0 AS mean_b
        |FROM px GROUP BY i ORDER BY asset_id""".stripMargin)),

    // ---- REAL WAV PCM decode ------------------------------------------
    Query("q128_wav_decode", (s, d) => {
      // 16-bit PCM sample statistics decoded via the RIFF chunk walk
      // (MediaDecode): mean amplitude, RMS, peak — the audio-QA
      // triple a crawled-media pipeline gates on. Same oracle
      // principle as q127: DuckDB re-derives the stats from the
      // generator's sample formula; a sign-extension or chunk-offset
      // bug in the decoder breaks the match.
      val mm = graft.multimodal.MultimodalOps
      val st = graft.multimodal.MediaDecode
        .wavColumn(col("media_bytes"))
      mm.syntheticDecodableAssets(s, 120)
        .filter(col("modality") === "audio")
        .select(col("asset_id"), st.as("__st"))
        .filter(col("__st").isNotNull)
        .select(col("asset_id"),
          col("__st.sample_rate").cast("long").as("sample_rate"),
          col("__st.n_samples").as("n_samples"),
          (dround(col("__st.sum_amp").cast("double") /
            col("__st.n_samples"), 6) + lit(0)).as("mean_amp"),
          (dround(sqrt(col("__st.sum_sq").cast("double") /
            col("__st.n_samples")), 6) + lit(0)).as("rms"),
          col("__st.peak_abs").cast("long").as("peak_abs"))
        .orderBy(col("asset_id"))
    }, Sql(
      """WITH aud AS (
        |  SELECT CAST(i AS BIGINT) AS i FROM range(0, 120) t(i)
        |  WHERE i % 3 = 1),
        |ts AS (
        |  SELECT i, unnest(range(0, 60 + (i % 50) * 3)) AS t
        |  FROM aud),
        |smp AS (
        |  SELECT i, ((i*37 + t*101) % 65536) - 32768 AS s FROM ts)
        |SELECT i AS asset_id,
        |  CAST(any_value(8000 + 200 * (i % 5)) AS BIGINT)
        |    AS sample_rate,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  round(CAST(sum(s) AS DOUBLE) / count(*), 6) + 0
        |    AS mean_amp,
        |  round(sqrt(CAST(sum(s*s) AS DOUBLE) / count(*)), 6) + 0
        |    AS rms,
        |  CAST(max(abs(s)) AS BIGINT) AS peak_abs
        |FROM smp GROUP BY i ORDER BY asset_id""".stripMargin)),

    // ---- REAL PNG pixel decode ----------------------------------------
    Query("q161_png_decode", (s, d) => {
      // PNG pixel statistics decoded from the actual container bytes
      // by a codegen'd expression (MediaDecode.pngStats): chunk walk
      // with CRC validation, IDAT inflate through the JDK's zlib, and
      // per-row unfilter across all five PNG filter types (the
      // fixture cycles them by row). The oracle recomputes the same
      // per-channel means from the generator's closed-form pixel
      // formulas, so a defect anywhere in the decode chain —
      // signature, CRC, multi-chunk inflate, Sub/Up/Average/Paeth
      // reconstruction, RGB vs RGBA stride — fails the compare.
      // Narrow map over the asset scan, no shuffle before the output
      // ordering; undecodable assets (every third is noise) null out.
      val mm = graft.multimodal.MultimodalOps
      val st = graft.multimodal.MediaDecode
        .pngColumn(col("media_bytes"))
      mm.syntheticPngAssets(s, 120)
        .select(col("asset_id"), st.as("__st"))
        .filter(col("__st").isNotNull)
        .select(col("asset_id"),
          col("__st.width").cast("long").as("width"),
          col("__st.height").cast("long").as("height"),
          col("__st.channels").cast("long").as("channels"),
          col("__st.n_pixels").as("n_pixels"),
          (dround(col("__st.sum_r").cast("double") /
            col("__st.n_pixels"), 6) + lit(0)).as("mean_r"),
          (dround(col("__st.sum_g").cast("double") /
            col("__st.n_pixels"), 6) + lit(0)).as("mean_g"),
          (dround(col("__st.sum_b").cast("double") /
            col("__st.n_pixels"), 6) + lit(0)).as("mean_b"),
          when(col("__st.channels") === 4,
            dround(col("__st.sum_a").cast("double") /
              col("__st.n_pixels"), 6) + lit(0)).as("mean_a"))
        .orderBy(col("asset_id"))
    }, Sql(
      """WITH img AS (
        |  SELECT CAST(i AS BIGINT) AS i, i % 3 = 1 AS has_a
        |  FROM range(0, 120) t(i) WHERE i % 3 < 2),
        |dims AS (
        |  SELECT i, has_a, 8 + i % 9 AS w, 6 + i % 7 AS h FROM img),
        |xs AS (
        |  SELECT i, has_a, w, h, unnest(range(0, w)) AS x FROM dims),
        |px AS (
        |  SELECT i, has_a, w, h, x, unnest(range(0, h)) AS y FROM xs)
        |SELECT i AS asset_id,
        |  CAST(any_value(w) AS BIGINT) AS width,
        |  CAST(any_value(h) AS BIGINT) AS height,
        |  CAST(any_value(CASE WHEN has_a THEN 4 ELSE 3 END) AS BIGINT)
        |    AS channels,
        |  CAST(count(*) AS BIGINT) AS n_pixels,
        |  round(CAST(sum((i*7 + x*3 + y*5) % 256) AS DOUBLE)
        |    / count(*), 6) + 0 AS mean_r,
        |  round(CAST(sum((i*11 + x*13 + y*17) % 256) AS DOUBLE)
        |    / count(*), 6) + 0 AS mean_g,
        |  round(CAST(sum((i*19 + x*23 + y*29) % 256) AS DOUBLE)
        |    / count(*), 6) + 0 AS mean_b,
        |  CASE WHEN any_value(has_a)
        |    THEN round(CAST(sum((i*13 + x*11 + y*3) % 256) AS DOUBLE)
        |      / count(*), 6) + 0
        |    ELSE NULL END AS mean_a
        |FROM px GROUP BY i ORDER BY asset_id""".stripMargin)),

    // ---- REAL gzip payload decode -------------------------------------
    Query("q162_gzip_decode", (s, d) => {
      // gzipped document records decompressed in-flight by a
      // codegen'd expression (Gunzip: RFC 1952 header walk, raw
      // inflate through the JDK's zlib, CRC32 + ISIZE trailer
      // validation) — the ingestion shape of a crawled corpus. The
      // oracle rebuilds each document's exact text from the fixture's
      // closed-form token formula and compares an md5 of it, so any
      // decompression defect breaks the match; corrupted payloads
      // (every third has a flipped byte — CRC catches it) null out.
      // Narrow map over the scan, no shuffle before the ordering.
      val gz = graft.functions.Gunzip
      gz.syntheticGzipDocs(s, 120)
        .select(col("doc_id"), gz.textColumn(col("gz_bytes")).as("text"))
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_chars"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          md5(col("text").cast("binary")).as("text_md5"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH d AS (
        |  SELECT CAST(i AS BIGINT) AS i FROM range(0, 120) t(i)
        |  WHERE i % 3 < 2),
        |tok AS (
        |  SELECT i, unnest(range(0, 20 + i % 30)) AS j FROM d),
        |w AS (
        |  SELECT i, j,
        |    'w' || CAST((i*7 + j*3) % 11 AS VARCHAR) AS tokstr
        |  FROM tok),
        |txt AS (
        |  SELECT i, string_agg(tokstr, ' ' ORDER BY j) AS text
        |  FROM w GROUP BY i)
        |SELECT i AS doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(20 + i % 30 AS BIGINT) AS n_tokens,
        |  md5(text) AS text_md5
        |FROM txt ORDER BY doc_id""".stripMargin)),

    // ---- URL canonicalization -----------------------------------------
    Query("q167_url_canon", (s, d) => {
      // RFC 3986 syntax-based normalization — the crawl-level dedup
      // precursor: lowercase scheme/host, drop userinfo, strip
      // default ports, collapse/trim path slashes, drop fragments;
      // non-URLs canonicalize to null. Pure composition of codegen'd
      // builtins with RE2-portable patterns, so the oracle replays
      // the identical regex pipeline over the same closed-form
      // fixture strings. Narrow map, no shuffle before the ordering
      graft.ops.UrlCanon.withCanonical(
          graft.ops.UrlCanon.syntheticUrls(s, 110), "url")
        .select(col("url_id"), col("url"), col("canon_url"),
          col("url_host"))
        .orderBy(col("url_id"))
    }, Sql(
      """WITH d AS (
        |  SELECT CAST(i AS BIGINT) AS i FROM range(0, 110) t(i)),
        |raw AS (
        |  SELECT i, CASE WHEN i % 11 = 10
        |    THEN 'not a url ' || CAST(i AS VARCHAR)
        |    ELSE
        |      (CASE WHEN i % 2 = 0 THEN 'HTTP' ELSE 'https' END)
        |      || '://'
        |      || (CASE WHEN i % 7 = 3 THEN 'u:p@' ELSE '' END)
        |      || 'WWW.Example' || CAST(i % 7 AS VARCHAR) || '.COM'
        |      || (['', ':80', ':443', ':8080'])[(i % 4) + 1]
        |      || (['', '/', '//a//b/', '/a/b'])[((i // 4) % 4) + 1]
        |      || (CASE WHEN i % 3 = 0
        |          THEN '?q=' || CAST(i AS VARCHAR) || '&x=1'
        |          ELSE '' END)
        |      || (CASE WHEN i % 5 = 0 THEN '#sec' ELSE '' END)
        |    END AS url
        |  FROM d),
        |parts AS (
        |  SELECT i, url,
        |    lower(regexp_extract(url,
        |      '^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$',
        |      1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(url,
        |      '^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$',
        |      2)), '^[^@]*@', '') AS auth,
        |    regexp_extract(url,
        |      '^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$',
        |      3) AS path0,
        |    regexp_extract(url,
        |      '^([A-Za-z][A-Za-z0-9+.\-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$',
        |      4) AS query
        |  FROM raw),
        |norm AS (
        |  SELECT i, url, scheme, query,
        |    CASE WHEN scheme = 'http'
        |        THEN regexp_replace(auth, ':80$', '')
        |      WHEN scheme = 'https'
        |        THEN regexp_replace(auth, ':443$', '')
        |      ELSE auth END AS authport,
        |    regexp_replace(path0, '/{2,}', '/', 'g') AS path1
        |  FROM parts),
        |fin AS (
        |  SELECT i, url, scheme, query, authport,
        |    regexp_replace(authport, ':[0-9]+$', '') AS host,
        |    CASE WHEN path1 = '' THEN '/'
        |      WHEN length(path1) > 1
        |        THEN regexp_replace(path1, '/$', '')
        |      ELSE path1 END AS path2
        |  FROM norm)
        |SELECT i AS url_id, url,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL
        |    ELSE scheme || '://' || authport || path2 || query END
        |    AS canon_url,
        |  CASE WHEN scheme = '' OR host = '' THEN NULL
        |    ELSE host END AS url_host
        |FROM fin ORDER BY url_id""".stripMargin)),

    // ---- exact set-similarity join (prefix filtering) -----------------
    Query("q168_setsim_join", (s, d) => {
      // AllPairs/PPJoin-style EXACT threshold-Jaccard self-join over
      // 3-shingle sets — the no-false-negative twin of the MinHash
      // path (q24): same planted near-dups, but recall is provable,
      // not probabilistic. Prefix filtering under a rarest-first
      // global token order keeps the candidate join tiny (only
      // ~(1-t)·|set| tokens per doc are probed, and hot tokens sort
      // out of the prefixes); candidates then verify with the exact
      // codegen'd array_intersect. Three keyed shuffles, no n².
      graft.operators.SetSimJoin.shingleJoin(
          t(s, d, "documents"), "doc_id", "text", n = 3,
          threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          dround(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }, Sql(
      // exact threshold-Jaccard pairs, computed via the exploded-shingle
      // equi-join (equivalent to the n² cross join for any t > 0 — a
      // pair with Jaccard >= t shares at least one shingle — but
      // tractable at sf0.1 where the cross join is 12.5M list_intersects)
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 3
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 1),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |      END)) AS tok
        |  FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks FROM documents)),
        |ln AS (SELECT doc_id, count(*) AS len FROM sh GROUP BY doc_id),
        |ov AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b,
        |  round(CAST(inter AS DOUBLE) / (la.len + lb.len - inter), 4)
        |    AS jaccard
        |FROM ov
        |JOIN ln la ON ov.id_a = la.doc_id
        |JOIN ln lb ON ov.id_b = lb.doc_id
        |WHERE CAST(inter AS DOUBLE) / (la.len + lb.len - inter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin)),

    // ---- incremental aggregate maintenance ----------------------------
    Query("q169_incremental_agg", (s, d) => {
      // materialized-view maintenance: the corpus lands in three
      // appends and the (source, lang) aggregate is refreshed after
      // each — refreshes 2 and 3 scan ONLY the appended files and
      // merge with a keys-sized join (mode asserted: the scale path
      // must actually run, not silently fall back to recompute). The
      // oracle is the plain GROUP BY over the full corpus: delta
      // maintenance must be indistinguishable from recompute
      val docs = t(s, d, "documents")
      val root = s"${graft.core.Scratch.root(docs)}/incagg_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      val (base, agg) = (s"$root/base", s"$root/agg")
      val keys = Seq("source", "lang")
      for (i <- 0 to 2) {
        graft.core.VersionedTable.commitAppend(
          docs.filter(pmod(col("doc_id"), lit(3)) === i), base)
        val r = graft.ops.IncrementalAgg.maintain(
          s, base, agg, keys, "n_chars")
        require(i == 0 || r.mode == "incremental",
          s"append $i refreshed via ${r.mode}, not the delta path")
      }
      graft.ops.IncrementalAgg.read(s, agg)
        .orderBy(col("source"), col("lang"))
    }, Sql(
      // delta-maintained aggregate must equal the full-corpus GROUP BY
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS sum_val
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin)),

    Query("q180_incremental_minmax", (s, d) => {
      // q169's delta discipline extended to extrema: min/max are
      // mergeable under the SAME append-only lineage gate (an append
      // can only introduce a new extremum, never retire one), so
      // refreshes 2 and 3 still scan only the appended files; any
      // rewrite lineage falls back to recompute — exactly where a
      // retired extremum would go stale (spec'd)
      val docs = t(s, d, "documents")
      val root = s"${graft.core.Scratch.root(docs)}/incmm_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      val (base, agg) = (s"$root/base", s"$root/agg")
      val keys = Seq("source", "lang")
      for (i <- 0 to 2) {
        graft.core.VersionedTable.commitAppend(
          docs.filter(pmod(col("doc_id"), lit(3)) === i), base)
        val r = graft.ops.IncrementalAgg.maintain(
          s, base, agg, keys, "n_chars", minMax = true)
        require(i == 0 || r.mode == "incremental",
          s"append $i refreshed via ${r.mode}, not the delta path")
      }
      graft.ops.IncrementalAgg.read(s, agg)
        .orderBy(col("source"), col("lang"))
    }, Sql(
      // delta-maintained extrema must equal the plain GROUP BY (min/max
      // ignore nulls on both engines; all-null groups yield null)
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS sum_val,
        |  CAST(min(n_chars) AS BIGINT) AS min_val,
        |  CAST(max(n_chars) AS BIGINT) AS max_val
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin)),

    Query("q181_sketch_view", (s, d) => {
      // sketch-backed materialized view: distinct users (HLL) and
      // value percentiles (GK) per event_type maintained from DELTA
      // FILES ONLY across three appends — state exact distinct/
      // percentile cannot carry incrementally (it is the full value
      // multiset), mergeable sketches can. Checks are the q75/q92
      // envelope discipline: exact n_rows from the view, HLL within
      // 5% of the exact distinct, GK point estimates within 3% rank
      // error (ε=0.01 degrading conservatively over the merge tree)
      val ev = t(s, d, "events")
      val root = s"${graft.core.Scratch.root(ev)}/sketchview_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      val (base, agg) = (s"$root/base", s"$root/agg")
      for (i <- 0 to 2) {
        graft.core.VersionedTable.commitAppend(
          ev.filter(pmod(col("event_id"), lit(3)) === i), base)
        val r = graft.ops.IncrementalAgg.maintainSketch(
          s, base, agg, Seq("event_type"), "user_id", "value")
        require(i == 0 || r.mode == "incremental",
          s"append $i refreshed via ${r.mode}, not the delta path")
      }
      val sk = graft.ops.IncrementalAgg.readSketch(s, agg)
      val exact = ev.groupBy(col("event_type"))
        .agg(count_distinct(col("user_id")).as("__nd"))
      val est = sk.join(exact, Seq("event_type")).select(
        col("event_type"), col("n_rows"),
        (abs(col("approx_distinct") - col("__nd")) <=
          col("__nd").cast("double") * 0.05).as("ok_distinct"),
        col("p50"), col("p95"))
      ev.select(col("event_type"), col("value"))
        .join(broadcast(est), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(first(col("n_rows")).as("n_rows"),
          first(col("ok_distinct")).as("ok_distinct"),
          (abs(sum(when(col("value") <= col("p50"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)) - 0.5) <= 0.03).as("ok50"),
          (abs(sum(when(col("value") <= col("p95"), 1L).otherwise(0L))
            .cast("double") / count(lit(1)) - 0.95) <= 0.03).as("ok95"))
        .orderBy(col("event_type"))
    }, Sql(
      // sketch-backed view: exact row counts from the maintained state;
      // the sketch estimates are impl-specific, so the oracle pins the
      // booleans (the q75/q92 discipline) — a sketch drifting past its
      // envelope flips a TRUE and reds the row
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |  TRUE AS ok_distinct, TRUE AS ok50, TRUE AS ok95
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin)),

    // ---- bloom file-skipping point lookup -----------------------------
    Query("q170_bloom_skip", (s, d) => {
      // equality-predicate data skipping: doc_id hash-interleaves
      // across the 8 committed files, so every file's [min, max]
      // envelope spans the whole id domain and range pruning keeps
      // all of them — the per-file Bloom sidecar keeps only the
      // files that (probably) hold the probed keys, and the
      // row-level re-filter makes the result exact (fp-proof).
      // Pruning effectiveness is pinned in BloomSkipSpec
      val docs = t(s, d, "documents")
      val root = s"${graft.core.Scratch.root(docs)}/bloomskip_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      val base = s"$root/t"
      graft.core.VersionedTable.commitAppend(
        docs.repartition(8, col("doc_id")), base)
      graft.core.VersionedTable.publishBloom(s, base, "doc_id")
      val keys = Seq(3L, 77L, 202L, 333L, 444L)
      graft.core.VersionedTable.readPointLookup(s, base, "doc_id", keys)
        .filter(col("doc_id").isin(keys: _*))
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"))
        .orderBy(col("doc_id"))
    }, Sql(
      // bloom-pruned point lookup must equal the plain filter
      """SELECT doc_id, source, lang, n_chars FROM documents
        |WHERE doc_id IN (3, 77, 202, 333, 444)
        |ORDER BY doc_id""".stripMargin)),

    // ---- compression-ratio quality signal -----------------------------
    Query("q171_compress_ratio", (s, d) => {
      // deflate-the-bytes repetitiveness filter (the curation signal
      // the n-gram heuristics approximate, computed by an actual
      // compressor; template spam compresses far below prose).
      // Rows-only (the entry states why); correctness rides
      // DeflateRatioSpec's lossless roundtrip law against the
      // independent Inflater decode, and q187's oracle reads this dump.
      // Narrow codegen'd map over the scan, no shuffle before the sort
      val dl = graft.functions.Deflate
      t(s, d, "documents")
        .select(col("doc_id"),
          octet_length(col("text")).cast("long").as("n_bytes"),
          dl.column(col("text")).cast("long").as("deflate_len"),
          dround(dl.ratio(col("text")), 4).as("ratio"))
        .withColumn("too_repetitive", col("ratio") < 0.42)
        .orderBy(col("doc_id"))
    }, RowsOnly(noDeflate)),

    Query("q187_compress_gate", (s, d) => {
      // the q171 codec's DOWNSTREAM curation gate, fixture-oracled
      // the q103-q105 way: DuckDB has no zlib, so the oracle reads
      // q171's Spark-dumped ratios (__VERIFY_OUT__ fixture) and
      // replays the whole gate — per-source keep/drop rollup — in
      // SQL. Only the deflate byte count itself stays under
      // DeflateRatioSpec's lossless-roundtrip law; everything the
      // ratio DECIDES is now hash-checked. One narrow scan + one
      // source-keyed agg, no extra shuffle
      val dl = graft.functions.Deflate
      t(s, d, "documents")
        .select(col("source"),
          dround(dl.ratio(col("text")), 4).as("ratio"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("ratio") < 0.42, 1L).otherwise(0L))
            .as("n_repetitive"),
          // fixed-point: the 4-decimal ratio ×10⁴ is integral, so the
          // distributed sum is exact and order-free (the q108 lesson —
          // a double sum's 4th decimal is partition-order-dependent)
          sum(round(col("ratio") * 10000, 0).cast("long"))
            .as("sum_ratio_e4"))
        .orderBy(col("source"))
    }, Sql(
      // compression-ratio quality gate, fixture-oracled the q103-q105
      // way: DuckDB has no zlib, so the per-doc ratios come from q171's
      // Spark dump and the oracle replays the whole downstream gate —
      // threshold filter + per-source rollup — in SQL. A wrong join,
      // threshold, or rollup breaks the hash; the codec itself stays
      // under DeflateRatioSpec's roundtrip law
      """WITH r AS (
        |  SELECT doc_id, ratio FROM
        |    read_parquet('__VERIFY_OUT__/q171_compress_ratio/*.parquet'))
        |SELECT d.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN r.ratio < 0.42 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_repetitive,
        |  CAST(sum(CAST(round(r.ratio * 10000) AS BIGINT))
        |    AS BIGINT) AS sum_ratio_e4
        |FROM documents d JOIN r ON d.doc_id = r.doc_id
        |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // ---- regular-grid time-series resampling ---------------------------
    Query("q188_resample_locf", (s, d) => {
      // hourly LOCF resample of each user's click-value series: aligned
      // grid from a per-key (min,max) agg + sequence/explode, value via
      // the single-shuffle as-of window (no range-join pair blowup)
      graft.ops.Resample.locf(
          t(s, d, "events").filter(col("event_type") === "click"),
          Seq("user_id"), "ts", "value", stepUs = 3600000000L)
        .orderBy(col("user_id"), col("g_us"))
    }, Sql(
      // regular-grid LOCF resample: per-user aligned hourly grid over the
      // click-series span, latest observation at-or-before each point via
      // DuckDB's native ASOF JOIN (inclusive >=, mirroring the Spark
      // union-window formulation's tie order)
      """WITH r AS (
        |  SELECT user_id, epoch_us(ts) AS t, max(value) AS v
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |b AS (
        |  SELECT user_id,
        |    min(t) + ((3600000000 - (min(t) % 3600000000 + 3600000000)
        |      % 3600000000) % 3600000000) AS lo,
        |    max(t) - ((max(t) % 3600000000 + 3600000000)
        |      % 3600000000) AS hi
        |  FROM r GROUP BY 1),
        |g AS (
        |  SELECT user_id, unnest(generate_series(lo, hi, 3600000000)) AS g_us
        |  FROM b WHERE lo <= hi)
        |SELECT g.user_id, g.g_us, r.v AS value
        |FROM g ASOF LEFT JOIN r
        |  ON g.user_id = r.user_id AND g.g_us >= r.t
        |ORDER BY 1, 2""".stripMargin)),

    Query("q190_ewma", (s, d) => {
      // per-user EWMA smoothing of the click-value series: a native
      // DeclarativeAggregate folded sequentially by the window's
      // running frame (bit-reproducible IEEE order; groupBy use raises).
      // Duplicate timestamps collapse by max() first so the fold order
      // is total — same determinism discipline as q188/q189. Nulls are
      // dropped up front: DuckDB's list_reduce fold would NULL-poison
      // where the aggregate's null-carry law keeps state (spec'd at
      // unit level instead)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("t_us"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      t(s, d, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("value"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(col("value")).as("v"))
        .select(col("user_id"), col("t_us"),
          dround(graft.functions.Ewma.ewma(col("v"), 0.3).over(w), 4)
            .as("ewma"))
        .orderBy(col("user_id"), col("t_us"))
    }, Sql(
      // EWMA replayed as the identical sequential IEEE fold: list the
      // ordered series per user, fold prefix i with the same
      // s := 0.3·x + 0.7·s update (CASTs because DuckDB bare decimals
      // are DECIMAL, and DECIMAL·DOUBLE could round differently)
      """WITH r AS (
        |  SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |o AS (
        |  SELECT user_id, t_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t_us) AS rn
        |  FROM r),
        |l AS (
        |  SELECT user_id, list(v ORDER BY t_us) AS vs FROM r GROUP BY 1)
        |SELECT o.user_id, o.t_us,
        |  round(list_reduce(list_slice(l.vs, 1, o.rn),
        |    (s, x) -> CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * s),
        |    4) AS ewma
        |FROM o JOIN l USING (user_id)
        |ORDER BY 1, 2""".stripMargin)),

    Query("q192_image_resize", (s, d) => {
      // bilinear thumbnail resize of the synthetic PNG corpus to a
      // fixed 4x4 RGB tensor (the decode->RESIZE->embed ingestion
      // step), one value per output row so the oracle can replay the
      // EXACT double-arithmetic sampling from the generator's pixel
      // formulas — q161's discipline extended from stats to geometry.
      // Narrow in-row map (pngScan + zero-shuffle sampling); every
      // third asset is noise and must null out, not crash
      val mm = graft.multimodal.MultimodalOps
      val rs = graft.multimodal.ImageResize.column(col("media_bytes"), 4, 4)
      mm.syntheticPngAssets(s, 120)
        .select(col("asset_id"), rs.as("__r"))
        .filter(col("__r").isNotNull)
        .select(col("asset_id"), posexplode(col("__r")))
        .select(col("asset_id"), col("pos").cast("long").as("idx"),
          dround(col("col").cast("double"), 4).as("v"))
        .orderBy(col("asset_id"), col("idx"))
    }, Sql(
      // bilinear resize replayed from the PNG generator's closed-form
      // pixel formulas: identical double operation order (half-pixel
      // centers, clamp, nested lerp association), float-cast at the
      // output exactly where the expression casts — any defect in the
      // decode, orientation, coordinate mapping, or weight arithmetic
      // moves a 4th decimal somewhere in the 3840 cells
      """WITH img AS (
        |  SELECT CAST(i AS BIGINT) AS i FROM range(0, 120) t(i)
        |  WHERE i % 3 < 2),
        |dims AS (SELECT i, 8 + i % 9 AS w, 6 + i % 7 AS h FROM img),
        |oys AS (SELECT i, w, h, unnest(range(0, 4)) AS oy FROM dims),
        |cell AS (SELECT i, w, h, oy, unnest(range(0, 4)) AS ox FROM oys),
        |coord AS (
        |  SELECT i, w, h, oy, ox,
        |    least(greatest(((oy + CAST(0.5 AS DOUBLE)) * h) / 4
        |        - CAST(0.5 AS DOUBLE), CAST(0 AS DOUBLE)),
        |      CAST(h - 1 AS DOUBLE)) AS sy,
        |    least(greatest(((ox + CAST(0.5 AS DOUBLE)) * w) / 4
        |        - CAST(0.5 AS DOUBLE), CAST(0 AS DOUBLE)),
        |      CAST(w - 1 AS DOUBLE)) AS sx
        |  FROM cell),
        |pts AS (
        |  SELECT i, w, h, oy, ox,
        |    CAST(floor(sy) AS BIGINT) AS y0, sy - floor(sy) AS fy,
        |    CAST(floor(sx) AS BIGINT) AS x0, sx - floor(sx) AS fx,
        |    least(CAST(floor(sy) AS BIGINT) + 1, h - 1) AS y1,
        |    least(CAST(floor(sx) AS BIGINT) + 1, w - 1) AS x1
        |  FROM coord),
        |chans AS (SELECT p.*, unnest([0, 1, 2]) AS c FROM pts p),
        |corner AS (
        |  SELECT i, oy, ox, c, fy, fx,
        |    CASE c WHEN 0 THEN (i*7 + x0*3 + y0*5) % 256
        |           WHEN 1 THEN (i*11 + x0*13 + y0*17) % 256
        |           ELSE (i*19 + x0*23 + y0*29) % 256 END AS p00,
        |    CASE c WHEN 0 THEN (i*7 + x1*3 + y0*5) % 256
        |           WHEN 1 THEN (i*11 + x1*13 + y0*17) % 256
        |           ELSE (i*19 + x1*23 + y0*29) % 256 END AS p01,
        |    CASE c WHEN 0 THEN (i*7 + x0*3 + y1*5) % 256
        |           WHEN 1 THEN (i*11 + x0*13 + y1*17) % 256
        |           ELSE (i*19 + x0*23 + y1*29) % 256 END AS p10,
        |    CASE c WHEN 0 THEN (i*7 + x1*3 + y1*5) % 256
        |           WHEN 1 THEN (i*11 + x1*13 + y1*17) % 256
        |           ELSE (i*19 + x1*23 + y1*29) % 256 END AS p11
        |  FROM chans)
        |SELECT i AS asset_id, (oy * 4 + ox) * 3 + c AS idx,
        |  round(CAST(CAST(
        |    (1 - fy) * ((1 - fx) * p00 + fx * p01) +
        |    fy * ((1 - fx) * p10 + fx * p11)
        |  AS FLOAT) AS DOUBLE), 4) AS v
        |FROM corner ORDER BY asset_id, idx""".stripMargin)),

    Query("q193_wav_resample", (s, d) => {
      // fixed-length PCM resample of the synthetic audio clips to a
      // 32-sample tensor (q192's sampling law in 1-D): the oracle
      // replays the interpolation from the generator's sample formula.
      // Zero-copy in-row sampling straight off the container bytes
      val mm = graft.multimodal.MultimodalOps
      val rs = graft.multimodal.AudioResample.column(col("media_bytes"), 32)
      mm.syntheticDecodableAssets(s, 120)
        .filter(col("modality") === "audio")
        .select(col("asset_id"), rs.as("__r"))
        .filter(col("__r").isNotNull)
        .select(col("asset_id"), posexplode(col("__r")))
        .select(col("asset_id"), col("pos").cast("long").as("idx"),
          dround(col("col").cast("double"), 4).as("v"))
        .orderBy(col("asset_id"), col("idx"))
    }, Sql(
      // PCM resample replayed from the WAV generator's sample formula:
      // the q192 sampling law in 1-D, identical double order, float-cast
      // where the expression casts
      """WITH aud AS (
        |  SELECT CAST(i AS BIGINT) AS i, 60 + (i % 50) * 3 AS n
        |  FROM range(0, 120) t(i) WHERE i % 3 = 1),
        |cell AS (SELECT i, n, unnest(range(0, 32)) AS o FROM aud),
        |coord AS (
        |  SELECT i, n, o,
        |    least(greatest(((o + CAST(0.5 AS DOUBLE)) * n) / 32
        |        - CAST(0.5 AS DOUBLE), CAST(0 AS DOUBLE)),
        |      CAST(n - 1 AS DOUBLE)) AS sx
        |  FROM cell),
        |pts AS (
        |  SELECT i, n, o,
        |    CAST(floor(sx) AS BIGINT) AS x0, sx - floor(sx) AS fx,
        |    least(CAST(floor(sx) AS BIGINT) + 1, n - 1) AS x1
        |  FROM coord)
        |SELECT i AS asset_id, o AS idx,
        |  round(CAST(CAST(
        |    (1 - fx) * (((i*37 + x0*101) % 65536) - 32768) +
        |    fx * (((i*37 + x1*101) % 65536) - 32768)
        |  AS FLOAT) AS DOUBLE), 4) AS v
        |FROM pts ORDER BY asset_id, idx""".stripMargin)),

    Query("q194_holt", (s, d) => {
      // Holt linear-trend smoothing of the click series (level+slope
      // state; level+trend = the one-step forecast a sensor pipeline
      // alarms against) — third ordered-fold aggregate, same window
      // contract and null discipline as q190/q191
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("user_id")).orderBy(col("t_us"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      t(s, d, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("value"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(col("value")).as("v"))
        .select(col("user_id"), col("t_us"),
          graft.functions.Holt.holt(col("v"), 0.4, 0.3).over(w).as("h"))
        .select(col("user_id"), col("t_us"),
          // + 0 normalizes IEEE -0.0 (a trend decaying to zero from
          // below rounds to '-0.0' in one engine and '0.0' in the
          // other — hit 1 cell in 19,863 at sf0.1)
          (dround(col("h.level"), 4) + lit(0)).as("level"),
          (dround(col("h.trend"), 4) + lit(0)).as("trend"),
          (dround(col("h.level") + col("h.trend"), 4) + lit(0))
            .as("forecast"))
        .orderBy(col("user_id"), col("t_us"))
    }, Sql(
      // Holt replayed step-exactly by a recursive CTE (q191's shape):
      // the new level expression is DUPLICATED inside the trend update
      // exactly as the aggregate re-derives it, same parenthesization
      """WITH RECURSIVE r AS (
        |  SELECT user_id, t_us, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t_us) AS rn
        |  FROM (
        |    SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v
        |    FROM events
        |    WHERE event_type = 'click' AND value IS NOT NULL
        |    GROUP BY 1, 2)),
        |c AS (
        |  SELECT user_id, t_us, rn, v AS s, CAST(0 AS DOUBLE) AS b
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.t_us, r.rn,
        |    CAST(0.4 AS DOUBLE) * r.v
        |      + CAST(0.6 AS DOUBLE) * (c.s + c.b),
        |    CAST(0.3 AS DOUBLE) * ((CAST(0.4 AS DOUBLE) * r.v
        |        + CAST(0.6 AS DOUBLE) * (c.s + c.b)) - c.s)
        |      + CAST(0.7 AS DOUBLE) * c.b
        |  FROM c JOIN r ON r.user_id = c.user_id AND r.rn = c.rn + 1)
        |SELECT user_id, t_us,
        |  round(s, 4) + 0 AS level, round(b, 4) + 0 AS trend,
        |  round(s + b, 4) + 0 AS forecast
        |FROM c ORDER BY 1, 2""".stripMargin)),

    Query("q195_holt_winters", (s, d) => {
      // Holt-Winters additive seasonal smoothing (triple exponential)
      // of the click series: level + trend + a period-6 seasonal cycle
      // (the reference's electricity domain is daily-periodic hourly
      // prices, which plain Holt q194 cannot track). Fourth ordered-
      // fold aggregate, same window contract and null discipline; the
      // seasonal index counts observations, so the q188/q189 grid
      // resample is the companion when wall-clock periodicity is meant
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("user_id")).orderBy(col("t_us"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      t(s, d, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("value"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(col("value")).as("v"))
        .select(col("user_id"), col("t_us"),
          graft.functions.HoltWinters
            .holtWinters(col("v"), 0.3, 0.2, 0.4, 6).over(w).as("h"))
        .select(col("user_id"), col("t_us"),
          // + 0 normalizes IEEE -0.0 (q194's one-in-20k cell)
          (dround(col("h.level"), 4) + lit(0)).as("level"),
          (dround(col("h.trend"), 4) + lit(0)).as("trend"),
          (dround(col("h.seasonal"), 4) + lit(0)).as("seasonal"),
          (dround(col("h.forecast"), 4) + lit(0)).as("forecast"))
        .orderBy(col("user_id"), col("t_us"))
    }, Sql(
      // Holt-Winters replayed step-exactly by a recursive CTE carrying
      // the period-6 seasonal cycle as a LIST column: the new level is
      // DUPLICATED inside the trend and seasonal updates exactly as the
      // aggregate re-derives it, same parenthesization; the cycle rewrite
      // (list_transform CASE on the slot) mirrors the concat-of-slices
      """WITH RECURSIVE r AS (
        |  SELECT user_id, t_us, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t_us) AS rn
        |  FROM (
        |    SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v
        |    FROM events
        |    WHERE event_type = 'click' AND value IS NOT NULL
        |    GROUP BY 1, 2)),
        |c AS (
        |  SELECT user_id, t_us, rn, CAST(v AS DOUBLE) AS l,
        |    CAST(0 AS DOUBLE) AS b,
        |    list_transform(range(0, 6), j -> CAST(0 AS DOUBLE)) AS seas
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.t_us, r.rn,
        |    CAST(0.3 AS DOUBLE) * (r.v - c.seas[((r.rn - 1) % 6) + 1])
        |      + CAST(0.7 AS DOUBLE) * (c.l + c.b),
        |    CAST(0.2 AS DOUBLE) * ((CAST(0.3 AS DOUBLE)
        |          * (r.v - c.seas[((r.rn - 1) % 6) + 1])
        |        + CAST(0.7 AS DOUBLE) * (c.l + c.b)) - c.l)
        |      + CAST(0.8 AS DOUBLE) * c.b,
        |    list_transform(range(0, 6), j ->
        |      CASE WHEN j = (r.rn - 1) % 6
        |        THEN CAST(0.4 AS DOUBLE) * (r.v - (CAST(0.3 AS DOUBLE)
        |              * (r.v - c.seas[((r.rn - 1) % 6) + 1])
        |            + CAST(0.7 AS DOUBLE) * (c.l + c.b)))
        |          + CAST(0.6 AS DOUBLE) * c.seas[((r.rn - 1) % 6) + 1]
        |        ELSE c.seas[j + 1] END)
        |  FROM c JOIN r ON r.user_id = c.user_id AND r.rn = c.rn + 1)
        |SELECT user_id, t_us,
        |  round(l, 4) + 0 AS level, round(b, 4) + 0 AS trend,
        |  round(seas[((rn - 1) % 6) + 1], 4) + 0 AS seasonal,
        |  round(l + b + seas[(rn % 6) + 1], 4) + 0 AS forecast
        |FROM c ORDER BY 1, 2""".stripMargin)),

    Query("q196_image_ann_ivf", (s, d) => {
      // the multimodal retrieval capstone: decode → bilinear resize
      // (q192's tensors, 4dp-quantized — the indexing contract that
      // makes the fixture replay exact) → IVF image similarity, the
      // way q132 closed text ANN. Deterministic first-8-by-id
      // codebook, 2-probe, exact cosine inside probed cells only; the
      // oracle replays cell assignment, probing, and ranking in SQL
      // from the dumped q192 fixture
      val vecs = graft.multimodal.MultimodalOps
        .imageTensorVectors(s, 120, 4, 4)
      graft.operators.SimilarityOps.ivfTopK(
        vecs, vecs.filter(col("asset_id") < 30), "asset_id", "vec",
        "asset_id", k = 5, cells = 8, nprobe = 2, trainIters = 0)
        .orderBy(col("query_id"), col("rn"))
    }, Sql(
      // multimodal ANN capstone: the ENTIRE pipeline downstream of the
      // resize — vector assembly, deterministic codebook, cosine cell
      // assignment (ties to the smaller cell), 2-probe, exclude-self
      // exact cosine, (score desc, id) ranking — replayed in SQL from
      // the dumped q192 tensor fixture (the q132 oracle's shape over
      // image features). Only the decode+resize arithmetic itself stays
      // with q192's own generator-formula oracle.
      """WITH fx AS (
        |  SELECT * FROM
        |    read_parquet('__VERIFY_OUT__/q192_image_resize/*.parquet')),
        |dv AS (
        |  SELECT asset_id, list(v ORDER BY idx) AS vv
        |  FROM fx GROUP BY 1),
        |cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY asset_id) - 1
        |      AS INTEGER) AS cell, vv AS cv
        |  FROM (SELECT asset_id, vv FROM dv ORDER BY asset_id LIMIT 8)),
        |asn AS (
        |  SELECT asset_id, cell FROM (
        |    SELECT dv.asset_id, cb.cell, row_number() OVER (
        |      PARTITION BY dv.asset_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM dv CROSS JOIN cb) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT dv.asset_id AS query_id, cb.cell, row_number() OVER (
        |      PARTITION BY dv.asset_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM dv CROSS JOIN cb WHERE dv.asset_id < 30) WHERE rn <= 2),
        |probescore AS (
        |  SELECT p.query_id, a.asset_id AS neighbor_id,
        |    list_cosine_similarity(qv.vv, nv.vv) AS cs
        |  FROM probes p JOIN asn a ON p.cell = a.cell
        |  JOIN dv qv ON qv.asset_id = p.query_id
        |  JOIN dv nv ON nv.asset_id = a.asset_id
        |  WHERE a.asset_id <> p.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cs, CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |    AS INTEGER) AS rn
        |  FROM probescore)
        |SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim, rn
        |FROM ranked WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin)),

    Query("q198_smoothed_view", (s, d) => {
      // the maintained gold-table composition (q188 LOCF grid resample
      // → q190 EWMA) as a batch query: what TimeSeriesView maintains
      // incrementally from a stream, verified here end-to-end against
      // one oracle (grid ASOF + per-key ordered fold). 6-hour grid —
      // the smoothing grain a dashboard stores, and it keeps the
      // oracle's O(n²) slice-fold tractable at sf0.1
      graft.ops.TimeSeriesView.smoothedBatch(
          t(s, d, "events").filter(col("event_type") === "click"),
          Seq("user_id"), "ts", "value", stepUs = 21600000000L,
          alpha = 0.3)
        .select(col("user_id"), col("g_us"),
          dround(col("value"), 4).as("value"),
          dround(col("ewma"), 4).as("ewma"))
        .orderBy(col("user_id"), col("g_us"))
    }, Sql(
      // the maintained smoothed view's batch twin: q188's grid + ASOF
      // LOCF at a 6-hour step, then q190's slice/list_reduce EWMA fold
      // over the GRID values in grid order — one oracle for the
      // composition TimeSeriesView maintains incrementally
      """WITH r AS (
        |  SELECT user_id, epoch_us(ts) AS t, max(value) AS v
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |b AS (
        |  SELECT user_id,
        |    min(t) + ((21600000000 - (min(t) % 21600000000 + 21600000000)
        |      % 21600000000) % 21600000000) AS lo,
        |    max(t) - ((max(t) % 21600000000 + 21600000000)
        |      % 21600000000) AS hi
        |  FROM r GROUP BY 1),
        |g AS (
        |  SELECT user_id, unnest(generate_series(lo, hi, 21600000000)) AS g_us
        |  FROM b WHERE lo <= hi),
        |loc AS (
        |  SELECT g.user_id, g.g_us, r.v
        |  FROM g ASOF LEFT JOIN r
        |    ON g.user_id = r.user_id AND g.g_us >= r.t),
        |o AS (
        |  SELECT user_id, g_us, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY g_us) AS rn
        |  FROM loc),
        |l AS (
        |  SELECT user_id, list(v ORDER BY g_us) AS vs FROM loc GROUP BY 1)
        |SELECT o.user_id, o.g_us, round(o.v, 4) AS value,
        |  round(list_reduce(list_slice(l.vs, 1, o.rn),
        |    (s, x) -> CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * s),
        |    4) AS ewma
        |FROM o JOIN l USING (user_id)
        |ORDER BY 1, 2""".stripMargin)),

    Query("q199_seasonal_decompose", (s, d) => {
      // classical additive decomposition of the click series (period-6
      // centered 2×m MA trend, zero-centered per-slot seasonal,
      // residual): the two-sided EXPLANATION of a finished series,
      // complementing the forward ordered-fold smoothers q190/q194/
      // q195. All distributed sums are integer (1e-4 quantization on
      // entry), so the oracle replays the arithmetic hash-exactly
      graft.ops.Decompose.additive(
          t(s, d, "events").filter(col("event_type") === "click"),
          Seq("user_id"), "ts", "value", period = 6)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          dround(col("v"), 4).as("v"), col("slot"),
          (dround(col("trend"), 4) + lit(0)).as("trend"),
          (dround(col("seasonal"), 4) + lit(0)).as("seasonal"),
          (dround(col("resid"), 4) + lit(0)).as("resid"))
        .orderBy(col("user_id"), col("t_us"))
    }, Sql(
      // classical additive decomposition replayed step-exactly: the MA
      // numerator and all slot sums are INTEGER arithmetic on the 1e-4
      // quantized values (Decompose's determinism contract), each double
      // division on identical operands — window frames, slot grouping,
      // centering and the left join mirror the operator stage by stage
      """WITH base AS (
        |  SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, t_us, v,
        |    CAST((row_number() OVER w - 1) % 6 AS INTEGER) AS slot,
        |    sum(CAST(round(v * 10000) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY t_us
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
        |    count(*) OVER (
        |      PARTITION BY user_id ORDER BY t_us
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7,
        |    lag(CAST(round(v * 10000) AS BIGINT), 3) OVER w AS vlag,
        |    lead(CAST(round(v * 10000) AS BIGINT), 3) OVER w AS vlead
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t_us)),
        |de AS (
        |  SELECT user_id, t_us, v, slot, trend,
        |    CAST(round((v - trend) * 10000) AS BIGINT) AS d_e4
        |  FROM (
        |    SELECT user_id, t_us, v, slot,
        |      CASE WHEN c7 = 7 THEN
        |        CAST(2 * s7 - vlag - vlead AS DOUBLE) / 120000.0
        |      END AS trend
        |    FROM r)),
        |slots AS (
        |  SELECT user_id, slot,
        |    CAST(round(CAST(sum(d_e4) AS DOUBLE) / count(*)) AS BIGINT)
        |      AS sme
        |  FROM de WHERE d_e4 IS NOT NULL GROUP BY 1, 2),
        |ctr AS (
        |  SELECT user_id, slot,
        |    (CAST(sme AS DOUBLE)
        |      - CAST(sum(sme) OVER (PARTITION BY user_id) AS DOUBLE)
        |        / count(*) OVER (PARTITION BY user_id)) / 10000.0
        |      AS seasonal
        |  FROM slots)
        |SELECT d.user_id, d.t_us, round(d.v, 4) AS v, d.slot,
        |  round(d.trend, 4) + 0 AS trend,
        |  round(c.seasonal, 4) + 0 AS seasonal,
        |  round(d.v - d.trend - c.seasonal, 4) + 0 AS resid
        |FROM de d LEFT JOIN ctr c
        |  ON c.user_id = d.user_id AND c.slot = d.slot
        |ORDER BY 1, 2""".stripMargin)),

    Query("q200_ewvar", (s, d) => {
      // exponentially-weighted mean AND variance of the click series
      // (West's one-pass update): the (μ, σ²) state a streaming
      // z-score detector thresholds against — fifth ordered-fold
      // aggregate, same window contract and null discipline as q190.
      // α=0.25 so both α and 1−α are exactly representable doubles
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("user_id")).orderBy(col("t_us"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      t(s, d, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("value"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(col("value")).as("v"))
        .select(col("user_id"), col("t_us"),
          graft.functions.EwVar.ewvar(col("v"), 0.25).over(w).as("e"))
        .select(col("user_id"), col("t_us"),
          (dround(col("e.mean"), 4) + lit(0)).as("ew_mean"),
          (dround(col("e.var"), 4) + lit(0)).as("ew_var"))
        .orderBy(col("user_id"), col("t_us"))
    }, Sql(
      // EW mean/variance replayed step-exactly by a recursive CTE
      // (q194's shape): the PINNED parenthesization Δ·(α·Δ), variance
      // reading the pre-step mean; α=0.25 so α and 1−α are exact
      """WITH RECURSIVE r AS (
        |  SELECT user_id, t_us, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t_us) AS rn
        |  FROM (
        |    SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v
        |    FROM events
        |    WHERE event_type = 'click' AND value IS NOT NULL
        |    GROUP BY 1, 2)),
        |c AS (
        |  SELECT user_id, t_us, rn, CAST(v AS DOUBLE) AS m,
        |    CAST(0 AS DOUBLE) AS s2
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.t_us, r.rn,
        |    c.m + CAST(0.25 AS DOUBLE) * (r.v - c.m),
        |    CAST(0.75 AS DOUBLE) * (c.s2 + (r.v - c.m)
        |      * (CAST(0.25 AS DOUBLE) * (r.v - c.m)))
        |  FROM c JOIN r ON r.user_id = c.user_id AND r.rn = c.rn + 1)
        |SELECT user_id, t_us,
        |  round(m, 4) + 0 AS ew_mean, round(s2, 4) + 0 AS ew_var
        |FROM c ORDER BY 1, 2""".stripMargin)),

    Query("q201_ew_anomaly", (s, d) => {
      // z-score anomaly flags from the EW state: each point is tested
      // against the PRIOR (μ, σ²) — lag(1) of the q200 fold — so the
      // tested observation never absorbs itself before the test.
      // |z| > 3 with a positive prior variance flags the point; the
      // first point and zero-variance warmups read false, never null
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("user_id")).orderBy(col("t_us"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val wo = W.partitionBy(col("user_id")).orderBy(col("t_us"))
      val z = (col("v") - col("pm")) / sqrt(col("pv"))
      t(s, d, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("value"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(col("value")).as("v"))
        .select(col("user_id"), col("t_us"), col("v"),
          graft.functions.EwVar.ewvar(col("v"), 0.25).over(w).as("e"))
        .select(col("user_id"), col("t_us"), col("v"),
          lag(col("e.mean"), 1).over(wo).as("pm"),
          lag(col("e.var"), 1).over(wo).as("pv"))
        .select(col("user_id"), col("t_us"), dround(col("v"), 4).as("v"),
          (dround(when(col("pv") > 0, z), 4) + lit(0)).as("zscore"),
          coalesce(when(col("pv") > 0, abs(z) > 3), lit(false))
            .as("anomaly"))
        .orderBy(col("user_id"), col("t_us"))
    }, Sql(
      // the z-score detector over the same fold: each point tested
      // against the PRIOR (μ, σ²) via lag(1); warmups read false
      """WITH RECURSIVE r AS (
        |  SELECT user_id, t_us, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t_us) AS rn
        |  FROM (
        |    SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v
        |    FROM events
        |    WHERE event_type = 'click' AND value IS NOT NULL
        |    GROUP BY 1, 2)),
        |c AS (
        |  SELECT user_id, t_us, rn, v, CAST(v AS DOUBLE) AS m,
        |    CAST(0 AS DOUBLE) AS s2
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.t_us, r.rn, r.v,
        |    c.m + CAST(0.25 AS DOUBLE) * (r.v - c.m),
        |    CAST(0.75 AS DOUBLE) * (c.s2 + (r.v - c.m)
        |      * (CAST(0.25 AS DOUBLE) * (r.v - c.m)))
        |  FROM c JOIN r ON r.user_id = c.user_id AND r.rn = c.rn + 1),
        |z AS (
        |  SELECT user_id, t_us, v,
        |    lag(m) OVER (PARTITION BY user_id ORDER BY t_us) AS pm,
        |    lag(s2) OVER (PARTITION BY user_id ORDER BY t_us) AS pv
        |  FROM c)
        |SELECT user_id, t_us, round(v, 4) AS v,
        |  CASE WHEN pv > 0
        |    THEN round((v - pm) / sqrt(pv), 4) + 0 END AS zscore,
        |  coalesce(CASE WHEN pv > 0
        |    THEN abs((v - pm) / sqrt(pv)) > 3 END, FALSE) AS anomaly
        |FROM z ORDER BY 1, 2""".stripMargin)),

    Query("q202_mad_outliers", (s, d) => {
      // robust per-key outlier flags: |v − median| > 3 × MAD over each
      // user's click series — the whole-series robust complement to
      // q201's forward EW z-score. Exact medians over integer-scaled
      // values keep every intermediate an exact binary fraction, so
      // the flag comparison replays bit-for-bit in the oracle
      graft.ops.RobustStats.madOutliers(
          t(s, d, "events").filter(col("event_type") === "click"),
          Seq("user_id"), "ts", "value", k = 3.0)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          dround(col("v"), 4).as("v"),
          dround(col("med"), 4).as("med"),
          dround(col("mad"), 4).as("mad"), col("outlier"))
        .orderBy(col("user_id"), col("t_us"))
    }, Sql(
      // MAD outlier flags replayed exactly: quantile_cont over the same
      // integer-scaled values interpolates exact binary fractions (d is
      // always 0 or 0.5), so median, MAD and the flag comparison are
      // bit-identical to Spark's exact `percentile` despite the two
      // engines' different (algebraically equal) interpolation forms
      """WITH base AS (
        |  SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v,
        |    CAST(round(max(value) * 100) AS BIGINT) AS ve
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |med AS (
        |  SELECT user_id, quantile_cont(ve, 0.5) AS med
        |  FROM base GROUP BY 1),
        |dev AS (
        |  SELECT b.user_id, b.t_us, b.v, m.med,
        |    abs(b.ve - m.med) AS ad
        |  FROM base b JOIN med m USING (user_id)),
        |mad AS (
        |  SELECT user_id, quantile_cont(ad, 0.5) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.user_id, d.t_us, round(d.v, 4) AS v,
        |  round(d.med / 100.0, 4) AS med,
        |  round(m.mad / 100.0, 4) AS mad,
        |  d.ad > 3.0 * m.mad AS outlier
        |FROM dev d JOIN mad m USING (user_id)
        |ORDER BY 1, 2""".stripMargin)),

    Query("q203_seasonal_outliers", (s, d) => {
      // seasonally-adjusted robust outliers: q199's decomposition
      // removes trend + seasonal, q202's MAD thresholds the RESIDUAL —
      // a spike that is merely "the seasonal peak" no longer flags,
      // and a modest value at the seasonal trough now can. Residuals
      // quantize at 1e-4 (they carry full double precision), so the
      // MAD chain stays on exact binary fractions
      val dec = graft.ops.Decompose.additive(
          t(s, d, "events").filter(col("event_type") === "click"),
          Seq("user_id"), "ts", "value", period = 6)
        .filter(col("resid").isNotNull)
      graft.ops.RobustStats.madOutliers(
          dec, Seq("user_id"), "ts", "resid", k = 3.0, scale = 10000)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          (dround(col("v"), 4) + lit(0)).as("resid"),
          (dround(col("med"), 4) + lit(0)).as("med"),
          dround(col("mad"), 4).as("mad"), col("outlier"))
        .orderBy(col("user_id"), col("t_us"))
    }, Sql(
      // seasonal-adjusted outliers: q199's decomposition chain verbatim,
      // then q202's MAD chain over the RESIDUAL at 1e-4 scale — both
      // already proven hash-exact on their own, composed here
      """WITH base AS (
        |  SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT user_id, t_us, v,
        |    CAST((row_number() OVER w - 1) % 6 AS INTEGER) AS slot,
        |    sum(CAST(round(v * 10000) AS BIGINT)) OVER (
        |      PARTITION BY user_id ORDER BY t_us
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
        |    count(*) OVER (
        |      PARTITION BY user_id ORDER BY t_us
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7,
        |    lag(CAST(round(v * 10000) AS BIGINT), 3) OVER w AS vlag,
        |    lead(CAST(round(v * 10000) AS BIGINT), 3) OVER w AS vlead
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t_us)),
        |de AS (
        |  SELECT user_id, t_us, v, slot, trend,
        |    CAST(round((v - trend) * 10000) AS BIGINT) AS d_e4
        |  FROM (
        |    SELECT user_id, t_us, v, slot,
        |      CASE WHEN c7 = 7 THEN
        |        CAST(2 * s7 - vlag - vlead AS DOUBLE) / 120000.0
        |      END AS trend
        |    FROM r)),
        |slots AS (
        |  SELECT user_id, slot,
        |    CAST(round(CAST(sum(d_e4) AS DOUBLE) / count(*)) AS BIGINT)
        |      AS sme
        |  FROM de WHERE d_e4 IS NOT NULL GROUP BY 1, 2),
        |ctr AS (
        |  SELECT user_id, slot,
        |    (CAST(sme AS DOUBLE)
        |      - CAST(sum(sme) OVER (PARTITION BY user_id) AS DOUBLE)
        |        / count(*) OVER (PARTITION BY user_id)) / 10000.0
        |      AS seasonal
        |  FROM slots),
        |res AS (
        |  SELECT d.user_id, d.t_us,
        |    d.v - d.trend - c.seasonal AS resid,
        |    CAST(round((d.v - d.trend - c.seasonal) * 10000) AS BIGINT)
        |      AS ve
        |  FROM de d JOIN ctr c
        |    ON c.user_id = d.user_id AND c.slot = d.slot
        |  WHERE d.trend IS NOT NULL),
        |med2 AS (
        |  SELECT user_id, quantile_cont(ve, 0.5) AS med
        |  FROM res GROUP BY 1),
        |dev2 AS (
        |  SELECT b.user_id, b.t_us, b.resid, m.med,
        |    abs(b.ve - m.med) AS ad
        |  FROM res b JOIN med2 m USING (user_id)),
        |mad2 AS (
        |  SELECT user_id, quantile_cont(ad, 0.5) AS mad
        |  FROM dev2 GROUP BY 1)
        |SELECT d.user_id, d.t_us, round(d.resid, 4) + 0 AS resid,
        |  round(d.med / 10000.0, 4) + 0 AS med,
        |  round(m.mad / 10000.0, 4) AS mad,
        |  d.ad > 3.0 * m.mad AS outlier
        |FROM dev2 d JOIN mad2 m USING (user_id)
        |ORDER BY 1, 2""".stripMargin)),

    Query("q204_forecast_backtest", (s, d) => {
      // one-step-ahead forecast backtest: Holt's level+trend at t−1
      // vs the naive carry-forward, scored as per-user MAE — the
      // ship/no-ship table for the smoothing family (q156's A/B
      // discipline applied to forecasting). Absolute errors quantize
      // at 1e-4 and sum as longs, so the distributed aggregation is
      // exact and the winner column can compare INTEGERS, never two
      // float sums a partition order could flip
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("user_id")).orderBy(col("t_us"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      val wo = W.partitionBy(col("user_id")).orderBy(col("t_us"))
      def aeE4(fc: org.apache.spark.sql.Column) =
        sum(round(abs(col("v") - fc) * lit(10000), 0).cast("long"))
      t(s, d, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("value"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(col("value")).as("v"))
        .select(col("user_id"), col("t_us"), col("v"),
          graft.functions.Holt.holt(col("v"), 0.4, 0.3).over(w).as("h"))
        .select(col("user_id"), col("t_us"), col("v"),
          lag(col("h.level") + col("h.trend"), 1).over(wo).as("fc_holt"),
          lag(col("v"), 1).over(wo).as("fc_naive"))
        .filter(col("fc_holt").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          aeE4(col("fc_holt")).as("__ah"),
          aeE4(col("fc_naive")).as("__an"))
        .select(col("user_id"), col("n"),
          dround(col("__ah").cast("double") / col("n") / lit(10000.0), 4)
            .as("mae_holt"),
          dround(col("__an").cast("double") / col("n") / lit(10000.0), 4)
            .as("mae_naive"),
          when(col("__ah") < col("__an"), "holt")
            .when(col("__ah") > col("__an"), "naive")
            .otherwise("tie").as("winner"))
        .orderBy(col("user_id"))
    }, Sql(
      // forecast backtest: q194's Holt CTE (same α/β literals and
      // parenthesization), one-step forecasts via lag, absolute errors
      // quantized e4 and summed as BIGINTs — winner compares integers
      """WITH RECURSIVE r AS (
        |  SELECT user_id, t_us, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t_us) AS rn
        |  FROM (
        |    SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v
        |    FROM events
        |    WHERE event_type = 'click' AND value IS NOT NULL
        |    GROUP BY 1, 2)),
        |c AS (
        |  SELECT user_id, t_us, rn, v, v AS s, CAST(0 AS DOUBLE) AS b
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.t_us, r.rn, r.v,
        |    CAST(0.4 AS DOUBLE) * r.v
        |      + CAST(0.6 AS DOUBLE) * (c.s + c.b),
        |    CAST(0.3 AS DOUBLE) * ((CAST(0.4 AS DOUBLE) * r.v
        |        + CAST(0.6 AS DOUBLE) * (c.s + c.b)) - c.s)
        |      + CAST(0.7 AS DOUBLE) * c.b
        |  FROM c JOIN r ON r.user_id = c.user_id AND r.rn = c.rn + 1),
        |fc AS (
        |  SELECT user_id, t_us, v,
        |    lag(s + b) OVER (PARTITION BY user_id ORDER BY t_us)
        |      AS fc_holt,
        |    lag(v) OVER (PARTITION BY user_id ORDER BY t_us)
        |      AS fc_naive
        |  FROM c),
        |ag AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(round(abs(v - fc_holt) * 10000) AS BIGINT))
        |      AS BIGINT) AS ah,
        |    CAST(sum(CAST(round(abs(v - fc_naive) * 10000) AS BIGINT))
        |      AS BIGINT) AS an
        |  FROM fc WHERE fc_holt IS NOT NULL GROUP BY 1)
        |SELECT user_id, n,
        |  round(CAST(ah AS DOUBLE) / n / 10000.0, 4) AS mae_holt,
        |  round(CAST(an AS DOUBLE) / n / 10000.0, 4) AS mae_naive,
        |  CASE WHEN ah < an THEN 'holt'
        |       WHEN ah > an THEN 'naive' ELSE 'tie' END AS winner
        |FROM ag ORDER BY user_id""".stripMargin)),

    Query("q205_ohlc_bars", (s, d) => {
      // OHLC downsampling bars: 6-hour buckets per user with open =
      // earliest, close = latest, high/low extremes and count — the
      // lossy-but-shaped aggregation a dashboard stores when the LOCF
      // grid (q188) is too fine. Duplicate timestamps collapse first
      // so min_by/max_by never tie; one shuffle at (key, bucket) grain
      val bucketUs = 21600000000L
      t(s, d, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("value"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(col("value")).as("v"))
        .withColumn("bucket_us",
          col("t_us") - ((col("t_us") % bucketUs + bucketUs) % bucketUs))
        .groupBy(col("user_id"), col("bucket_us"))
        .agg(count(lit(1)).as("n"),
          dround(min_by(col("v"), col("t_us")), 4).as("open"),
          dround(max(col("v")), 4).as("high"),
          dround(min(col("v")), 4).as("low"),
          dround(max_by(col("v"), col("t_us")), 4).as("close"))
        .orderBy(col("user_id"), col("bucket_us"))
    }, Sql(
      // OHLC bars: plain bucket aggregation; min_by/max_by tie-free
      // because duplicate timestamps collapse first
      """WITH base AS (
        |  SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |b AS (
        |  SELECT user_id, t_us, v,
        |    t_us - ((t_us % 21600000000 + 21600000000) % 21600000000)
        |      AS bucket_us
        |  FROM base)
        |SELECT user_id, bucket_us, CAST(count(*) AS BIGINT) AS n,
        |  round(min_by(v, t_us), 4) AS open,
        |  round(max(v), 4) AS high,
        |  round(min(v), 4) AS low,
        |  round(max_by(v, t_us), 4) AS close
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Query("q206_rolling_autocorr", (s, d) => {
      // rolling lag-1 autocorrelation over a 12-observation window:
      // the persistence diagnostic that tells a forecaster whether
      // q190's smoothing or q194's trend model is even applicable.
      // All five Pearson components are window sums of LONGS (values
      // quantized e2 — exact, the inputs carry 2 decimals), so the
      // only floating-point ops are the final sqrt/divide on identical
      // operands — partition-independent and oracle-replayable
      val W = org.apache.spark.sql.expressions.Window
      val wo = W.partitionBy(col("user_id")).orderBy(col("t_us"))
      val wf = wo.rowsBetween(-11, 0)
      val x = col("__xe")
      val y = col("__ye")
      val n = count(lit(1)).over(wf)
      val num = (lit(12) * sum(x * y).over(wf)
        - sum(x).over(wf) * sum(y).over(wf)).cast("double")
      val dx = (lit(12) * sum(x * x).over(wf)
        - sum(x).over(wf) * sum(x).over(wf)).cast("double")
      val dy = (lit(12) * sum(y * y).over(wf)
        - sum(y).over(wf) * sum(y).over(wf)).cast("double")
      t(s, d, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("value"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(col("value")).as("v"))
        .withColumn("__xe", round(col("v") * lit(100), 0).cast("long"))
        .withColumn("__ye", lag(col("__xe"), 1).over(wo))
        .filter(col("__ye").isNotNull)
        .withColumn("ac1",
          when(n === 12 && dx > 0 && dy > 0,
            num / (sqrt(dx) * sqrt(dy))))
        .filter(col("ac1").isNotNull)
        .select(col("user_id"), col("t_us"),
          (dround(col("ac1"), 4) + lit(0)).as("ac1"))
        .orderBy(col("user_id"), col("t_us"))
    }, Sql(
      // rolling lag-1 autocorrelation: all five Pearson components are
      // window sums of integers (HUGEINT-exact in DuckDB, long-exact in
      // Spark — both < 2^53 so the DOUBLE casts agree bit-for-bit); the
      // final sqrt/divide runs on identical operands
      """WITH base AS (
        |  SELECT user_id, epoch_us(ts) AS t_us,
        |    CAST(round(max(value) * 100) AS BIGINT) AS ve
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |f AS (
        |  SELECT user_id, t_us, x, y FROM (
        |    SELECT user_id, t_us, ve AS x,
        |      lag(ve) OVER (PARTITION BY user_id ORDER BY t_us) AS y
        |    FROM base) WHERE y IS NOT NULL),
        |wnd AS (
        |  SELECT user_id, t_us,
        |    count(*) OVER w AS n,
        |    CAST(12 * sum(x * y) OVER w
        |      - sum(x) OVER w * sum(y) OVER w AS DOUBLE) AS num,
        |    CAST(12 * sum(x * x) OVER w
        |      - sum(x) OVER w * sum(x) OVER w AS DOUBLE) AS dx,
        |    CAST(12 * sum(y * y) OVER w
        |      - sum(y) OVER w * sum(y) OVER w AS DOUBLE) AS dy
        |  FROM f
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t_us
        |    ROWS BETWEEN 11 PRECEDING AND CURRENT ROW))
        |SELECT user_id, t_us,
        |  round(num / (sqrt(dx) * sqrt(dy)), 4) + 0 AS ac1
        |FROM wnd WHERE n = 12 AND dx > 0 AND dy > 0
        |ORDER BY 1, 2""".stripMargin)),

    Query("q207_kalman", (s, d) => {
      // local-level Kalman filtering of the click series: where q190's
      // EWMA blends with a FIXED gain, the Kalman gain adapts to the
      // estimate's own uncertainty (high after the seed, converging to
      // the steady Q/R blend) — sixth ordered-fold aggregate, same
      // window contract and null discipline. Q=0.25, R=4 are exactly
      // representable so the oracle literals are bit-identical
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("user_id")).orderBy(col("t_us"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      t(s, d, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("value"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(col("value")).as("v"))
        .select(col("user_id"), col("t_us"),
          graft.functions.Kalman.kalman(col("v"), 0.25, 4.0).over(w)
            .as("k"))
        .select(col("user_id"), col("t_us"),
          (dround(col("k.estimate"), 4) + lit(0)).as("estimate"),
          dround(col("k.variance"), 4).as("variance"),
          dround(col("k.gain"), 4).as("gain"))
        .orderBy(col("user_id"), col("t_us"))
    }, Sql(
      // Kalman local-level filter replayed step-exactly (q194's shape):
      // every output column re-derives P⁻ and K VERBATIM as the
      // aggregate's update expressions do, same parenthesization; Q and
      // R are exactly representable doubles
      """WITH RECURSIVE r AS (
        |  SELECT user_id, t_us, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t_us) AS rn
        |  FROM (
        |    SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v
        |    FROM events
        |    WHERE event_type = 'click' AND value IS NOT NULL
        |    GROUP BY 1, 2)),
        |c AS (
        |  SELECT user_id, t_us, rn, CAST(v AS DOUBLE) AS xh,
        |    CAST(4 AS DOUBLE) AS p, CAST(0 AS DOUBLE) AS g
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.t_us, r.rn,
        |    c.xh + ((c.p + CAST(0.25 AS DOUBLE))
        |        / ((c.p + CAST(0.25 AS DOUBLE)) + CAST(4 AS DOUBLE)))
        |      * (r.v - c.xh),
        |    (CAST(1 AS DOUBLE) - ((c.p + CAST(0.25 AS DOUBLE))
        |        / ((c.p + CAST(0.25 AS DOUBLE)) + CAST(4 AS DOUBLE))))
        |      * (c.p + CAST(0.25 AS DOUBLE)),
        |    (c.p + CAST(0.25 AS DOUBLE))
        |      / ((c.p + CAST(0.25 AS DOUBLE)) + CAST(4 AS DOUBLE))
        |  FROM c JOIN r ON r.user_id = c.user_id AND r.rn = c.rn + 1)
        |SELECT user_id, t_us,
        |  round(xh, 4) + 0 AS estimate, round(p, 4) AS variance,
        |  round(g, 4) AS gain
        |FROM c ORDER BY 1, 2""".stripMargin)),

    Query("q191_cusum", (s, d) => {
      // two-sided CUSUM drift alarms on each user's click-value series
      // vs a known target (mu=100, slack=10, threshold 150): both
      // one-sided statistics fold sequentially in the running frame
      // (native DeclarativeAggregate, 2-double buffer). Null values
      // are dropped up front so the recursive-CTE oracle replays the
      // same series (the aggregate's null-carry law is unit-spec'd)
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy(col("user_id")).orderBy(col("t_us"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
      t(s, d, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("value"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(col("value")).as("v"))
        .select(col("user_id"), col("t_us"),
          graft.functions.Cusum.cusum(col("v"), 100.0, 10.0).over(w)
            .as("c"))
        .select(col("user_id"), col("t_us"),
          dround(col("c.s_pos"), 4).as("s_pos"),
          dround(col("c.s_neg"), 4).as("s_neg"),
          (col("c.s_pos") > 150.0 || col("c.s_neg") > 150.0).as("alarm"))
        .orderBy(col("user_id"), col("t_us"))
    }, Sql(
      // CUSUM replayed step-exactly by a recursive CTE walking rn = 1..n
      // per user (true recursion — bounded by the longest series, NOT the
      // exponential inline-CTE trap); same parenthesization
      // s + ((x - mu) - slack) as the Spark update expressions
      """WITH RECURSIVE r AS (
        |  SELECT user_id, t_us, v,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t_us) AS rn
        |  FROM (
        |    SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v
        |    FROM events
        |    WHERE event_type = 'click' AND value IS NOT NULL
        |    GROUP BY 1, 2)),
        |c AS (
        |  SELECT user_id, t_us, rn,
        |    greatest(CAST(0 AS DOUBLE),
        |      (v - CAST(100 AS DOUBLE)) - CAST(10 AS DOUBLE)) AS sp,
        |    greatest(CAST(0 AS DOUBLE),
        |      (CAST(100 AS DOUBLE) - v) - CAST(10 AS DOUBLE)) AS sn
        |  FROM r WHERE rn = 1
        |  UNION ALL
        |  SELECT r.user_id, r.t_us, r.rn,
        |    greatest(CAST(0 AS DOUBLE),
        |      c.sp + ((r.v - CAST(100 AS DOUBLE)) - CAST(10 AS DOUBLE))),
        |    greatest(CAST(0 AS DOUBLE),
        |      c.sn + ((CAST(100 AS DOUBLE) - r.v) - CAST(10 AS DOUBLE)))
        |  FROM c JOIN r ON r.user_id = c.user_id AND r.rn = c.rn + 1)
        |SELECT user_id, t_us, round(sp, 4) AS s_pos, round(sn, 4) AS s_neg,
        |  (sp > 150 OR sn > 150) AS alarm
        |FROM c ORDER BY 1, 2""".stripMargin)),

    Query("q189_resample_linear", (s, d) => {
      // same grid, linear interpolation between the neighbouring
      // observations — both neighbours from ONE window pass over the
      // unioned (observation ∪ grid) timeline, not two as-of joins
      graft.ops.Resample.linear(
          t(s, d, "events").filter(col("event_type") === "click"),
          Seq("user_id"), "ts", "value", stepUs = 3600000000L)
        .select(col("user_id"), col("g_us"), dround(col("value"), 4).as("value"))
        .orderBy(col("user_id"), col("g_us"))
    }, Sql(
      // linear interpolation on the same grid: prev neighbour inclusive
      // (ASOF >=), next strictly-after (ASOF <); at an exact observation
      // hit the fraction is 0 so both engines emit the raw value. The
      // lerp is the identical IEEE sequence as the Spark side:
      // pv + (nv-pv) * ((g-pt)/(nt-pt)) over exact-integer micros
      """WITH r AS (
        |  SELECT user_id, epoch_us(ts) AS t, max(value) AS v
        |  FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |b AS (
        |  SELECT user_id,
        |    min(t) + ((3600000000 - (min(t) % 3600000000 + 3600000000)
        |      % 3600000000) % 3600000000) AS lo,
        |    max(t) - ((max(t) % 3600000000 + 3600000000)
        |      % 3600000000) AS hi
        |  FROM r GROUP BY 1),
        |g AS (
        |  SELECT user_id, unnest(generate_series(lo, hi, 3600000000)) AS g_us
        |  FROM b WHERE lo <= hi),
        |p AS (
        |  SELECT g.user_id, g.g_us, r.t AS pt, r.v AS pv
        |  FROM g ASOF LEFT JOIN r
        |    ON g.user_id = r.user_id AND g.g_us >= r.t),
        |n AS (
        |  SELECT g.user_id, g.g_us, r.t AS nt, r.v AS nv
        |  FROM g ASOF LEFT JOIN r
        |    ON g.user_id = r.user_id AND g.g_us < r.t)
        |SELECT p.user_id, p.g_us,
        |  round(CASE WHEN n.nt IS NULL THEN p.pv
        |    ELSE p.pv + (n.nv - p.pv) * ((p.g_us - p.pt) / (n.nt - p.pt))
        |    END, 4) AS value
        |FROM p LEFT JOIN n ON p.user_id = n.user_id AND p.g_us = n.g_us
        |ORDER BY 1, 2""".stripMargin)),

    // ---- line-level boilerplate removal -------------------------------
    Query("q172_boilerplate", (s, d) => {
      // jusText-lite over closed-form fixture pages (corpus docs are
      // single-line): per-line token count + stopword density decide
      // keep/drop; the oracle rebuilds the exact pages AND the exact
      // cleaned text (md5-compared), so a single misclassified line
      // breaks the match. Pure codegen'd column lambdas, no shuffle
      graft.ops.Boilerplate.clean(
          graft.ops.Boilerplate.syntheticPages(s, 110), "text")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }, Sql(
      // rebuild the fixture pages line-for-line, replay the keep rule,
      // and compare the exact cleaned text by md5
      """WITH d AS (
        |  SELECT CAST(i AS BIGINT) AS i FROM range(0, 110) t(i)),
        |lines AS (
        |  SELECT i, CAST(j AS BIGINT) AS j,
        |    CASE WHEN (i + j) % 3 = 0
        |    THEN 'nav' || CAST((i + j) % 5 AS VARCHAR)
        |      || ' item' || CAST((i * 3 + j) % 4 AS VARCHAR)
        |      || ' link' || CAST(j % 6 AS VARCHAR)
        |    ELSE 'the w' || CAST((i * 7 + j * 3) % 13 AS VARCHAR)
        |      || ' and w' || CAST((i + j * 5) % 11 AS VARCHAR)
        |      || ' is on the w' || CAST((i * 2 + j) % 7 AS VARCHAR)
        |      || ' of w' || CAST((i * 11 + j * 13) % 17 AS VARCHAR)
        |    END AS ln
        |  FROM d, LATERAL unnest(range(0, 6 + i % 7)) AS u(j)),
        |cls AS (
        |  SELECT i, j, ln,
        |    len(string_split(ln, ' ')) >= 4 AND
        |    CAST(len(list_filter(string_split(ln, ' '), t ->
        |      list_contains(['the','a','of','and','to','in','is','it',
        |        'on','for'], t))) AS DOUBLE)
        |      / len(string_split(ln, ' ')) >= 0.2 AS keep
        |  FROM lines)
        |SELECT i AS doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept,
        |  md5(coalesce(string_agg(CASE WHEN keep THEN ln END, chr(10)
        |    ORDER BY j), '')) AS clean_md5
        |FROM cls GROUP BY i
        |ORDER BY doc_id""".stripMargin)),

    // ---- right-to-be-forgotten deletion propagation -------------------
    Query("q173_bm25_forget", (s, d) => {
      // takedown propagation through the retrieval index: publish on
      // the full corpus, FORGET every doc_id ≡ 3 (mod 10)
      // (merge-on-read tombstones + df/stats subtraction, postings
      // never rewritten), then search. The oracle is BM25 REBUILT on
      // the remaining corpus: deletion must be score-for-score
      // indistinguishable from never having indexed the docs
      val docs = t(s, d, "documents")
      val path = s"${graft.core.Scratch.root(docs)}/bm25fgt_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(path)
      graft.operators.Bm25Index.publish(docs, "doc_id", "text", path)
      graft.operators.Bm25Index.forget(s, path,
        docs.filter(pmod(col("doc_id"), lit(10)) === 3)
          .select(col("doc_id")),
        "doc_id", opId = 1L)
      import s.implicits._
      val qs = Seq(
        (0L, "hash join table"),
        (1L, "window agg scan"),
        (2L, "fast merge batch")).toDF("query_id", "qtext")
      graft.operators.Bm25Index.searchFrom(
        s, path, qs, "query_id", "qtext", "doc_id", k = 5)
    }, Sql(
      // q173: tombstone deletion must equal a REBUILD on the remaining
      // corpus — the q135 chain with the forgotten docs never indexed
      "WITH " + bm25Ctes(bm25LiteralQueries,
        corpusSql =
          "SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 3") +
        """
        |SELECT query_id, doc_id, score, rn FROM ranked
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin)),

    // ---- dense-side takedown (IVF tombstones) -------------------------
    Query("q174_ivf_forget", (s, d) => {
      // the dense twin of q173: publish the IVF index on the full
      // corpus, tombstone every vec_id ≡ 2 (mod 7), search external
      // probes. Cosine has no corpus statistics, so deletion is pure
      // anti-join — the oracle assigns ALL vectors to the full-corpus
      // codebook and filters the forgotten ones, which must equal
      // never having admitted them
      val emb = t(s, d, "embeddings")
      val path = s"${graft.core.Scratch.root(emb)}/ivffgt_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(path)
      graft.operators.IvfIndex.publish(emb, "vec_id", "embedding", path)
      graft.operators.IvfIndex.forget(s, path,
        emb.filter(pmod(col("vec_id"), lit(7)) === 2)
          .select(col("vec_id")), "vec_id")
      graft.operators.IvfIndex.searchFrom(
          s, path, emb.filter(col("vec_id") < 10), "vec_id",
          "embedding", "vec_id", k = 5, nprobe = 4)
        .orderBy(col("query_id"), col("rn"))
    }, Sql(
      // q174: tombstoned vectors filtered from the full-corpus
      // assignment must equal never having admitted them (dense-side
      // takedown; codebook = first 16 of the FULL corpus, frozen)
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |      AS cell,
        |    CAST(embedding AS DOUBLE[]) AS cv
        |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
        |asn AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, cb.cell, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM v CROSS JOIN cb) WHERE rn = 1 AND vec_id % 7 <> 2),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT v.vec_id AS query_id, cb.cell, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM v CROSS JOIN cb WHERE v.vec_id < 10) WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_cosine_similarity(qv.vv, nv.vv) AS cs
        |  FROM probes p JOIN asn a ON p.cell = a.cell
        |  JOIN v qv ON qv.vec_id = p.query_id
        |  JOIN v nv ON nv.vec_id = a.vec_id
        |  WHERE a.vec_id <> p.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cs, CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |    AS INT) AS rn
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim, rn
        |FROM ranked WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin)),

    // ---- takedown compliance audit ------------------------------------
    Query("q175_takedown_audit", (s, d) => {
      // the release gate after a right-to-be-forgotten run: build the
      // full doc_id-keyed stack (base table, BM25 index, IVF index
      // over the hashed dense vectors), take down every doc_id ≡ 3
      // (mod 10) in ONE Takedown call, then audit BOTH probes — the
      // deleted set must be unreachable on every surface (0 leaks)
      // and a control set must still be fully reachable (the audit
      // itself is proven live, not vacuously zero)
      val docs = t(s, d, "documents")
      val root = s"${graft.core.Scratch.root(docs)}/takedown_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      val (base, bm, ivf) = (s"$root/base", s"$root/bm25", s"$root/ivf")
      // the three surfaces are independent builds over the same corpus
      // (distinct table roots) — overlap them (guide §2.6)
      graft.core.Par.run[Unit](Seq(
        () => { graft.core.VersionedTable.commitAppend(docs, base); () },
        () => {
          graft.operators.Bm25Index.publish(docs, "doc_id", "text", bm)
          ()
        },
        () => {
          graft.operators.IvfIndex.publish(
            graft.operators.HashingVectorizer.denseVectors(
              docs, "doc_id", "text", dim = 64),
            "doc_id", "vec", ivf)
          ()
        }
      ))
      val deleted = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
        .select(col("doc_id"))
      val control = docs.filter(pmod(col("doc_id"), lit(10)) === 4)
        .select(col("doc_id"))
      graft.ops.Takedown.forget(s, deleted, "doc_id", opId = 1L,
        basePath = Some(base), bm25Path = Some(bm), ivfPath = Some(ivf))
      graft.ops.Takedown.audit(s, deleted, "doc_id",
          Some(base), Some(bm), Some(ivf))
        .withColumn("probe", lit("deleted"))
        .unionByName(graft.ops.Takedown.audit(s, control, "doc_id",
            Some(base), Some(bm), Some(ivf))
          .withColumn("probe", lit("control")))
        .select(col("probe"), col("surface"), col("n_leaked"))
        .orderBy(col("probe"), col("surface"))
    }, Sql(
      // the deleted probe must be unreachable everywhere (0 leaks); the
      // control probe must remain fully reachable on every surface —
      // its per-surface count derives from the corpus, so a dead audit
      // (vacuous zeros) or an over-deletion both break the match
      """WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 10 = 4)
        |SELECT probe, surface, n_leaked FROM (
        |  SELECT 'control' AS probe, 'base' AS surface, n AS n_leaked
        |    FROM c
        |  UNION ALL SELECT 'control', 'bm25', n FROM c
        |  UNION ALL SELECT 'control', 'ivf', n FROM c
        |  UNION ALL SELECT 'deleted', 'base', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'deleted', 'bm25', CAST(0 AS BIGINT)
        |  UNION ALL SELECT 'deleted', 'ivf', CAST(0 AS BIGINT))
        |ORDER BY probe, surface""".stripMargin)),

    Query("q179_erasure_audit", (s, d) => {
      // the BYTE-level completion of q175's reachability gate: after
      // forget (merge-on-read tombstones + copy-on-write base delete),
      // Takedown.erase purges the tombstones out of the index tables
      // and vacuums EVERY surface to its live version — then
      // auditBytes walks the raw parquet files physically on disk
      // (manifest-referenced or not) and reports stray files (0),
      // raw rows still carrying the forgotten ids (0), and the
      // distinct surviving ids (the oracle replays that surviving
      // content from the corpus). graceMs=0 is safe: no concurrent
      // writer exists inside one catalog query
      val docs = t(s, d, "documents")
      val root = s"${graft.core.Scratch.root(docs)}/erasure_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      val (base, bm) = (s"$root/base", s"$root/bm25")
      // two independent surface builds (distinct roots) — overlap
      graft.core.Par.run[Unit](Seq(
        () => { graft.core.VersionedTable.commitAppend(docs, base); () },
        () => {
          graft.operators.Bm25Index.publish(docs, "doc_id", "text", bm)
          ()
        }
      ))
      val deleted = docs.filter(pmod(col("doc_id"), lit(10)) === 3)
        .select(col("doc_id"))
      graft.ops.Takedown.forget(s, deleted, "doc_id", opId = 1L,
        basePath = Some(base), bm25Path = Some(bm))
      graft.ops.Takedown.erase(s, opId = 2L, basePath = Some(base),
        bm25Path = Some(bm), graceMs = 0L)
      graft.ops.Takedown.auditBytes(s, deleted, "doc_id",
          basePath = Some(base), bm25Path = Some(bm))
        .select(col("surface"), col("n_stray_files"),
          col("n_raw_hits"), col("n_live_docs"))
        .orderBy(col("surface"))
    }, Sql(
      // byte-level erasure: after purge + vacuum every surface must
      // carry zero stray files and zero raw rows for the forgotten
      // ids, and the surviving distinct ids must equal the corpus
      // minus the takedown set (every doc has non-empty text, so the
      // doclen/postings doc sets equal the base doc set)
      """WITH live AS (SELECT CAST(count(*) AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 10 <> 3)
        |SELECT surface, n_stray_files, n_raw_hits, n_live_docs FROM (
        |  SELECT 'base' AS surface, 0 AS n_stray_files,
        |    CAST(0 AS BIGINT) AS n_raw_hits, n AS n_live_docs FROM live
        |  UNION ALL SELECT 'bm25_doclen', 0, CAST(0 AS BIGINT), n
        |    FROM live
        |  UNION ALL SELECT 'bm25_postings', 0, CAST(0 AS BIGINT), n
        |    FROM live)
        |ORDER BY surface""".stripMargin)),

    // ---- unigram-LM tokenizer (SentencePiece family) ------------------
    Query("q176_unigram_vocab", (s, d) => {
      // the scored piece vocabulary: top-40 substrings by weighted
      // count + single-char closure, scores = round(ln(cnt/total)·1e6)
      // as BIGINT — computed in Spark SQL so HALF_UP rounding matches
      // DuckDB's round; the oracle re-derives the whole selection
      graft.operators.Unigram.pieceVocab(
          t(s, d, "documents"), "text", vocabSize = 40,
          maxPieceLen = 4)
        .orderBy(col("piece"))
    }, Sql(
      // unigram vocab: re-derive the weighted-substring selection, the
      // single-char closure, and the scaled-int ln scores
      unigramVocabCtes +
        """SELECT piece, cnt,
        |  CAST(round(ln(CAST(cnt AS DOUBLE) / t) * 1000000.0)
        |    AS BIGINT) AS score
        |FROM vocab0 CROSS JOIN tot
        |ORDER BY piece""".stripMargin)),

    Query("q177_unigram_encode", (s, d) => {
      // Viterbi corpus encode under the trained vocab: per doc the
      // word count, optimal piece count, and scaled-int log-prob.
      // Each DISTINCT word segments once through the codegen'd
      // integer DP; the oracle enumerates ALL segmentations per word
      // recursively and takes the identical BIGINT max — a single
      // differing piece choice anywhere breaks the hash
      graft.operators.Unigram.encode(
          t(s, d, "documents"), "doc_id", "text", vocabSize = 40,
          maxPieceLen = 4)
        .orderBy(col("doc_id"))
    }, Sql(
      // unigram encode: enumerate EVERY segmentation of every distinct
      // word recursively and take the same BIGINT objective max
      // (score·1024 − count) the engine's Viterbi computes
      "WITH RECURSIVE " + unigramVocabBody + """,
        |pieces AS (
        |  SELECT piece, CAST(round(ln(CAST(cnt AS DOUBLE) / t)
        |    * 1000000.0) AS BIGINT) AS score
        |  FROM vocab0 CROSS JOIN tot),
        |ws AS (SELECT DISTINCT word FROM w),
        |rec AS (
        |  SELECT word, CAST(0 AS BIGINT) AS pos,
        |    CAST(0 AS BIGINT) AS val FROM ws
        |  UNION ALL
        |  SELECT r.word, r.pos + len(p.piece),
        |    r.val + p.score * 1024 - 1
        |  FROM rec r JOIN pieces p
        |    ON substr(r.word, CAST(r.pos + 1 AS INT),
        |         len(p.piece)) = p.piece
        |  WHERE r.pos + len(p.piece) <= len(r.word)),
        |best AS (
        |  SELECT word, max(val) AS val FROM rec
        |  WHERE pos = len(word) GROUP BY word),
        |pw AS (
        |  SELECT word, (-val) % 1024 AS c,
        |    -(((-val) - ((-val) % 1024)) // 1024) AS s
        |  FROM best),
        |dw AS (
        |  SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END)
        |    AS word FROM documents)
        |SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(pw.c) AS BIGINT) AS n_pieces,
        |  CAST(sum(pw.s) AS BIGINT) AS score_s
        |FROM dw JOIN pw USING (word) GROUP BY dw.doc_id
        |ORDER BY doc_id""".stripMargin)),

    Query("q182_unigram_em", (s, d) => {
      // one hard-EM (Viterbi re-estimation) refinement of the unigram
      // vocab: canonical segmentation per distinct word (max objective,
      // lex-smallest piece array on ties) -> frequency-weighted piece
      // usage -> prune unused multi-char pieces, floor single chars at
      // 1, re-score over the refined set. The oracle enumerates every
      // segmentation recursively, replays the identical canonical
      // tie-break via ORDER BY val DESC, piece_list ASC, and re-derives
      // the full M-step — any drift in the DP, the tie-break, or the
      // re-scoring breaks the hash
      graft.operators.Unigram.pieceVocabEm(
          t(s, d, "documents"), "text", vocabSize = 40,
          maxPieceLen = 4)
        .orderBy(col("piece"))
    }, Sql(
      // unigram hard-EM: enumerate every segmentation per distinct word
      // carrying the piece list, pick the canonical one (max BIGINT
      // objective, lex-smallest list on ties — the engine's greedy
      // shortest-piece walk provably picks the same array), aggregate
      // frequency-weighted usage, then replay the M-step: prune unused
      // multi-char pieces, floor single chars at 1, re-score over the
      // refined total
      "WITH RECURSIVE " + unigramVocabBody + """,
        |pieces AS (
        |  SELECT piece, CAST(round(ln(CAST(cnt AS DOUBLE) / t)
        |    * 1000000.0) AS BIGINT) AS score
        |  FROM vocab0 CROSS JOIN tot),
        |ws AS (SELECT DISTINCT word FROM w),
        |rec AS (
        |  SELECT word, CAST(0 AS BIGINT) AS pos,
        |    CAST(0 AS BIGINT) AS val,
        |    CAST([] AS VARCHAR[]) AS lst FROM ws
        |  UNION ALL
        |  SELECT r.word, r.pos + len(p.piece),
        |    r.val + p.score * 1024 - 1,
        |    list_append(r.lst, p.piece)
        |  FROM rec r JOIN pieces p
        |    ON substr(r.word, CAST(r.pos + 1 AS INT),
        |         len(p.piece)) = p.piece
        |  WHERE r.pos + len(p.piece) <= len(r.word)),
        |canon AS (
        |  SELECT word, lst FROM (
        |    SELECT word, lst, row_number() OVER (PARTITION BY word
        |      ORDER BY val DESC, lst ASC) AS rn
        |    FROM rec WHERE pos = len(word)) WHERE rn = 1),
        |usage AS (
        |  SELECT piece, CAST(sum(n) AS BIGINT) AS usage FROM (
        |    SELECT w.n, unnest(c.lst) AS piece
        |    FROM w JOIN canon c USING (word))
        |  GROUP BY piece),
        |kept AS (
        |  SELECT v.piece,
        |    coalesce(u.usage,
        |      CASE WHEN len(v.piece) = 1 THEN CAST(1 AS BIGINT) END)
        |      AS cnt
        |  FROM vocab0 v LEFT JOIN usage u USING (piece)
        |  WHERE coalesce(u.usage,
        |    CASE WHEN len(v.piece) = 1 THEN CAST(1 AS BIGINT) END)
        |    IS NOT NULL),
        |tot2 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t2 FROM kept)
        |SELECT piece, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(round(ln(CAST(cnt AS DOUBLE) / t2) * 1000000.0)
        |    AS BIGINT) AS score
        |FROM kept CROSS JOIN tot2
        |ORDER BY piece""".stripMargin)),

    Query("q186_replace_where", (s, d) => {
      // the backfill shape: a corrected feed re-lands exactly one
      // priority window of a versioned fact table via REPLACE WHERE —
      // file-granular copy-on-write (files without a matching row
      // carry by reference; the spec pins that claim). The corrected
      // rows double each price exactly in cents; the oracle derives
      // the post-backfill rollup from the raw table, so replacing too
      // much, too little, or losing untouched rows breaks the hash
      val orders = t(s, d, "orders")
      val root = s"${graft.core.Scratch.root(orders)}/rpw_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      val fact = s"$root/fact"
      (0 until 3).foreach(i => graft.core.VersionedTable.commitAppend(
        orders.filter(col("o_orderkey") % 3 === i), fact))
      val window = col("o_orderpriority") === "1-URGENT"
      val corrected = graft.core.VersionedTable.read(s, fact)
        .filter(window)
        .withColumn("o_totalprice",
          round(col("o_totalprice") * 100, 0) * 2 / lit(100.0))
      graft.core.VersionedTable.commitReplaceWhere(s, fact, corrected,
        window)
      graft.core.VersionedTable.read(s, fact)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("o_totalprice") * 100, 0).cast("long"))
            .as("sum_cents"))
        .orderBy(col("o_orderpriority"))
    }, Sql(
      // REPLACE WHERE backfill: the oracle applies the correction to
      // the raw table — the doubled window must be exactly the
      // 1-URGENT rows and every other row must survive untouched
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN 2 * CAST(round(o_totalprice * 100) AS BIGINT)
        |    ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    Query("q185_incremental_join_agg", (s, d) => {
      // enrichment-rollup materialized view: revenue per customer
      // nation, maintained across fact appends WITHOUT rescanning the
      // fact table. Half the orders commit, the view initializes; the
      // other half appends, the view delta-merges (the emitted `mode`
      // column pins that the incremental path ran — a fallback to
      // recompute breaks the hash). The oracle derives the rollup from
      // the raw join, so any drift in the delta join/merge breaks too
      val orders = t(s, d, "orders").withColumn("oop",
        round(col("o_totalprice") * 100, 0).cast("long"))
      val dim = t(s, d, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      val root = s"${graft.core.Scratch.root(orders)}/joinagg_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      val (fact, dimP, agg) = (s"$root/fact", s"$root/dim", s"$root/agg")
      graft.core.VersionedTable.commitAppend(dim, dimP)
      graft.core.VersionedTable.commitAppend(
        orders.filter(col("o_orderkey") % 2 === 0), fact)
      graft.ops.IncrementalAgg.maintainJoined(s, fact, dimP, agg,
        "o_custkey", Seq("c_nationkey"), "oop")
      graft.core.VersionedTable.commitAppend(
        orders.filter(col("o_orderkey") % 2 =!= 0), fact)
      val r = graft.ops.IncrementalAgg.maintainJoined(s, fact, dimP,
        agg, "o_custkey", Seq("c_nationkey"), "oop")
      graft.ops.IncrementalAgg.read(s, agg)
        .select(lit(r.mode).as("mode"), col("c_nationkey"),
          col("n_rows"), col("sum_val"))
        .orderBy(col("c_nationkey"))
    }, Sql(
      // enrichment rollup: the oracle derives the per-nation revenue
      // from the raw join and pins mode='incremental' — both a wrong
      // delta merge AND a silent fallback to recompute break the hash
      """SELECT 'incremental' AS mode, c_nationkey,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_val
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin)),

    Query("q197_dim_delta_view", (s, d) => {
      // slowly-changing-dim maintenance: the q185 rollup kept current
      // through a DIM UPDATE without the full recompute — customers
      // with custkey % 100 == 0 migrate to the next nation, and the
      // repair rebuilds only the groups reachable from those keys
      // (subtract old-dim contribution, add new-dim, additive integer
      // algebra). The emitted `mode` pins that the cheap path ran; the
      // oracle derives the rollup from the raw join under the UPDATED
      // dim, so a wrong repair breaks the hash
      val orders = t(s, d, "orders").withColumn("oop",
        round(col("o_totalprice") * 100, 0).cast("long"))
      val dim = t(s, d, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
      val root = s"${graft.core.Scratch.root(orders)}/dimdelta_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      val (fact, dimP, agg) = (s"$root/fact", s"$root/dim", s"$root/agg")
      // two independent table builds (distinct roots) — overlap
      graft.core.Par.run[Int](Seq(
        () => graft.core.VersionedTable.commitAppend(dim, dimP),
        () => graft.core.VersionedTable.commitAppend(orders, fact)))
      graft.ops.IncrementalAgg.maintainJoined(s, fact, dimP, agg,
        "o_custkey", Seq("c_nationkey"), "oop")
      graft.core.VersionedTable.commitOverwrite(
        dim.withColumn("c_nationkey",
          when(col("o_custkey") % 100 === 0,
            (col("c_nationkey") + 1) % 25)
            .otherwise(col("c_nationkey"))), dimP)
      val r = graft.ops.IncrementalAgg.maintainJoined(s, fact, dimP,
        agg, "o_custkey", Seq("c_nationkey"), "oop")
      graft.ops.IncrementalAgg.read(s, agg)
        .select(lit(r.mode).as("mode"), col("c_nationkey"),
          col("n_rows"), col("sum_val"))
        .orderBy(col("c_nationkey"))
    }, Sql(
      // dim-delta view repair: the oracle is the FULL recompute under
      // the updated dim — the repaired view must be indistinguishable
      // from it, and the pinned mode proves the cheap path produced it
      """SELECT 'dim_delta' AS mode, c_nationkey,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |    AS BIGINT) AS sum_val
        |FROM orders JOIN (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 100 = 0 THEN (c_nationkey + 1) % 25
        |         ELSE c_nationkey END AS c_nationkey
        |  FROM customer) c ON o_custkey = c_custkey
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin)),

    // ---- interchange-format ingestion (JSONL / ORC) -------------------
    Query("q183_jsonl_roundtrip", (s, d) => {
      // JSONL is THE LLM-corpus interchange format: export the corpus
      // as JSONL shards, re-ingest under an EXPLICIT schema (never
      // inference — that's a full extra pass at 100 TB) with
      // corrupt-record quarantine, and prove byte-exact fidelity of
      // free text (newlines, quotes, unicode escapes) against the
      // oracle's direct parquet read
      val docs = t(s, d, "documents")
      val root = s"${graft.core.Scratch.root(docs)}/jsonl_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      graft.sources.TextFormats.writeJsonLines(docs, root)
      val parsed = graft.sources.TextFormats.readJsonLines(
        s, root, docs.schema)
      graft.sources.TextFormats.goodRecords(parsed)
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }, Sql(
      // JSONL round-trip: the oracle reads the parquet directly, so any
      // infidelity in the engine's JSON escape/parse of free text
      // (newlines, quotes, unicode) breaks the hash
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin)),

    Query("q184_orc_roundtrip", (s, d) => {
      // the other columnar lake format a migrating user brings: ORC
      // round-trip with a pushdown-able predicate on the re-read (the
      // plan spec asserts the filter reaches the ORC scan)
      val docs = t(s, d, "documents")
      val root = s"${graft.core.Scratch.root(docs)}/orc_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      graft.sources.TextFormats.writeOrc(docs, root)
      graft.sources.TextFormats.readOrc(s, root)
        .filter(col("n_chars") >= 200L)
        .select(col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }, Sql(
      // ORC round-trip with a pushdown predicate: same fidelity check
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |WHERE n_chars >= 200
        |ORDER BY doc_id""".stripMargin)),

    // ---- zero-copy experiment branch (shallow clone) ------------------
    Query("q178_clone_branch", (s, d) => {
      // the dev-fork loop: shallow-clone the corpus table (metadata
      // only — no bytes copied), run a curation experiment on the
      // BRANCH (delete every doc_id ≡ 1 (mod 7)), and report both
      // branches side by side. The oracle derives each branch from
      // the raw corpus, so a clone that shared ANY state with its
      // source after the fork (or copied the wrong version) breaks
      val docs = t(s, d, "documents")
      val root = s"${graft.core.Scratch.root(docs)}/clone_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      val (src, branch) = (s"$root/src", s"$root/branch")
      graft.core.VersionedTable.commitAppend(docs, src)
      graft.core.VersionedTable.cloneFrom(s, src, branch)
      graft.core.VersionedTable.commitDelete(s, branch,
        docs.filter(pmod(col("doc_id"), lit(7)) === 1)
          .select(col("doc_id")), Seq("doc_id"))
      def stats(path: String, name: String) =
        graft.core.VersionedTable.read(s, path)
          .agg(count(lit(1)).as("n_docs"),
            sum(coalesce(col("n_chars"), lit(0L))).as("sum_chars"))
          .select(lit(name).as("branch"), col("n_docs"),
            col("sum_chars"))
      stats(src, "source").unionByName(stats(branch, "experiment"))
        .orderBy(col("branch"))
    }, Sql(
      // both branches derive from the raw corpus: the source must be
      // the untouched table, the experiment the filtered one
      """SELECT branch, n_docs, sum_chars FROM (
        |  SELECT 'source' AS branch, CAST(count(*) AS BIGINT)
        |      AS n_docs,
        |    CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS sum_chars
        |  FROM documents
        |  UNION ALL
        |  SELECT 'experiment', CAST(count(*) AS BIGINT),
        |    CAST(sum(coalesce(n_chars, 0)) AS BIGINT)
        |  FROM documents WHERE doc_id % 7 <> 1)
        |ORDER BY branch""".stripMargin)),

    // ---- entity canonicalization (full ER loop) -----------------------
    Query("q166_entity_resolve", (s, d) => {
      // block -> Jaro-Winkler score -> connected components ->
      // canonical surface form (highest support, ties to the smaller
      // string): the step after q164 that downstream pipelines
      // actually consume (rewrite the attribute to `canonical`). The
      // oracle replays the closure with a recursive min-label
      // propagation over the same scored pairs
      graft.ops.FuzzyLink.resolveEntities(
        t(s, d, "part"), "p_name", minSim = 0.9)
    }, Sql(
      """WITH RECURSIVE vals AS (
        |  SELECT p_name AS value, count(*) AS n_rows
        |  FROM part GROUP BY 1),
        |k AS (
        |  SELECT string_split_regex(value, '\s+')[1] AS block,
        |    value FROM vals
        |  UNION
        |  SELECT string_split_regex(value, '\s+')[-1] AS block,
        |    value FROM vals),
        |pairs AS (
        |  SELECT DISTINCT a.value AS value_a, b.value AS value_b
        |  FROM k a JOIN k b USING (block)
        |  WHERE a.value < b.value
        |    AND jaro_winkler_similarity(a.value, b.value) >= 0.9),
        |edges AS (
        |  SELECT value_a AS u, value_b AS v FROM pairs
        |  UNION SELECT value_b, value_a FROM pairs),
        |lab(value, lbl) AS (
        |  SELECT value, value FROM vals
        |  UNION
        |  SELECT e.u, l.lbl FROM edges e JOIN lab l ON l.value = e.v),
        |ent AS (
        |  SELECT value, min(lbl) AS entity FROM lab GROUP BY 1),
        |can AS (
        |  SELECT entity, value AS canonical FROM (
        |    SELECT e.entity, v.value,
        |      row_number() OVER (PARTITION BY e.entity
        |        ORDER BY v.n_rows DESC, v.value) AS rn
        |    FROM ent e JOIN vals v USING (value)) WHERE rn = 1)
        |SELECT v.value, e.entity, c.canonical, v.n_rows
        |FROM vals v JOIN ent e USING (value) JOIN can c USING (entity)
        |ORDER BY e.entity, v.value""".stripMargin)),

    // ---- k-anonymity / l-diversity release gate -----------------------
    Query("q165_k_anonymity", (s, d) => {
      // privacy audit before publishing a user-adjacent table
      // (Sweeney 2002; Machanavajjhala 2007): per (nation, segment)
      // quasi-identifier class, its size, the k>=10 anonymity flag,
      // and the number of distinct sensitive values (account-balance
      // thousand-bucket) for the homogeneity check. One map-side
      // aggregation; classes are vocabulary-sized
      graft.ops.Anonymity.classAudit(
          t(s, d, "customer"), Seq("c_nationkey", "c_mktsegment"),
          k = 10,
          sensitive = floor(col("c_acctbal") / 1000).cast("long"))
        .select(col("c_nationkey").cast("long").as("c_nationkey"),
          col("c_mktsegment"),
          col("class_size"), col("anonymous"), col("l_distinct"))
        .orderBy(col("c_nationkey"), col("c_mktsegment"))
    }, Sql(
      """SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
        |  c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  count(*) >= 10 AS anonymous,
        |  CAST(count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
        |    AS BIGINT) AS l_distinct
        |FROM customer GROUP BY 1, 2
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin)),

    // ---- Jaro-Winkler fuzzy linkage -----------------------------------
    Query("q164_jaro_link", (s, d) => {
      // q138's blocked entity resolution with the Jaro-Winkler scorer
      // (Spark has levenshtein but no Jaro builtin; the codegen'd
      // expression implements the exact textbook semantics DuckDB's
      // jaro_winkler_similarity does — integer transposition halving,
      // 0.7 boost threshold, prefix cap 4, empty->0 — fuzz-verified
      // at 1e-12 over random pairs). Same vocabulary-sized blocking:
      // the all-pairs frame never forms
      graft.ops.FuzzyLink.selfLinkJaro(
        t(s, d, "part"), "p_name", minSim = 0.9)
    }, Sql(
      """WITH vals AS (
        |  SELECT p_name AS value, count(*) AS n_rows
        |  FROM part GROUP BY 1),
        |k AS (
        |  SELECT string_split_regex(value, '\s+')[1] AS block,
        |    value, n_rows FROM vals
        |  UNION
        |  SELECT string_split_regex(value, '\s+')[-1] AS block,
        |    value, n_rows FROM vals),
        |pairs AS (
        |  SELECT DISTINCT a.value AS value_a, b.value AS value_b,
        |    a.n_rows AS n_a, b.n_rows AS n_b
        |  FROM k a JOIN k b USING (block)
        |  WHERE a.value < b.value)
        |SELECT value_a, value_b,
        |  round(jaro_winkler_similarity(value_a, value_b), 4) + 0
        |    AS jw_sim,
        |  n_a, n_b
        |FROM pairs
        |WHERE jaro_winkler_similarity(value_a, value_b) >= 0.9
        |ORDER BY value_a, value_b""".stripMargin)),

    // ---- Unicode NFC canonicalization ---------------------------------
    Query("q163_nfc_normalize", (s, d) => {
      // canonical composition before hashing: precomposed é and
      // e+COMBINING ACUTE are the same visible text but different
      // bytes — without NFC they hash into different dedup clusters.
      // The codegen'd NfcNormalize (JDK Normalizer) is cross-checked
      // against DuckDB's utf8proc nfc_normalize: the oracle rebuilds
      // the raw mixed-normalization strings with chr() and compares
      // codepoint counts before/after plus an md5 of the normalized
      // text. Narrow in-row map, no shuffle before the ordering.
      val tn = graft.functions.TextNormalize
      tn.syntheticUnicodeDocs(s, 90)
        .select(col("doc_id"), col("text"),
          tn.column(col("text")).as("norm"))
        .select(col("doc_id"),
          length(col("text")).cast("long").as("n_raw"),
          length(col("norm")).cast("long").as("n_norm"),
          md5(col("norm").cast("binary")).as("norm_md5"))
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH d AS (
        |  SELECT CAST(i AS BIGINT) AS i FROM range(0, 90) t(i)),
        |tok AS (
        |  SELECT i, unnest(range(0, 10 + i % 20)) AS j FROM d),
        |w AS (
        |  SELECT i, j, CASE (i*3 + j) % 5
        |    WHEN 0 THEN 'we' || chr(769)
        |    WHEN 1 THEN 'wa' || chr(776)
        |    WHEN 2 THEN 'wo' || chr(770)
        |    WHEN 3 THEN 'w' || chr(233)
        |    ELSE 'w' || CAST((i + j) % 10 AS VARCHAR) END AS tokstr
        |  FROM tok),
        |txt AS (
        |  SELECT i, string_agg(tokstr, ' ' ORDER BY j) AS text
        |  FROM w GROUP BY i)
        |SELECT i AS doc_id,
        |  CAST(length(text) AS BIGINT) AS n_raw,
        |  CAST(length(nfc_normalize(text)) AS BIGINT) AS n_norm,
        |  md5(nfc_normalize(text)) AS norm_md5
        |FROM txt ORDER BY doc_id""".stripMargin)),

    // ---- hashing-trick TF-IDF document vectors ------------------------
    Query("q129_hashed_tfidf", (s, d) => {
      // fixed-dim lexical vectors without an embedding model
      // (Weinberger 2009): md5-bucketed, scaled-integer aggregation
      // (no float sum crosses a shuffle), L2-normalized at the surface
      graft.operators.HashingVectorizer.hashedTfIdf(
        t(s, d, "documents"), "doc_id", "text", dim = 64)
        .orderBy(col("doc_id"), col("bucket"))
    }, Sql(
      // q129/q130: the md5 term hash and scaled-integer aggregation make
      // the hashing-trick vectors engine-portable; cosine numerators are
      // exact integer sums, so ranks agree bit-for-bit.
      hashedVectorCtes + """
        |SELECT doc_id, bucket,
        |  round(CAST(ws AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)), 6) + 0
        |    AS weight
        |FROM bb JOIN norms USING (doc_id)
        |ORDER BY doc_id, bucket""".stripMargin)),

    // ---- text ANN over hashed vectors ---------------------------------
    Query("q130_text_ann", (s, d) => {
      // brute-force cosine top-5 for the first 10 docs against the
      // corpus on q129's vectors — the text twin of q28; the cosine
      // numerator is an exact integer sum, so Spark and the oracle
      // agree bit-for-bit including rank ties
      graft.operators.HashingVectorizer.textTopK(
        t(s, d, "documents"), "doc_id", "text",
        q => q < 10, k = 5, dim = 64)
        .orderBy(col("query_id"), col("rn"))
    }, Sql(hashedVectorCtes + """,
        |qv AS (SELECT doc_id AS query_id, bucket, ws AS wq, n2 AS nq
        |  FROM bb JOIN norms USING (doc_id) WHERE doc_id < 10),
        |cv AS (SELECT doc_id AS neighbor_id, bucket, ws AS wc,
        |    n2 AS nc
        |  FROM bb JOIN norms USING (doc_id)),
        |num AS (
        |  SELECT query_id, neighbor_id, sum(wq * wc) AS num
        |  FROM qv JOIN cv USING (bucket)
        |  WHERE neighbor_id <> query_id GROUP BY 1, 2),
        |pairs AS (
        |  SELECT q.query_id, c.neighbor_id,
        |    CAST(coalesce(n.num, 0) AS DOUBLE)
        |      / (sqrt(CAST(q.nq AS DOUBLE))
        |         * sqrt(CAST(c.nc AS DOUBLE))) AS cs
        |  FROM (SELECT DISTINCT query_id, nq FROM qv) q
        |  CROSS JOIN (SELECT DISTINCT neighbor_id, nc FROM cv) c
        |  LEFT JOIN num n USING (query_id, neighbor_id)
        |  WHERE c.neighbor_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, round(cs, 4) + 0 AS cos_sim,
        |    CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |      AS INTEGER) AS rn
        |  FROM pairs)
        |SELECT query_id, neighbor_id, cos_sim, rn FROM ranked
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin)),

    // ---- text ANN, the SCALE path: hashed vectors → IVF ---------------
    Query("q132_text_ann_ivf", (s, d) => {
      // what a 100-TB user actually runs for text similarity: q129's
      // hashed dense vectors bridged onto the IVF stack — coarse cells
      // from the deterministic first-16-by-id codebook, queries probe
      // their 4 nearest cells, exact cosine inside probed cells only.
      // q130's queries×corpus frame never forms; each query touches
      // ~nprobe/cells of the corpus. denseVectors is itself a
      // materialized session artifact (codebook init + corpus assign
      // + query probe all read the same dense table)
      val dv = graft.operators.HashingVectorizer.denseVectors(
        t(s, d, "documents"), "doc_id", "text", dim = 64)
      graft.operators.SimilarityOps.ivfTopK(
        dv, dv.filter(col("doc_id") < 10), "doc_id", "vec",
        "doc_id", k = 5, cells = 16, nprobe = 4, trainIters = 0)
        .orderBy(col("query_id"), col("rn"))
    }, Sql(
      // q132: the SCALE path for text ANN — q129's hashed vectors
      // densified, then the exact IVF replica q40 uses: first-16-by-id
      // codebook, cosine-argmax cell assignment (ties → smaller cell),
      // nprobe=4 probing, (cos desc, id asc) top-5 within probed cells
      hashedVectorCtes + """,
        |w AS (
        |  SELECT doc_id, bucket,
        |    round(CAST(ws AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)), 6) + 0
        |      AS weight
        |  FROM bb JOIN norms USING (doc_id)),
        |grid AS (
        |  SELECT doc_id, unnest(range(0, 64)) AS b
        |  FROM (SELECT DISTINCT doc_id FROM w)),
        |dense AS (
        |  SELECT g.doc_id, g.b, coalesce(w.weight, 0.0) AS x
        |  FROM grid g LEFT JOIN w
        |    ON w.doc_id = g.doc_id AND w.bucket = g.b),
        |dv AS (
        |  SELECT doc_id, list(x ORDER BY b) AS vv
        |  FROM dense GROUP BY doc_id),
        |cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1
        |      AS INTEGER) AS cell, vv AS cv
        |  FROM (SELECT doc_id, vv FROM dv ORDER BY doc_id LIMIT 16)),
        |asn AS (
        |  SELECT doc_id, cell FROM (
        |    SELECT dv.doc_id, cb.cell, row_number() OVER (
        |      PARTITION BY dv.doc_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM dv CROSS JOIN cb) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT dv.doc_id AS query_id, cb.cell, row_number() OVER (
        |      PARTITION BY dv.doc_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM dv CROSS JOIN cb WHERE dv.doc_id < 10) WHERE rn <= 4),
        |probescore AS (
        |  SELECT p.query_id, a.doc_id AS neighbor_id,
        |    list_cosine_similarity(qv.vv, nv.vv) AS cs
        |  FROM probes p JOIN asn a ON p.cell = a.cell
        |  JOIN dv qv ON qv.doc_id = p.query_id
        |  JOIN dv nv ON nv.doc_id = a.doc_id
        |  WHERE a.doc_id <> p.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cs, CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |    AS INTEGER) AS rn
        |  FROM probescore)
        |SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim, rn
        |FROM ranked WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin)),

    // ---- BM25 lexical top-k retrieval ---------------------------------
    Query("q135_bm25", (s, d) => {
      // the sparse-retrieval half of a hybrid RAG stack: Okapi BM25
      // (Lucene idf) top-5 per query. Query terms broadcast onto the
      // postings (tf) table, so only docs sharing a term are scored;
      // per-term contributions are 1e-6-scaled integers before the
      // per-(query, doc) sum — no float addition crosses an exchange
      import s.implicits._
      val qs = Seq(
        (0L, "hash join table"),
        (1L, "window agg scan"),
        (2L, "fast merge batch")).toDF("query_id", "qtext")
      graft.operators.Bm25.topK(
        t(s, d, "documents"), "doc_id", "text",
        qs, "query_id", "qtext", k = 5)
    }, Sql(
      // BM25: per-term contributions rounded at 1e-6 and summed as exact
      // integers (mirrors Bm25.topK), so rank ties resolve identically.
      // Float literals are spelled as the same arithmetic the Spark side
      // performs ((1.2 + 1.0), not 2.2) so both engines evaluate the
      // identical IEEE operation sequence.
      bm25FullCorpus)),

    // ---- hard-negative mining for retrieval training ------------------
    Query("q141_hard_negatives", (s, d) => {
      // DPR-style BM25 hard negatives: queries are the first 8 tokens
      // of docs 0-2 (the source doc is the known positive); candidates
      // that ARE the positive or near-duplicates of it are excluded —
      // they would be false negatives in contrastive training
      val docs = t(s, d, "documents")
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            TextFunctions.tokens(lower(col("text"))), 1, 8)).as("qtext"),
          col("doc_id").as("pos_id"))
      val cl = graft.operators.DedupClusters.clusterMap(
        docs, "doc_id", "text", threshold = 0.95)
      graft.operators.HardNegatives.mine(docs, "doc_id", "text",
        qs, "query_id", "qtext", "pos_id", cl,
        n = 5, candidateK = 20)
    }, Sql(
      // q141: BM25 hard negatives — the bm25 chain seeded from derived
      // queries (first 8 tokens of docs 0-2, positive = source doc),
      // then the closure's cluster map excludes the positive's near-dups
      closureCtes() + ",\n" +
      bm25Ctes(bm25DerivedQueries) + """,
        |neg AS (
        |  SELECT r.query_id, r.doc_id, r.score, r.rn
        |  FROM ranked r
        |  JOIN lab pl ON pl.doc_id = r.query_id
        |  JOIN lab cl ON cl.doc_id = r.doc_id
        |  WHERE r.rn <= 20 AND r.doc_id <> r.query_id
        |    AND cl.cluster_id <> pl.cluster_id),
        |fin AS (
        |  SELECT query_id, doc_id, score,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rn) AS INTEGER) AS neg_rank
        |  FROM neg)
        |SELECT query_id, doc_id, score, neg_rank FROM fin
        |WHERE neg_rank <= 5 ORDER BY query_id, neg_rank""".stripMargin)),

    // ---- syndication-graph source ranking -----------------------------
    Query("q145_syndication_rank", (s, d) => {
      // mirror-site detection: sources whose documents near-duplicate
      // each other's form a syndication graph (edge weight = cross-
      // source near-dup pair count); PageRank centrality flags the
      // sources most entangled in copying — a downweight signal in
      // crawl curation. Composes the cached near-dup pair artifact
      // with the PageRank operator
      val docs = t(s, d, "documents")
      val pairs = graft.operators.DedupOps.minhashNearDups(
        docs, "doc_id", "text", threshold = 0.95)
      val srcOf = (side: String, out: String) => docs.select(
        col("doc_id").as(side), col("source").as(out))
      val und = pairs
        .join(srcOf("id_a", "src_a"), "id_a")
        .join(srcOf("id_b", "src_b"), "id_b")
        .filter(col("src_a") =!= col("src_b"))
        .select(least(col("src_a"), col("src_b")).as("a"),
          greatest(col("src_a"), col("src_b")).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
      val sym = und.select(col("a").as("src"), col("b").as("dst"), col("w"))
        .union(und.select(col("b").as("src"), col("a").as("dst"), col("w")))
      graft.ops.PageRank.run(sym, "src", "dst", "w", iters = 3)
        .orderBy(col("node"))
    }, Sql(
      // q145: syndication graph — the closure's exact-jaccard pair CTE
      // (same LSH-recall argument as q44/q59) aggregated to canonical
      // cross-source edges, then the shared PageRank rounds
      closureCtes() + """,
        |und AS (
        |  SELECT least(da.source, db.source) AS a,
        |    greatest(da.source, db.source) AS b, count(*) AS w
        |  FROM edges
        |  JOIN documents da ON da.doc_id = edges.src
        |  JOIN documents db ON db.doc_id = edges.dst
        |  WHERE da.source <> db.source
        |  GROUP BY 1, 2),
        |e AS MATERIALIZED (
        |  SELECT a AS src, b AS dst, w FROM und
        |  UNION ALL
        |  SELECT b AS src, a AS dst, w FROM und),
        |""".stripMargin + pageRankRounds(3) + """
        |SELECT node, rank_s,
        |  round(CAST(rank_s AS DOUBLE) / 1000000000.0, 6) AS rank
        |FROM r3 ORDER BY node""".stripMargin)),

    // ---- distribution-drift monitor (PSI) -----------------------------
    Query("q144_psi_drift", (s, d) => {
      // Population Stability Index of the event-value distribution,
      // reference (even event ids) vs current (odd): per-bucket terms
      // scaled to integers before the sum, so the oracle matches
      // bit-for-bit; psi > 0.25 is the classic retrain threshold
      val ev = t(s, d, "events")
      graft.ops.DriftMonitor.psi(
        ev.filter(pmod(col("event_id"), lit(2)) === 0),
        ev.filter(pmod(col("event_id"), lit(2)) === 1),
        "value", edges = Seq(10.0, 25.0, 50.0, 100.0, 200.0))
    }, Sql(
      // q144: PSI drift — bucket counts exact, per-bucket terms replay
      // the identical IEEE op order, scaled to BIGINT before the sum
      """WITH rb AS (
        |  SELECT (CASE WHEN value >= 10.0 THEN 1 ELSE 0 END
        |    + CASE WHEN value >= 25.0 THEN 1 ELSE 0 END
        |    + CASE WHEN value >= 50.0 THEN 1 ELSE 0 END
        |    + CASE WHEN value >= 100.0 THEN 1 ELSE 0 END
        |    + CASE WHEN value >= 200.0 THEN 1 ELSE 0 END) AS bucket
        |  FROM events WHERE event_id % 2 = 0),
        |rc AS (SELECT bucket, count(*) AS n_ref FROM rb GROUP BY 1),
        |ub AS (
        |  SELECT (CASE WHEN value >= 10.0 THEN 1 ELSE 0 END
        |    + CASE WHEN value >= 25.0 THEN 1 ELSE 0 END
        |    + CASE WHEN value >= 50.0 THEN 1 ELSE 0 END
        |    + CASE WHEN value >= 100.0 THEN 1 ELSE 0 END
        |    + CASE WHEN value >= 200.0 THEN 1 ELSE 0 END) AS bucket
        |  FROM events WHERE event_id % 2 = 1),
        |cc AS (SELECT bucket, count(*) AS n_cur FROM ub GROUP BY 1),
        |spine AS (SELECT unnest(range(0, 6)) AS bucket),
        |j AS (
        |  SELECT spine.bucket, coalesce(n_ref, 0) AS n_ref,
        |    coalesce(n_cur, 0) AS n_cur
        |  FROM spine LEFT JOIN rc USING (bucket)
        |  LEFT JOIN cc USING (bucket)),
        |t AS (SELECT *, sum(n_ref) OVER () AS tr,
        |  sum(n_cur) OVER () AS tc FROM j),
        |s AS (
        |  SELECT bucket, n_ref, n_cur,
        |    CAST(round((greatest(CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE), 1e-6)
        |        - greatest(CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE), 1e-6))
        |      * ln(greatest(CAST(n_ref AS DOUBLE) / CAST(tr AS DOUBLE), 1e-6)
        |        / greatest(CAST(n_cur AS DOUBLE) / CAST(tc AS DOUBLE), 1e-6))
        |      * 1000000000.0) AS BIGINT) AS term_s
        |  FROM t)
        |SELECT bucket, n_ref, n_cur,
        |  round(CAST(term_s AS DOUBLE) / 1000000000.0, 6) AS psi_term,
        |  round(CAST(sum(term_s) OVER () AS DOUBLE) / 1000000000.0, 6)
        |    AS psi
        |FROM s ORDER BY bucket""".stripMargin)),

    // ---- incremental IVF index maintenance ----------------------------
    Query("q143_ivf_incremental", (s, d) => {
      // the FAISS train-then-add discipline as a lake artifact:
      // publish codebook + assignments on the 80% slice, admit the
      // rest against the FROZEN codebook (narrow map + append), then
      // search the persisted index. The oracle replays the old-slice
      // codebook over the FULL corpus — admission must equal rebuild
      val emb = t(s, d, "embeddings")
      val path = s"${graft.core.Scratch.root(emb)}/ivfidx_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(path)
      val old = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      graft.operators.IvfIndex.publish(
        old, "vec_id", "embedding", path)
      graft.operators.IvfIndex.update(
        batch, "vec_id", "embedding", path)
      graft.operators.IvfIndex.searchFrom(
        s, path, emb.filter(col("vec_id") < 10), "vec_id",
        "embedding", "vec_id", k = 5, nprobe = 4)
        .orderBy(col("query_id"), col("rn"))
    }, Sql(
      // q143: incremental IVF admission must equal a full rebuild from
      // the SAME (old-slice, first-16-by-id) frozen codebook
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
        |      AS cell,
        |    CAST(embedding AS DOUBLE[]) AS cv
        |  FROM (SELECT * FROM embeddings WHERE vec_id % 5 <> 0
        |    ORDER BY vec_id LIMIT 16)),
        |asn AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT v.vec_id, cb.cell, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM v CROSS JOIN cb) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT v.vec_id AS query_id, cb.cell, row_number() OVER (
        |      PARTITION BY v.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM v CROSS JOIN cb WHERE v.vec_id < 10) WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_cosine_similarity(qv.vv, nv.vv) AS cs
        |  FROM probes p JOIN asn a ON p.cell = a.cell
        |  JOIN v qv ON qv.vec_id = p.query_id
        |  JOIN v nv ON nv.vec_id = a.vec_id
        |  WHERE a.vec_id <> p.query_id),
        |ranked AS (
        |  SELECT query_id, neighbor_id, cs, CAST(row_number() OVER (
        |      PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |    AS INT) AS rn
        |  FROM scored)
        |SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim, rn
        |FROM ranked WHERE rn <= 5
        |ORDER BY query_id, rn""".stripMargin)),

    // ---- retrieval evaluation metrics (MRR / hit@k) -------------------
    Query("q142_retrieval_metrics", (s, d) => {
      // the eval half of the retrieval stack: rank of each query's
      // known positive in the BM25 top-20, reciprocal rank, hit@5 —
      // per-query rows so rr=0 rows ARE the error analysis
      val docs = t(s, d, "documents")
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            TextFunctions.tokens(lower(col("text"))), 1, 8)).as("qtext"),
          col("doc_id").as("pos_id"))
      val res = graft.operators.Bm25.topK(docs, "doc_id", "text",
        qs, "query_id", "qtext", k = 20)
      graft.operators.RetrievalMetrics.evaluate(
        res, "doc_id", qs, "pos_id", k = 5)
    }, Sql(
      // q142: retrieval eval metrics over the bm25 chain — pos_rank is
      // an exact integer rank; rr replays the identical IEEE divide+round
      "WITH " +
      bm25Ctes(bm25DerivedQueries) + """,
        |qr AS (SELECT doc_id AS query_id, doc_id AS pos_id
        |  FROM documents WHERE doc_id < 3),
        |top AS (SELECT query_id, doc_id, rn FROM ranked
        |  WHERE rn <= 20),
        |m AS (
        |  SELECT qr.query_id, t.rn AS pos_rank
        |  FROM qr LEFT JOIN top t
        |    ON t.query_id = qr.query_id AND t.doc_id = qr.pos_id)
        |SELECT query_id, pos_rank,
        |  coalesce(round(1.0 / CAST(pos_rank AS DOUBLE), 6),
        |    CAST(0.0 AS DOUBLE)) AS rr,
        |  CASE WHEN pos_rank IS NULL THEN false
        |    ELSE pos_rank <= 5 END AS hit_at_k
        |FROM m ORDER BY query_id""".stripMargin)),

    // ---- trained language identification (Cavnar–Trenkle) -------------
    Query("q140_langid_trained", (s, d) => {
      // profiles trained on even doc_ids (labeled), odd docs held out
      // and classified by out-of-place rank distance — all integer
      // ranks/sums, so the oracle matches bit-for-bit
      val docs = t(s, d, "documents")
      val profiles = graft.operators.LangId.trainProfiles(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0), "lang", "text")
      graft.operators.LangId.classify(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1),
        "doc_id", "text", profiles)
        .orderBy(col("doc_id"))
    }, Sql(
      // q140: Cavnar–Trenkle language ID — integer ranks and sums only;
      // char n-grams are code-point substrings in both engines
      """WITH train AS (
        |  SELECT lang, lower(text) AS t FROM documents
        |  WHERE doc_id % 2 = 0),
        |tg AS (
        |  SELECT lang, unnest(CASE WHEN length(t) = 0 THEN []
        |    WHEN length(t) < 3 THEN [t]
        |    ELSE list_transform(range(1, length(t) - 1),
        |      i -> substring(t, i, 3)) END) AS gram
        |  FROM train),
        |tc AS (SELECT lang, gram, count(*) AS cnt FROM tg GROUP BY 1, 2),
        |prof AS (
        |  SELECT lang, gram, rank FROM (
        |    SELECT lang, gram, row_number() OVER (PARTITION BY lang
        |      ORDER BY cnt DESC, gram) AS rank
        |    FROM tc) WHERE rank <= 100),
        |test AS (
        |  SELECT doc_id, lower(text) AS t FROM documents
        |  WHERE doc_id % 2 = 1),
        |dg AS (
        |  SELECT doc_id, unnest(CASE WHEN length(t) = 0 THEN []
        |    WHEN length(t) < 3 THEN [t]
        |    ELSE list_transform(range(1, length(t) - 1),
        |      i -> substring(t, i, 3)) END) AS gram
        |  FROM test),
        |dc AS (SELECT doc_id, gram, count(*) AS cnt FROM dg GROUP BY 1, 2),
        |dt AS (
        |  SELECT doc_id, gram, doc_rank FROM (
        |    SELECT doc_id, gram, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY cnt DESC, gram) AS doc_rank
        |    FROM dc) WHERE doc_rank <= 50),
        |langs AS (SELECT DISTINCT lang FROM prof),
        |sc AS (
        |  SELECT doc_id, lang,
        |    CAST(coalesce(abs(doc_rank - rank), 100) AS BIGINT) AS oop
        |  FROM dt CROSS JOIN langs LEFT JOIN prof USING (lang, gram)),
        |dist AS (
        |  SELECT doc_id, lang, CAST(sum(oop) AS BIGINT) AS distance
        |  FROM sc GROUP BY 1, 2),
        |best AS (
        |  SELECT doc_id, lang AS lang_pred, distance,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY distance, lang) AS rn
        |  FROM dist)
        |SELECT doc_id, lang_pred, distance FROM best
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    // ---- incremental BM25 index maintenance ---------------------------
    Query("q139_bm25_incremental", (s, d) => {
      // growing-corpus index maintenance: publish the index on the 80%
      // "already ingested" slice, fold the rest in as an arriving
      // batch (only the batch is tokenized; df merges at vocabulary
      // size, postings/doclen append). The oracle is FULL-corpus BM25:
      // incremental admission must equal the recompute exactly
      val docs = t(s, d, "documents")
      val path = s"${graft.core.Scratch.root(docs)}/bm25idx_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(path)
      val old = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      graft.operators.Bm25Index.publish(old, "doc_id", "text", path)
      graft.operators.Bm25Index.update(batch, "doc_id", "text", path)
      import s.implicits._
      val qs = Seq(
        (0L, "hash join table"),
        (1L, "window agg scan"),
        (2L, "fast merge batch")).toDF("query_id", "qtext")
      graft.operators.Bm25Index.searchFrom(
        s, path, qs, "query_id", "qtext", "doc_id", k = 5)
    }, Sql(
      // q139: the incrementally-maintained index must produce the exact
      // full-corpus BM25 result — same oracle as q135 by construction
      bm25FullCorpus)),

    // ---- blocked fuzzy record linkage ---------------------------------
    Query("q138_fuzzy_link", (s, d) => {
      // entity resolution over part names: distinct values first
      // (vocabulary-sized), first+last-token blocking, levenshtein ≤ 4
      // only within blocks — the all-pairs frame never forms
      graft.ops.FuzzyLink.selfLink(
        t(s, d, "part"), "p_name", maxDist = 4)
    }, Sql(
      // q138: blocked fuzzy linkage — DuckDB levenshtein and Spark
      // levenshtein share the unit-cost edit-distance definition
      """WITH vals AS (
        |  SELECT p_name AS value, count(*) AS n_rows
        |  FROM part GROUP BY 1),
        |k AS (
        |  SELECT string_split_regex(value, '\s+')[1] AS block,
        |    value, n_rows FROM vals
        |  UNION
        |  SELECT string_split_regex(value, '\s+')[-1] AS block,
        |    value, n_rows FROM vals),
        |pairs AS (
        |  SELECT DISTINCT a.value AS value_a, b.value AS value_b,
        |    a.n_rows AS n_a, b.n_rows AS n_b
        |  FROM k a JOIN k b USING (block)
        |  WHERE a.value < b.value)
        |SELECT value_a, value_b,
        |  CAST(levenshtein(value_a, value_b) AS INTEGER) AS dist,
        |  n_a, n_b
        |FROM pairs WHERE levenshtein(value_a, value_b) <= 4
        |ORDER BY value_a, value_b""".stripMargin)),

    // ---- leakage-safe k-fold cross-validation -------------------------
    Query("q137_kfold", (s, d) => {
      // 5-fold CV where the fold unit is the near-dup cluster (the
      // q131 leakage argument, k-fold shape): fold is a pure function
      // of (seed, cluster_id), so no near-duplicates straddle folds
      val docs = t(s, d, "documents")
      val cl = graft.operators.DedupClusters.clusterMap(
        docs, "doc_id", "text", threshold = 0.95)
      graft.ops.Splits.kfold(cl, col("cluster_id"),
        seed = "graft", k = 5)
        .select(col("doc_id"), col("cluster_id"), col("fold"))
        .orderBy(col("doc_id"))
    }, Sql(
      // q137: same closure + md5 bucket as q131, folded mod k
      closureCtes() + """,
        |b AS (
        |  SELECT doc_id, cluster_id,
        |    (position(substring(md5('graft:'
        |        || CAST(cluster_id AS VARCHAR)), 1, 1)
        |      IN '0123456789abcdef') - 1) * 16
        |    + position(substring(md5('graft:'
        |        || CAST(cluster_id AS VARCHAR)), 2, 1)
        |      IN '0123456789abcdef') - 1 AS bucket
        |  FROM lab)
        |SELECT doc_id, cluster_id, bucket % 5 AS fold
        |FROM b ORDER BY doc_id""".stripMargin)),

    // ---- PageRank link authority --------------------------------------
    Query("q136_pagerank", (s, d) => {
      // crawl-curation graph signal: weighted PageRank (3 power
      // iterations, d=0.85) over the part↔supplier co-occurrence
      // graph from lineitem (supplier nodes offset by 1e6 to keep id
      // spaces disjoint). Integer-scaled ranks — the oracle unrolls
      // the identical iterations and matches bit-for-bit
      val pairs = t(s, d, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(count(lit(1)).as("w"))
      val fwd = pairs.select(col("l_partkey").as("src"),
        (col("l_suppkey") + lit(1000000L)).as("dst"), col("w"))
      val rev = pairs.select(
        (col("l_suppkey") + lit(1000000L)).as("src"),
        col("l_partkey").as("dst"), col("w"))
      graft.ops.PageRank.run(fwd.union(rev), "src", "dst", "w",
        iters = 3)
        .orderBy(col("node"))
    }, Sql(
      // PageRank: 3 unrolled power iterations mirroring ops/PageRank —
      // scaled-integer ranks, per-edge contributions rounded from the
      // identical IEEE multiply/divide, all cross-row sums over BIGINTs.
      // Iterative CTEs are MATERIALIZED (each r_i is referenced twice by
      // round i+1; inline expansion is exponential in iters).
      """WITH e AS MATERIALIZED (
        |  SELECT l_partkey AS src, l_suppkey + 1000000 AS dst,
        |    count(*) AS w
        |  FROM lineitem GROUP BY 1, 2
        |  UNION ALL
        |  SELECT l_suppkey + 1000000 AS src, l_partkey AS dst,
        |    count(*) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |""".stripMargin + pageRankRounds(3) + """
        |SELECT node, rank_s,
        |  round(CAST(rank_s AS DOUBLE) / 1000000000.0, 6) AS rank
        |FROM r3 ORDER BY node""".stripMargin)),

    // ---- incremental cluster-map maintenance --------------------------
    Query("q134_incremental_clusters", (s, d) => {
      // growing-corpus cluster maintenance: publish the map on the
      // 80% "already ingested" slice, then fold the rest in as an
      // arriving batch — signature-store candidates, delta-subgraph
      // closure, relabel-on-merge. The oracle is the FULL-corpus
      // closure: incremental admission must equal the recompute
      val docs = t(s, d, "documents")
      val path = s"${graft.core.Scratch.root(docs)}/incrclusters_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(path)
      val old = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      graft.operators.IncrementalClusters.publish(
        old, "doc_id", "text", path)
      graft.operators.IncrementalClusters.update(
        batch, old, "doc_id", "text", path)
      graft.operators.IncrementalClusters.read(s, path)
        .orderBy(col("doc_id"))
    }, Sql(
      // q134: incremental admission must equal the full-corpus closure
      // (old components enter as star edges, which have the same
      // transitive closure as the old intra-corpus jaccard edges)
      closureCtes() + """
        |SELECT doc_id, cluster_id FROM lab
        |ORDER BY doc_id""".stripMargin)),

    // ---- table-driven blocklist ---------------------------------------
    Query("q133_blocklist_table", (s, d) => {
      // the production compliance shape: the blocklist is a TABLE (here
      // derived in-pipeline — top-20 doc-frequency bigrams), pulled
      // through flagPhrasesFrom's size-guarded collect and shipped
      // inside the Aho–Corasick automaton (broadcast-build shape).
      // Blocklist order is lexicographic, so first_hit = the smallest
      // matched phrase — which is what the oracle's min() re-derives
      val docs = t(s, d, "documents")
      val phrases = docs
        .select(explode(array_distinct(
          graft.functions.WordShingles.column(
            TextFunctions.tokens(lower(col("text"))), 2))).as("phrase"))
        .filter(length(col("phrase")) > 0)
        .groupBy(col("phrase")).agg(count(lit(1)).as("__df"))
        .orderBy(col("__df").desc, col("phrase")).limit(20)
        .select(col("phrase"))
      graft.operators.Blocklist.flagPhrasesFrom(
        docs.withColumn("__lc", lower(col("text"))), "doc_id", "__lc",
        phrases, "phrase")
        .orderBy(col("doc_id"))
    }, Sql(
      // q133: table-driven blocklist — re-derives the same top-20
      // doc-frequency bigram table (count desc, phrase asc), then the
      // contains scan; blocklist order is lexicographic, so first_hit
      // is the min matched phrase
      """WITH tk AS (
        |  SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |    ELSE string_split_regex(trim(lower(text)), '\s+') END
        |    AS toks
        |  FROM documents),
        |big AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 2
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks)),
        |        i -> toks[i] || ' ' || toks[i+1]) END)) AS phrase
        |  FROM tk),
        |top AS (
        |  SELECT phrase FROM (
        |    SELECT phrase, count(*) AS df FROM big
        |    WHERE len(phrase) > 0
        |    GROUP BY phrase ORDER BY df DESC, phrase LIMIT 20)),
        |hits AS (
        |  SELECT d.doc_id, t.phrase
        |  FROM documents d JOIN top t
        |    ON contains(lower(d.text), t.phrase)),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |    min(phrase) AS first_hit
        |  FROM hits GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(a.n_hits, 0) AS n_hits, a.first_hit,
        |  (a.n_hits IS NOT NULL) AS blocked
        |FROM documents d LEFT JOIN agg a USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- leakage-safe train/val/test split ----------------------------
    Query("q131_leakage_safe_split", (s, d) => {
      // the split unit is the near-dup cluster: a val doc whose
      // near-duplicate sits in train is memorizable eval leakage, so
      // every member inherits the split hashed from the cluster id
      graft.ops.Splits.leakageSafe(
        t(s, d, "documents"), "doc_id", "text", seed = "graft")
        .orderBy(col("doc_id"))
    }, Sql(
      // q131: q59's exact-jaccard closure (LSH recall 1-4e-12 at 0.95,
      // same argument as q44/q59) + q74's md5 split hash on cluster_id
      closureCtes() + """,
        |b AS (
        |  SELECT doc_id, cluster_id,
        |    (position(substring(md5('graft:'
        |        || CAST(cluster_id AS VARCHAR)), 1, 1)
        |      IN '0123456789abcdef') - 1) * 16
        |    + position(substring(md5('graft:'
        |        || CAST(cluster_id AS VARCHAR)), 2, 1)
        |      IN '0123456789abcdef') - 1 AS bucket
        |  FROM lab)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN bucket < 205 THEN 'train'
        |       WHEN bucket < 230 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin)),

    // ---- keep-best-quality cluster representative ---------------------
    Query("q113_cluster_best", (s, d) => {
      // near-dup clusters (q59's pair graph) ranked by quality score:
      // the curation decision keeps the argmax member, not the min id.
      // Consumes the shared cluster-map artifact (see q59)
      val docs = t(s, d, "documents")
      val cl = graft.operators.DedupClusters.clusterMap(
        docs, "doc_id", "text", threshold = 0.95)
      val scored = docs.select(col("doc_id"),
        graft.functions.TextFunctions.qualityScore(col("text"))
          .as("quality"))
      graft.operators.DedupClusters.bestRepresentativesFrom(
        scored, "doc_id", cl)
        .orderBy(col("doc_id"))
    }, Sql(
      // q59's exact-Jaccard closure + q21's quality formula; the
      // representative is the (quality desc, doc_id asc) argmax
      closureCtes() + """,
        |q AS (SELECT doc_id,
        |  round(
        |    (least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
        |     * (1.0 - least(
        |         (CAST(len(regexp_extract_all(text, '[[:punct:]]'))
        |            AS DOUBLE)
        |          / greatest(CAST(length(text) AS DOUBLE), 1.0))
        |         * 4.0, 1.0) * 0.5))
        |    * sqrt(
        |        CAST(len(list_distinct(CASE WHEN trim(text) = ''
        |          THEN [] ELSE string_split_regex(
        |            trim(lower(text)), '\s+') END)) AS DOUBLE)
        |        / greatest(CAST(CASE WHEN trim(text) = '' THEN 0
        |          ELSE len(string_split_regex(trim(text), '\s+'))
        |          END AS DOUBLE), 1.0)), 4) AS quality
        |  FROM documents),
        |j AS (SELECT lab.doc_id, lab.cluster_id, q.quality
        |  FROM lab JOIN q USING (doc_id)),
        |r AS (SELECT cluster_id, doc_id AS rep_id, row_number()
        |    OVER (PARTITION BY cluster_id
        |      ORDER BY quality DESC, doc_id) AS rn
        |  FROM j)
        |SELECT j.doc_id, j.cluster_id, j.quality, r.rep_id,
        |  j.doc_id = r.rep_id AS keep
        |FROM j JOIN r ON j.cluster_id = r.cluster_id AND r.rn = 1
        |ORDER BY j.doc_id""".stripMargin)),

    // ---- product quantization (PQ codes + reconstruction error) -------
    Query("q115_pq_encode", (s, d) => {
      // 4 subspaces × 16 cells, one fused Lloyd round per subspace;
      // oracle unrolls the identical training + encode in SQL
      graft.operators.SimilarityOps.pqEncode(
        t(s, d, "embeddings"), "vec_id", "embedding",
        m = 4, cells = 16, iters = 1)
        .orderBy(col("vec_id"))
    }, Sql(pqEncodeSql(m = 4, sub = 16, cells = 16))),

    // ---- PQ asymmetric-distance search --------------------------------
    Query("q116_pq_adc", (s, d) => {
      // candidates scored from their m PQ codes only (no raw corpus
      // vectors in the scoring join); distance asc, id asc, top-5
      val emb = t(s, d, "embeddings")
      graft.operators.SimilarityOps.pqAdcTopK(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        "vec_id", k = 5, m = 4, cells = 16, iters = 1)
        .orderBy(col("query_id"), col("rn"))
    }, Sql(pqAdcSql(m = 4, sub = 16, cells = 16, k = 5,
      nQueries = 10))),

    // ---- full IVF-PQ pipeline -----------------------------------------
    Query("q117_ivfpq", (s, d) => {
      // coarse probe (trained cells, as q40) → ADC shortlist from PQ
      // codes → exact-cosine re-rank of the top-100 → final top-5.
      // rerank=100 keeps recall monotone in nprobe: the ADC stage
      // ranks by subspace L2² while the final order is cosine, so a
      // tight shortlist cut lets extra probed candidates crowd out
      // true neighbors (measured recall@5 fell 0.76→0.70 going
      // nprobe 1→4 at rerank=20; 0.82→0.92 at rerank=100). Still
      // bounded: rerank×queries rows, corpus-size-independent.
      val emb = t(s, d, "embeddings")
      graft.operators.SimilarityOps.ivfPqTopK(
        emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        "vec_id", k = 5, cells = 16, nprobe = 4, coarseIters = 2,
        m = 4, pqCells = 16, pqIters = 1, rerank = 100)
        .orderBy(col("query_id"), col("rn"))
    }, Sql(
      // full IVF-PQ: coarse probe (trained cb2, as q40) → ADC shortlist
      // from PQ codes → exact-cosine re-rank of the top-20
      ivfPqCtes + """
        |SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim,
        |  CAST(rn AS INT) AS rn
        |FROM (SELECT query_id, neighbor_id, cs, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
        |  FROM rr)
        |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin)),

    // ---- ANN recall audit (IVF-PQ vs exact) ---------------------------
    Query("q118_ann_recall", (s, d) => {
      // per-query overlap of q117's IVF-PQ top-5 with the exact top-5
      // — the production quality monitor for an ANN index
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val ops = graft.operators.SimilarityOps
      val exact = ops.bruteForceTopK(emb, q, "vec_id", "embedding",
        "vec_id", k = 5).select(col("query_id"), col("neighbor_id"))
      val approx = ops.ivfPqTopK(emb, q, "vec_id", "embedding",
        "vec_id", k = 5, cells = 16, nprobe = 4, coarseIters = 2,
        m = 4, pqCells = 16, pqIters = 1, rerank = 100)
        .select(col("query_id"), col("neighbor_id"))
      val overlap = exact.join(approx, Seq("query_id", "neighbor_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("n"))
      q.select(col("vec_id").as("query_id"))
        .join(overlap, Seq("query_id"), "left")
        .select(col("query_id"),
          coalesce(col("n"), lit(0L)).as("recall_at_5"))
        .orderBy(col("query_id"))
    }, Sql(
      // ANN quality audit: IVF-PQ top-5 overlap vs exact top-5
      ivfPqCtes + """,
        |appr AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |      AS rn FROM rr) WHERE rn <= 5),
        |ex AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT qv.vec_id AS query_id, nv.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY qv.vec_id
        |        ORDER BY list_cosine_similarity(qv.vv, nv.vv) DESC,
        |          nv.vec_id) AS rn
        |    FROM v qv JOIN v nv ON nv.vec_id <> qv.vec_id
        |    WHERE qv.vec_id < 10) WHERE rn <= 5)
        |SELECT q.query_id, CAST(coalesce(o.n, 0) AS BIGINT)
        |  AS recall_at_5
        |FROM (SELECT vec_id AS query_id FROM v WHERE vec_id < 10) q
        |LEFT JOIN (SELECT a.query_id, count(*) AS n FROM appr a
        |  JOIN ex USING (query_id, neighbor_id)
        |  GROUP BY a.query_id) o USING (query_id)
        |ORDER BY query_id""".stripMargin)),

    // ---- duplicated-span fraction (exact-substring dedup signal) ------
    Query("q119_dup_spans", (s, d) => {
      graft.operators.SpanDedup.dupSpanStats(
        t(s, d, "documents"), "doc_id", "text", k = 5)
        .orderBy(col("doc_id"))
    }, Sql(
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) < 5
        |      THEN [array_to_string(toks, ' ')]
        |      ELSE list_transform(range(1, len(toks) - 3),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
        |          || ' ' || toks[i+3] || ' ' || toks[i+4]) END)) AS s
        |  FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |      ELSE string_split_regex(trim(lower(text)), '\s+') END
        |      AS toks FROM documents)),
        |d AS (SELECT doc_id, md5(s) AS dg FROM sh),
        |dfr AS (SELECT dg, count(*) AS dfreq FROM d GROUP BY dg)
        |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(sum(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup,
        |  round(CAST(sum(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END)
        |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS dup_fraction
        |FROM d JOIN dfr USING (dg)
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),

    // ---- trained quality classifier (logistic GD, integer-summed) -----
    Query("q120_quality_classifier", (s, d) => {
      // positives = src0 docs; 3 full-batch iterations, lr 0.5
      graft.operators.QualityClassifier.scoreDF(
        t(s, d, "documents"), "doc_id", "text",
        isPositive = col("source") === "src0")
        .orderBy(col("doc_id"))
    }, Sql(lrGdOracle(iters = 3))),

    // ---- deterministic training-order permutation ---------------------
    Query("q114_training_order", (s, d) => {
      // seeded hash-order (shard, pos) addressing — the reproducible
      // "global shuffle" a training loader consumes; no global sort
      graft.operators.ShardExport.trainingOrder(
        t(s, d, "documents"), "doc_id", seed = 42L, shards = 8)
        .orderBy(col("doc_id"))
    }, Sql(
      // same md5-prefix hash as the Spark side → identical permutation
      """WITH h AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substring(
        |      md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      AS order_key
        |  FROM documents)
        |SELECT doc_id, order_key % 8 AS shard,
        |  CAST(row_number() OVER (PARTITION BY order_key % 8
        |    ORDER BY order_key, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY doc_id""".stripMargin)),

    // ---- hybrid retrieval: BM25 + dense, reciprocal-rank fusion -------
    Query("q146_hybrid_rrf", (s, d) => {
      // the full hybrid search stack: sparse BM25 top-20 and dense
      // hashed-vector top-20 (query text vectorized against CORPUS
      // idf — the external-query path), fused by reciprocal rank
      // (1/(60+rank), Cormack 2009) into a final top-5. Fusion never
      // touches the corpus: two queries×20 lists, one equi-join
      val docs = t(s, d, "documents")
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            TextFunctions.tokens(lower(col("text"))), 1, 8)).as("qtext"))
      val sparse = graft.operators.Bm25.topK(docs, "doc_id", "text",
        qs, "query_id", "qtext", k = 20)
      val dense = graft.operators.HashingVectorizer.textTopKFor(
        docs, "doc_id", "text", qs, "query_id", "qtext",
        k = 20, dim = 64)
      graft.operators.HybridSearch.rrf(sparse, "doc_id",
        dense, "neighbor_id", k = 5)
        .orderBy(col("query_id"), col("rn"))
    }, Sql(
      // q146: hybrid retrieval — the BM25 chain (bm25Ctes: toks/tf/dl/
      // dfreq/stats/qraw/ranked) plus a dense side reusing the SAME
      // toks/tf/dfreq postings, replicating HashingVectorizer's scaled-
      // integer bucket discipline for corpus AND external query vectors,
      // fused by 1/(60+rank). Both engines compute the two IEEE
      // divisions and one fixed-order add on integer ranks, so the
      // fusion scores are bit-identical.
      hybridFusedCtes + """
      |SELECT query_id, doc_id, round(rrf, 6) + 0 AS rrf_score,
      |  rank_sparse, rank_dense, rn
      |FROM hout WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin)),

    // ---- nearest-centroid label classification ------------------------
    Query("q147_centroid_classify", (s, d) => {
      // Rocchio topic routing over the embeddings table: per-label
      // mean centroids trained on the 80% slice (labels×dim model
      // metadata), held-out 20% classified by in-row cosine argmax —
      // zero shuffles over the scored corpus. correct/pred per row so
      // the result doubles as the confusion-matrix input
      val emb = t(s, d, "embeddings")
      val train = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val test = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      val cents = graft.operators.CentroidClassifier.trainCentroids(
        train, "label", "embedding")
      graft.operators.CentroidClassifier.classify(
          test, "vec_id", "embedding", cents)
        .join(test.select(col("vec_id"),
          col("label").as("true_label")), Seq("vec_id"))
        .select(col("vec_id"), col("true_label"), col("pred_label"),
          col("pred_cos"),
          (col("pred_label") === col("true_label")).as("correct"))
        .orderBy(col("vec_id"))
    }, Sql(
      // q147: nearest-centroid classification — per-label 6-dp-rounded
      // mean centroids on the 80% slice (the k-means means discipline),
      // held-out rows classified by cosine argmax (ties → smaller
      // label), the same list_cosine_similarity ↔ CosineSim agreement
      // the ANN oracles rely on.
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |cent AS (
        |  SELECT label, dim, round(avg(x), 6) + 0 AS mx FROM (
        |    SELECT label,
        |      CAST(generate_subscripts(vv, 1) - 1 AS INT) AS dim,
        |      unnest(vv) AS x
        |    FROM v WHERE vec_id % 5 <> 0)
        |  GROUP BY label, dim),
        |cb AS (
        |  SELECT label, list(mx ORDER BY dim) AS cv
        |  FROM cent GROUP BY label),
        |scoredc AS (
        |  SELECT te.vec_id, te.label AS true_label,
        |    cb.label AS pred_label,
        |    list_cosine_similarity(te.vv, cb.cv) AS cs,
        |    row_number() OVER (PARTITION BY te.vec_id
        |      ORDER BY list_cosine_similarity(te.vv, cb.cv) DESC,
        |        cb.label) AS rk
        |  FROM (SELECT * FROM v WHERE vec_id % 5 = 0) te
        |  CROSS JOIN cb)
        |SELECT vec_id, true_label, pred_label,
        |  round(cs, 4) + 0 AS pred_cos,
        |  (pred_label = true_label) AS correct
        |FROM scoredc WHERE rk = 1 ORDER BY vec_id""".stripMargin)),

    // ---- duplication-aware sampling weights (soft dedup) --------------
    Query("q148_soft_dedup_weights", (s, d) => {
      // keep every near-duplicate but down-weight it by cluster size
      // (weight = 1/|cluster|): each cluster contributes one doc's
      // worth of sampling mass. Consumes the shared cluster-map
      // artifact — one size count + one map-sized join on top
      val docs = t(s, d, "documents")
      val cl = graft.operators.DedupClusters.clusterMap(
        docs, "doc_id", "text", threshold = 0.95)
      graft.operators.DedupClusters.duplicationWeights(cl, "doc_id")
        .orderBy(col("doc_id"))
    }, Sql(
      // q148: soft dedup — every member kept, weight = 1/|cluster| over
      // the same exact-jaccard closure the other cluster consumers pin
      closureCtes() + """,
        |sizes AS (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM lab GROUP BY 1)
        |SELECT doc_id, cluster_id, cluster_size,
        |  greatest(round(1.0 / cluster_size, 6) + 0, 0.000001)
        |    AS weight
        |FROM lab JOIN sizes USING (cluster_id)
        |ORDER BY doc_id""".stripMargin)),

    // ---- MMR diversified re-ranking -----------------------------------
    Query("q149_mmr_rerank", (s, d) => {
      // diversify the ANN shortlist: brute-force top-20 per query
      // (vec_id < 5), then 5 greedy MMR rounds (λ=0.7) trade
      // relevance against similarity to the already-selected set.
      // Shortlist + pair sims materialize once; each round is a
      // bounded-heap argmax over queries×20 rows
      val emb = t(s, d, "embeddings")
      val shortlist = graft.operators.SimilarityOps.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        "vec_id", k = 20)
      graft.operators.MmrRerank.rerank(
        shortlist, "cos_sim", emb, "vec_id", "embedding",
        k = 5, lambda = 0.7)
        .orderBy(col("query_id"), col("rn"))
    }, Sql(
      // q149: MMR re-rank — shortlist chosen on RAW cosine rank (the
      // bruteForceTopK ordering), relevance consumed at its 4-dp surface
      // rounding, 5 unrolled greedy rounds scoring
      // 0.7·rel − (1.0−0.7)·max_sim (the (1.0 - 0.7) form keeps the
      // IEEE constant identical to Spark's `lit(1.0 - lambda)`),
      // argmax ties → smaller id.
      
      """WITH v AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |sl AS MATERIALIZED (
        |  SELECT query_id, neighbor_id, round(cs, 4) + 0 AS rel FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      list_cosine_similarity(q.vv, c.vv) AS cs,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.vv, c.vv) DESC,
        |          c.vec_id) AS rk
        |    FROM v q CROSS JOIN v c
        |    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id)
        |  WHERE rk <= 20),
        |ps AS MATERIALIZED (
        |  SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
        |    list_cosine_similarity(vi.vv, vj.vv) AS sim
        |  FROM sl a JOIN sl b ON a.query_id = b.query_id
        |    AND a.neighbor_id <> b.neighbor_id
        |  JOIN v vi ON vi.vec_id = a.neighbor_id
        |  JOIN v vj ON vj.vec_id = b.neighbor_id)""".stripMargin +
        mmrUnrolledTail(5))),

    // ---- classifier calibration curve (reliability diagram) -----------
    Query("q150_calibration_curve", (s, d) => {
      // is q120's score trustworthy as a probability? 1%-wide score
      // bins (fine enough to resolve this classifier's narrow score
      // band) vs empirical positive rate; `gap` is the per-bucket
      // reliability deviation (n-weighted sum = ECE).
      // Scaled-integer sums only — one aggregation over the scored
      // frame, 10 output rows
      graft.operators.QualityClassifier.calibrationCurve(
        t(s, d, "documents"), "doc_id", "text",
        isPositive = col("source") === "src0", buckets = 100)
        .orderBy(col("bucket"))
    }, Sql(lrCalibrationOracle(iters = 3, buckets = 100))),

    // ---- kNN label voting on the IVF path -----------------------------
    Query("q151_knn_classify", (s, d) => {
      // the ANN stack as a classifier: held-out vectors (vec_id%5==0)
      // probe the labeled corpus' coarse cells, top-5 cosine neighbors
      // vote (ties → smaller label). Multi-modal label regions that
      // break q147's one-centroid assumption work here — cost is
      // ~nprobe/cells of the labeled corpus per query
      val emb = t(s, d, "embeddings")
      val train = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val test = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      graft.operators.KnnClassifier.classify(
          train, test, "vec_id", "embedding", "label",
          k = 5, cells = 16, nprobe = 4)
        .join(test.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), Seq("query_id"))
        .select(col("query_id").as("vec_id"), col("true_label"),
          col("pred_label"), col("votes"),
          (col("pred_label") === col("true_label")).as("correct"))
        .orderBy(col("vec_id"))
    }, Sql(
      // q151: kNN voting over the IVF probe — train slice provides the
      // first-16-by-id codebook, test vectors probe 4 cells, top-5
      // cosine neighbors vote; argmax (votes desc, label asc)
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |tr AS (SELECT * FROM v WHERE vec_id % 5 <> 0),
        |te AS (SELECT * FROM v WHERE vec_id % 5 = 0),
        |cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
        |      AS INTEGER) AS cell, vv AS cv
        |  FROM (SELECT vec_id, vv FROM tr ORDER BY vec_id LIMIT 16)),
        |asn AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT tr.vec_id, cb.cell, row_number() OVER (
        |      PARTITION BY tr.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM tr CROSS JOIN cb) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT te.vec_id AS query_id, cb.cell, row_number() OVER (
        |      PARTITION BY te.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM te CROSS JOIN cb) WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_cosine_similarity(qv.vv, nv.vv) AS cs
        |  FROM probes p JOIN asn a USING (cell)
        |  JOIN te qv ON qv.vec_id = p.query_id
        |  JOIN tr nv ON nv.vec_id = a.vec_id),
        |topk AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |      AS rn
        |    FROM scored) WHERE rn <= 5),
        |votes AS (
        |  SELECT t.query_id, nv.label,
        |    CAST(count(*) AS BIGINT) AS votes
        |  FROM topk t JOIN tr nv ON nv.vec_id = t.neighbor_id
        |  GROUP BY 1, 2),
        |pick AS (
        |  SELECT query_id, label AS pred_label, votes FROM (
        |    SELECT query_id, label, votes, row_number() OVER (
        |      PARTITION BY query_id ORDER BY votes DESC, label) AS rk
        |    FROM votes) WHERE rk = 1)
        |SELECT p.query_id AS vec_id, te.label AS true_label,
        |  p.pred_label, p.votes,
        |  (p.pred_label = te.label) AS correct
        |FROM pick p JOIN te ON te.vec_id = p.query_id
        |ORDER BY vec_id""".stripMargin)),

    // ---- per-language tokenizer fertility ------------------------------
    Query("q152_tokenizer_fertility", (s, d) => {
      // tokens-per-word by language under the trained 5-merge BPE —
      // the fairness audit run before fixing a token budget across
      // languages (a high-fertility language pays more tokens for the
      // same text). All integer sums; one corpus scan via the shared
      // encodeStats artifact chain
      val docs = t(s, d, "documents")
      graft.operators.Bpe.encodeStats(docs, "doc_id", "text",
          merges = 5)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bpe_tokens")).as("n_bpe_tokens"),
          sum(col("n_words")).as("n_words"))
        .withColumn("fertility",
          dround(col("n_bpe_tokens").cast("double") /
            greatest(col("n_words"), lit(1L)).cast("double"), 4)
            + lit(0))
        .orderBy(col("lang"))
    }, Sql(
      // q152: the q112 encode chain grouped by language — fertility =
      // Σtokens/Σwords on exact integer sums
      bpeChain(5) + s""",
      |enc AS (
      |  SELECT word, n,
      |    CAST(len(string_split_regex(trim(sym), ' +')) AS BIGINT)
      |      AS nsym
      |  FROM v5),
      |dw AS (
      |  SELECT doc_id, unnest(CASE WHEN trim(text) = '' THEN []
      |      ELSE string_split_regex(trim(lower(text)), '\\s+') END)
      |    AS word FROM documents),
      |pd AS (
      |  SELECT dw.doc_id, CAST(sum(e.nsym) AS BIGINT) AS n_bpe_tokens,
      |    CAST(count(*) AS BIGINT) AS n_words
      |  FROM dw JOIN enc e USING (word) GROUP BY dw.doc_id),
      |pl AS (
      |  SELECT d.lang, coalesce(pd.n_bpe_tokens, 0) AS nb,
      |    coalesce(pd.n_words, 0) AS nw
      |  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id)
      |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
      |  CAST(sum(nw) AS BIGINT) AS n_words,
      |  round(CAST(sum(nb) AS DOUBLE)
      |    / CAST(greatest(sum(nw), 1) AS DOUBLE), 4) + 0 AS fertility
      |FROM pl GROUP BY lang ORDER BY lang""".stripMargin)),

    // ---- multi-epoch training order ------------------------------------
    Query("q153_epoch_orders", (s, d) => {
      // 3 independent deterministic permutations (epoch folded into
      // the hash seed): the multi-epoch data-loader address space,
      // reproducible and resumable at any (epoch, shard, pos)
      graft.operators.ShardExport.multiEpochOrder(
        t(s, d, "documents"), "doc_id", seed = 42L, shards = 8,
        epochs = 3)
        .orderBy(col("doc_id"), col("epoch"))
    }, Sql(
      // q153: q114's permutation ×3 epochs, epoch folded into the seed
      """WITH e AS (
        |  SELECT doc_id, unnest([0, 1, 2]) AS epoch FROM documents),
        |h AS (
        |  SELECT doc_id, epoch,
        |    CAST(concat('0x', substring(
        |      md5('42:' || CAST(epoch AS VARCHAR) || ':'
        |        || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |      AS order_key
        |  FROM e)
        |SELECT doc_id, epoch, order_key % 8 AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY epoch, order_key % 8
        |    ORDER BY order_key, doc_id) AS BIGINT) AS pos
        |FROM h ORDER BY doc_id, epoch""".stripMargin)),

    // ---- RAG context assembly capstone --------------------------------
    Query("q154_rag_context", (s, d) => {
      // the full retrieval stack end-to-end, as a RAG serving layer
      // would run it: sparse BM25 + dense hashed-vector retrieval,
      // RRF-fused to a 10-doc candidate set, MMR-diversified (λ=0.7,
      // rel = fused score, sims over the shared dense-vector artifact)
      // down to the final 5-doc context. Every stage keeps its own
      // scale shape; the composition adds only shortlist-sized frames
      val docs = t(s, d, "documents")
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            TextFunctions.tokens(lower(col("text"))), 1, 8)).as("qtext"))
      val sparse = graft.operators.Bm25.topK(docs, "doc_id", "text",
        qs, "query_id", "qtext", k = 20)
      val dense = graft.operators.HashingVectorizer.textTopKFor(
        docs, "doc_id", "text", qs, "query_id", "qtext",
        k = 20, dim = 64)
      val fused = graft.operators.HybridSearch.rrf(sparse, "doc_id",
        dense, "neighbor_id", k = 10)
      val dv = graft.operators.HashingVectorizer.denseVectors(
        docs, "doc_id", "text", dim = 64)
      graft.operators.MmrRerank.rerank(
        fused.select(col("query_id"),
          col("doc_id").as("neighbor_id"), col("rrf_score")),
        "rrf_score", dv, "doc_id", "vec", k = 5, lambda = 0.7)
        .orderBy(col("query_id"), col("rn"))
    }, Sql(
      // q154: the RAG context-assembly capstone — hybrid top-10 (the
      // full q146 chain) re-ranked by 5 unrolled MMR rounds over the
      // hashed dense vectors, rel = the 6-dp fused score
      hybridFusedCtes + """,
      |w AS (
      |  SELECT doc_id, bucket,
      |    round(CAST(ws AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)), 6) + 0
      |      AS weight
      |  FROM hbb JOIN hnorm USING (doc_id)),
      |grid AS (
      |  SELECT doc_id, unnest(range(0, 64)) AS b
      |  FROM (SELECT DISTINCT doc_id FROM w)),
      |dense0 AS (
      |  SELECT g.doc_id, g.b, coalesce(w.weight, 0.0) AS x
      |  FROM grid g LEFT JOIN w
      |    ON w.doc_id = g.doc_id AND w.bucket = g.b),
      |dv AS (
      |  SELECT doc_id, list(x ORDER BY b) AS vv
      |  FROM dense0 GROUP BY doc_id),
      |sl AS MATERIALIZED (
      |  SELECT query_id, doc_id AS neighbor_id,
      |    round(rrf, 6) + 0 AS rel
      |  FROM hout WHERE rn <= 10),
      |ps AS MATERIALIZED (
      |  SELECT a.query_id, a.neighbor_id AS i, b.neighbor_id AS j,
      |    list_cosine_similarity(vi.vv, vj.vv) AS sim
      |  FROM sl a JOIN sl b ON a.query_id = b.query_id
      |    AND a.neighbor_id <> b.neighbor_id
      |  JOIN dv vi ON vi.doc_id = a.neighbor_id
      |  JOIN dv vj ON vj.doc_id = b.neighbor_id)""".stripMargin +
      mmrUnrolledTail(5))),

    // ---- passage-level retrieval, doc-level max-pool ------------------
    Query("q155_passage_search", (s, d) => {
      // the long-document RAG shape: chunk into overlapping passages
      // (16 tokens, overlap 4), BM25 over the passage table, keep each
      // doc's best passage score, rank docs. Chunking is a pure
      // explode; the passage index inherits BM25's postings shapes
      val docs = t(s, d, "documents")
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            TextFunctions.tokens(lower(col("text"))), 1, 8)).as("qtext"))
      val chunks = graft.operators.Chunking.chunkTokens(
          docs, "doc_id", "text", chunkSize = 16, overlap = 4)
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("cid"),
          col("chunk_text"))
      val hits = graft.operators.Bm25.topK(chunks, "cid", "chunk_text",
        qs, "query_id", "qtext", k = 50)
      val byDoc = hits
        .select(col("query_id"), expr("cid DIV 1000").as("doc_id"),
          col("score"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(max(col("score")).as("best_score"),
          count(lit(1)).as("n_passages"))
      graft.functions.TopKByScore.explodeTopK(byDoc,
          Seq("query_id"), col("best_score"), col("doc_id"), 5,
          outId = "doc_id", outScore = "best_score")
        .join(byDoc.select(col("query_id"), col("doc_id"),
          col("n_passages")), Seq("query_id", "doc_id"))
        .select(col("query_id"), col("doc_id"),
          (dround(col("best_score"), 4) + lit(0)).as("best_score"),
          col("n_passages"), col("rn"))
        .orderBy(col("query_id"), col("rn"))
    }, Sql(
      // q155: passage-level retrieval with doc-level max-pooling — the
      // long-document RAG shape: BM25 over 16-token chunks (overlap 4),
      // per-doc best passage, top-5 docs. The corpus fed to the BM25
      // chain is the CHUNK table (cid = doc_id*1000 + chunk_idx)
      "WITH " + bm25Ctes(bm25DerivedQueries,
      corpusSql = """SELECT doc_id * 1000 + chunk_idx AS doc_id,
        |      chunk_text AS text FROM (
        |    SELECT doc_id, CAST(s // 12 AS INT) AS chunk_idx,
        |      array_to_string(list_slice(toks0, s + 1, s + 16), ' ')
        |        AS chunk_text
        |    FROM (
        |      SELECT doc_id, toks0, unnest(range(0, len(toks0), 12))
        |        AS s
        |      FROM (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |          ELSE string_split_regex(trim(text), '\s+') END
        |          AS toks0 FROM documents)
        |      WHERE len(toks0) > 0))""".stripMargin) + """,
      |dh AS (
      |  SELECT query_id, doc_id // 1000 AS doc_id, score
      |  FROM ranked WHERE rn <= 50),
      |agg AS (
      |  SELECT query_id, doc_id, max(score) AS best_score,
      |    CAST(count(*) AS BIGINT) AS n_passages
      |  FROM dh GROUP BY 1, 2),
      |fin AS (
      |  SELECT query_id, doc_id, best_score, n_passages,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY best_score DESC, doc_id) AS INTEGER) AS rn
      |  FROM agg)
      |SELECT query_id, doc_id, best_score, n_passages, rn
      |FROM fin WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin)),

    // ---- retrieval A/B eval: hybrid vs sparse-only --------------------
    Query("q156_hybrid_ab_eval", (s, d) => {
      // does fusion beat BM25 alone? Rank-of-positive, reciprocal
      // rank, and hit@5 per query for BOTH systems side by side — the
      // A/B table a retrieval team reads before shipping the hybrid.
      // Both metric joins are qrels-sized; the corpus is touched only
      // by the two retrieval stages
      val docs = t(s, d, "documents")
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            TextFunctions.tokens(lower(col("text"))), 1, 8)).as("qtext"),
          col("doc_id").as("pos_id"))
      val sparse = graft.operators.Bm25.topK(docs, "doc_id", "text",
        qs, "query_id", "qtext", k = 20)
      val dense = graft.operators.HashingVectorizer.textTopKFor(
        docs, "doc_id", "text", qs, "query_id", "qtext",
        k = 20, dim = 64)
      val hybrid = graft.operators.HybridSearch.rrf(sparse, "doc_id",
        dense, "neighbor_id", k = 20)
      val ev = graft.operators.RetrievalMetrics
      val ms = ev.evaluate(sparse, "doc_id", qs, "pos_id", k = 5)
        .select(col("query_id"), col("pos_rank").as("sparse_rank"),
          col("rr").as("sparse_rr"), col("hit_at_k").as("sparse_hit5"))
      val mh = ev.evaluate(hybrid, "doc_id", qs, "pos_id", k = 5)
        .select(col("query_id"), col("pos_rank").as("hybrid_rank"),
          col("rr").as("hybrid_rr"), col("hit_at_k").as("hybrid_hit5"))
      ms.join(mh, Seq("query_id")).orderBy(col("query_id"))
    }, Sql(
      // q156: per-query A/B of rank-of-positive/rr/hit@5 for BM25-only
      // vs the RRF hybrid — the positive is the query's source doc
      // (doc_id = query_id), so both metric joins filter on it
      hybridFusedCtes + """,
      |qrels AS (SELECT DISTINCT query_id FROM qraw),
      |ms AS (
      |  SELECT q.query_id, s.rn AS sparse_rank FROM qrels q
      |  LEFT JOIN (SELECT query_id, rn FROM ranked
      |    WHERE doc_id = query_id AND rn <= 20) s USING (query_id)),
      |mh AS (
      |  SELECT q.query_id, h.rn AS hybrid_rank FROM qrels q
      |  LEFT JOIN (SELECT query_id, rn FROM hout
      |    WHERE doc_id = query_id AND rn <= 20) h USING (query_id))
      |SELECT ms.query_id, sparse_rank,
      |  coalesce(round(1.0 / sparse_rank, 6) + 0, 0.0) AS sparse_rr,
      |  coalesce(sparse_rank <= 5, false) AS sparse_hit5,
      |  hybrid_rank,
      |  coalesce(round(1.0 / hybrid_rank, 6) + 0, 0.0) AS hybrid_rr,
      |  coalesce(hybrid_rank <= 5, false) AS hybrid_hit5
      |FROM ms JOIN mh USING (query_id)
      |ORDER BY query_id""".stripMargin)),

    // ---- contrastive training triplets --------------------------------
    Query("q157_contrastive_triplets", (s, d) => {
      // the export a DPR-style trainer reads: (anchor query, positive,
      // rank-ordered hard negatives) — q141's mining packed into one
      // row per query, negative order pinned in-row (never
      // collect_list arrival order)
      val docs = t(s, d, "documents")
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            TextFunctions.tokens(lower(col("text"))), 1, 8)).as("qtext"),
          col("doc_id").as("pos_id"))
      val cl = graft.operators.DedupClusters.clusterMap(
        docs, "doc_id", "text", threshold = 0.95)
      graft.operators.HardNegatives.triplets(docs, "doc_id", "text",
        qs, "query_id", "qtext", "pos_id", cl,
        n = 5, candidateK = 20)
        .orderBy(col("query_id"))
    }, Sql(
      // q157: q141's mining chain packed into one training-ready row per
      // query — negatives csv'd in rank order, positive = the source doc
      closureCtes() + ",\n" +
      bm25Ctes(bm25DerivedQueries) + """,
        |neg AS (
        |  SELECT r.query_id, r.doc_id, r.rn
        |  FROM ranked r
        |  JOIN lab pl ON pl.doc_id = r.query_id
        |  JOIN lab cl ON cl.doc_id = r.doc_id
        |  WHERE r.rn <= 20 AND r.doc_id <> r.query_id
        |    AND cl.cluster_id <> pl.cluster_id),
        |fin AS (
        |  SELECT query_id, doc_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rn) AS INTEGER) AS neg_rank
        |  FROM neg),
        |trip AS (
        |  SELECT query_id,
        |    string_agg(CAST(doc_id AS VARCHAR), ','
        |      ORDER BY neg_rank) AS neg_ids_csv,
        |    CAST(count(*) AS BIGINT) AS n_negs
        |  FROM fin WHERE neg_rank <= 5 GROUP BY query_id)
        |SELECT t.query_id,
        |  array_to_string((CASE WHEN trim(d.text) = '' THEN []
        |    ELSE string_split_regex(trim(lower(d.text)), '\s+')
        |    END)[1:8], ' ') AS qtext,
        |  t.query_id AS pos_id, t.neg_ids_csv, t.n_negs
        |FROM trip t JOIN documents d ON d.doc_id = t.query_id
        |ORDER BY t.query_id""".stripMargin)),

    // ---- soft-dedup weighted sampling (end to end) --------------------
    Query("q158_soft_dedup_sample", (s, d) => {
      // the q148 weights actually USED: an Efraimidis-Spirakis draw of
      // 25 docs with inclusion probability ∝ 1/|cluster| — duplicates
      // stay in the pool but a 3-doc cluster carries one doc's worth
      // of mass. A-ES is scale-invariant, so the fractional weights
      // draw correctly; the key math is plain SQL, replayed exactly
      val docs = t(s, d, "documents")
      val cl = graft.operators.DedupClusters.clusterMap(
        docs, "doc_id", "text", threshold = 0.95)
      val wts = graft.operators.DedupClusters
        .duplicationWeights(cl, "doc_id")
      graft.ops.DeterministicSample.weightedTopK(
          wts, "doc_id", "weight", k = 25, seed = "softdedup")
        .join(wts.select(col("doc_id"), col("cluster_id"),
          col("cluster_size")), Seq("doc_id"))
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          col("sample_key"), col("rn"))
        .orderBy(col("rn"))
    }, Sql(
      // q158: the q148 weights fed to the q94 A-ES draw — inclusion
      // probability ∝ 1/|cluster|; key math replayed exactly (the
      // weight entering the division is the 6-dp-rounded q148 value)
      closureCtes() + """,
        |sizes AS (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM lab GROUP BY 1),
        |wts AS (
        |  SELECT doc_id, cluster_id, cluster_size,
        |    greatest(round(1.0 / cluster_size, 6) + 0, 0.000001)
        |      AS w
        |  FROM lab JOIN sizes USING (cluster_id)),
        |keyed AS (
        |  SELECT doc_id, cluster_id, cluster_size,
        |    ln((CAST(concat('0x', substring(
        |          md5('softdedup:' || CAST(doc_id AS VARCHAR)), 1, 8))
        |        AS BIGINT) + 0.5) / 4294967296.0) / w AS k
        |  FROM wts WHERE w > 0),
        |drawn AS (
        |  SELECT doc_id, cluster_id, cluster_size,
        |    round(k, 6) AS sample_key,
        |    CAST(row_number() OVER (ORDER BY k DESC, doc_id) AS INT)
        |      AS rn
        |  FROM keyed)
        |SELECT doc_id, cluster_id, cluster_size, sample_key, rn
        |FROM drawn WHERE rn <= 25 ORDER BY rn""".stripMargin)),

    // ---- hybrid retrieval at the SCALE path: BM25 + IVF dense ---------
    Query("q159_hybrid_ivf", (s, d) => {
      // the 100-TB hybrid: q146's fusion with the dense half on the
      // IVF index instead of the exact bucket join — external query
      // vectors (corpus idf) probe 4 of 16 coarse cells, so each
      // query touches ~nprobe/cells of the corpus. excludeSelf=false:
      // queries are an external relation, so the query's source doc
      // is a legitimate retrieval result
      val docs = t(s, d, "documents")
      val qs = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("query_id"),
          concat_ws(" ", slice(
            TextFunctions.tokens(lower(col("text"))), 1, 8)).as("qtext"))
      val sparse = graft.operators.Bm25.topK(docs, "doc_id", "text",
        qs, "query_id", "qtext", k = 20)
      val dv = graft.operators.HashingVectorizer.denseVectors(
        docs, "doc_id", "text", dim = 64)
      val qv = graft.operators.HashingVectorizer.queryDenseVectors(
        docs, "doc_id", "text", qs, "query_id", "qtext", dim = 64)
      val dense = graft.operators.SimilarityOps.ivfTopK(
        dv, qv, "doc_id", "vec", "query_id", k = 20,
        cells = 16, nprobe = 4, trainIters = 0, excludeSelf = false)
      graft.operators.HybridSearch.rrf(sparse, "doc_id",
        dense, "neighbor_id", k = 5)
        .orderBy(col("query_id"), col("rn"))
    }, Sql(
      // q159: the scale-path hybrid — the same fusion as q146 with the
      // dense half on IVF: dense corpus + query vectors from the shared
      // bucket chain, first-16-by-id codebook, nprobe=4 probing, exact
      // cosine only inside probed cells. No self-exclusion (queries are
      // an external relation; the Spark side passes excludeSelf=false)
      hybridBucketCtes + """,
      |w AS (
      |  SELECT doc_id, bucket,
      |    round(CAST(ws AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)), 6) + 0
      |      AS weight
      |  FROM hbb JOIN hnorm USING (doc_id)),
      |grid AS (
      |  SELECT doc_id, unnest(range(0, 64)) AS b
      |  FROM (SELECT DISTINCT doc_id FROM w)),
      |dense0 AS (
      |  SELECT g.doc_id, g.b, coalesce(w.weight, 0.0) AS x
      |  FROM grid g LEFT JOIN w
      |    ON w.doc_id = g.doc_id AND w.bucket = g.b),
      |dv AS (
      |  SELECT doc_id, list(x ORDER BY b) AS vv
      |  FROM dense0 GROUP BY doc_id),
      |qw AS (
      |  SELECT query_id, bucket,
      |    round(CAST(ws AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)), 6) + 0
      |      AS weight
      |  FROM qbb JOIN qnorm USING (query_id)),
      |qgrid AS (
      |  SELECT query_id, unnest(range(0, 64)) AS b
      |  FROM (SELECT DISTINCT query_id FROM qw)),
      |qdense AS (
      |  SELECT g.query_id, g.b, coalesce(qw.weight, 0.0) AS x
      |  FROM qgrid g LEFT JOIN qw
      |    ON qw.query_id = g.query_id AND qw.bucket = g.b),
      |qdv AS (
      |  SELECT query_id, list(x ORDER BY b) AS vv
      |  FROM qdense GROUP BY query_id),
      |cb AS (
      |  SELECT CAST(row_number() OVER (ORDER BY doc_id) - 1
      |      AS INTEGER) AS cell, vv AS cv
      |  FROM (SELECT doc_id, vv FROM dv ORDER BY doc_id LIMIT 16)),
      |asn AS (
      |  SELECT doc_id, cell FROM (
      |    SELECT dv.doc_id, cb.cell, row_number() OVER (
      |      PARTITION BY dv.doc_id
      |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
      |    FROM dv CROSS JOIN cb) WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, cell FROM (
      |    SELECT qdv.query_id, cb.cell, row_number() OVER (
      |      PARTITION BY qdv.query_id
      |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
      |    FROM qdv CROSS JOIN cb) WHERE rn <= 4),
      |probescore AS (
      |  SELECT p.query_id, a.doc_id AS neighbor_id,
      |    list_cosine_similarity(qv2.vv, nv.vv) AS cs
      |  FROM probes p JOIN asn a ON p.cell = a.cell
      |  JOIN qdv qv2 ON qv2.query_id = p.query_id
      |  JOIN dv nv ON nv.doc_id = a.doc_id),
      |ivfranked AS (
      |  SELECT query_id, neighbor_id AS doc_id,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY cs DESC, neighbor_id) AS INTEGER) AS rn
      |  FROM probescore),
      |fused2 AS (
      |  SELECT coalesce(s.query_id, dd.query_id) AS query_id,
      |    coalesce(s.doc_id, dd.doc_id) AS doc_id,
      |    coalesce(1.0 / (60 + s.rn), 0.0)
      |      + coalesce(1.0 / (60 + dd.rn), 0.0) AS rrf,
      |    s.rn AS rank_sparse, dd.rn AS rank_dense
      |  FROM (SELECT query_id, doc_id, rn FROM ranked
      |    WHERE rn <= 20) s
      |  FULL JOIN (SELECT query_id, doc_id, rn FROM ivfranked
      |    WHERE rn <= 20) dd
      |    ON s.query_id = dd.query_id AND s.doc_id = dd.doc_id)
      |SELECT query_id, doc_id, round(rrf, 6) + 0 AS rrf_score,
      |  rank_sparse, rank_dense, rn
      |FROM (
      |  SELECT query_id, doc_id, rrf, rank_sparse, rank_dense,
      |    CAST(row_number() OVER (PARTITION BY query_id
      |      ORDER BY rrf DESC, doc_id) AS INTEGER) AS rn
      |  FROM fused2)
      |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin)),

    // ---- distance-weighted kNN voting ---------------------------------
    Query("q160_knn_weighted", (s, d) => {
      // q151 with similarity-weighted votes (sklearn weights=
      // "distance"): a single very-close neighbor can outvote two
      // distant ones. Cosines scale to integers before the per-label
      // sum, so vote totals are exact across partitionings
      val emb = t(s, d, "embeddings")
      val train = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
      val test = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      graft.operators.KnnClassifier.classifyWeighted(
          train, test, "vec_id", "embedding", "label",
          k = 5, cells = 16, nprobe = 4)
        .join(test.select(col("vec_id").as("query_id"),
          col("label").as("true_label")), Seq("query_id"))
        .select(col("query_id").as("vec_id"), col("true_label"),
          col("pred_label"), col("vote_weight"),
          (col("pred_label") === col("true_label")).as("correct"))
        .orderBy(col("vec_id"))
    }, Sql(
      // q160: q151's IVF probe + top-5, but votes are ×10⁶-scaled
      // 4-dp cosines summed per label; argmax (sum desc, label asc)
      """WITH v AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS vv
        |  FROM embeddings),
        |tr AS (SELECT * FROM v WHERE vec_id % 5 <> 0),
        |te AS (SELECT * FROM v WHERE vec_id % 5 = 0),
        |cb AS (
        |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1
        |      AS INTEGER) AS cell, vv AS cv
        |  FROM (SELECT vec_id, vv FROM tr ORDER BY vec_id LIMIT 16)),
        |asn AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT tr.vec_id, cb.cell, row_number() OVER (
        |      PARTITION BY tr.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM tr CROSS JOIN cb) WHERE rn = 1),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT te.vec_id AS query_id, cb.cell, row_number() OVER (
        |      PARTITION BY te.vec_id
        |      ORDER BY list_cosine_similarity(vv, cv) DESC, cell) AS rn
        |    FROM te CROSS JOIN cb) WHERE rn <= 4),
        |scored AS (
        |  SELECT p.query_id, a.vec_id AS neighbor_id,
        |    list_cosine_similarity(qv.vv, nv.vv) AS cs
        |  FROM probes p JOIN asn a USING (cell)
        |  JOIN te qv ON qv.vec_id = p.query_id
        |  JOIN tr nv ON nv.vec_id = a.vec_id),
        |topk AS (
        |  SELECT query_id, neighbor_id, round(cs, 4) AS cs4 FROM (
        |    SELECT query_id, neighbor_id, cs, row_number() OVER (
        |      PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |      AS rn
        |    FROM scored) WHERE rn <= 5),
        |votes AS (
        |  SELECT t.query_id, nv.label,
        |    sum(CAST(round(t.cs4 * 1000000.0) AS BIGINT)) AS ws
        |  FROM topk t JOIN tr nv ON nv.vec_id = t.neighbor_id
        |  GROUP BY 1, 2),
        |pick AS (
        |  SELECT query_id, label AS pred_label, ws FROM (
        |    SELECT query_id, label, ws, row_number() OVER (
        |      PARTITION BY query_id ORDER BY ws DESC, label) AS rk
        |    FROM votes) WHERE rk = 1)
        |SELECT p.query_id AS vec_id, te.label AS true_label,
        |  p.pred_label,
        |  round(CAST(p.ws AS DOUBLE) / 1000000.0, 4) + 0
        |    AS vote_weight,
        |  (p.pred_label = te.label) AS correct
        |FROM pick p JOIN te ON te.vec_id = p.query_id
        |ORDER BY vec_id""".stripMargin)),

    // ---- model evaluation: distributed ROC AUC ------------------------
    Query("q208_roc_auc", (s, d) => {
      // one-vs-rest AUC of the first embedding dimension as a class
      // score: does dim 0 rank class-c vectors above the rest? The
      // bucketed Mann-Whitney statistic never ranks rows globally —
      // scores quantize to integer buckets (exact longs), and the only
      // float op is the final fixed-order division. |classes| is
      // bounded, so the one-vs-rest explode is a broadcast cross join,
      // not a shuffle
      val emb = t(s, d, "embeddings")
      val classes = emb.select(col("label").as("cls")).distinct()
      val rows = emb.crossJoin(broadcast(classes))
        .withColumn("__y", (col("label") === col("cls")).cast("int"))
      graft.ops.MlEval.rocAuc(rows,
          round(element_at(col("embedding"), 1).cast("double") * lit(1e6), 0)
            .cast("long"),
          col("__y"), Seq("cls"))
        .select(col("cls"), dround(col("auc"), 6).as("auc"),
          col("n_pos"), col("n_neg"))
        .orderBy(col("cls"))
    }, Sql(
      // bucketed Mann-Whitney AUC: identical 2U formula, identical final
      // division order (u2 -> double, 2.0 * P * N)
      """WITH e AS (
        |  SELECT label, CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6, 0)
        |    AS BIGINT) AS s
        |  FROM embeddings),
        |cls AS (SELECT DISTINCT label AS cls FROM e),
        |r AS (SELECT cls, s, CASE WHEN label = cls THEN 1 ELSE 0 END AS y
        |  FROM e CROSS JOIN cls),
        |b AS (SELECT cls, s, CAST(sum(y) AS BIGINT) AS pos,
        |    CAST(count(*) - sum(y) AS BIGINT) AS neg FROM r GROUP BY 1, 2),
        |wdw AS (SELECT cls, pos, neg,
        |    sum(neg) OVER (PARTITION BY cls ORDER BY s) - neg AS negbelow
        |  FROM b),
        |u AS (SELECT cls,
        |    CAST(sum(pos * (2 * negbelow + neg)) AS BIGINT) AS u2,
        |    CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(neg) AS BIGINT) AS n_neg
        |  FROM wdw GROUP BY cls)
        |SELECT cls, round(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6)
        |    AS auc,
        |  n_pos, n_neg
        |FROM u ORDER BY cls""".stripMargin)),

    // ---- leakage-safe categorical feature encoding ---------------------
    Query("q209_target_encode", (s, d) => {
      // out-of-fold mean target encoding of order priority against the
      // 'order fulfilled' flag, 5 deterministic folds by key modulus,
      // prior-smoothed with m=20 pseudo-rows. A row's own fold (and the
      // prior's share of it) never contributes to its encoding, so the
      // feature is leakage-safe by construction; the encode is one
      // map-side-combined aggregation plus window math on the bounded
      // (cat, fold) table
      graft.ops.MlEval.targetEncode(t(s, d, "orders"),
          col("o_orderpriority"),
          pmod(col("o_orderkey"), lit(5)).cast("int"),
          (col("o_orderstatus") === "F").cast("long"), smoothing = 20.0)
        .select(col("cat"), col("fold"), col("n_oof"),
          dround(col("enc"), 6).as("enc"))
        .orderBy(col("cat"), col("fold"))
    }, Sql(
      // out-of-fold target encoding: per-(cat, fold) sums once, every
      // total derived from that bounded table, same IEEE op order
      """WITH pf AS (
        |  SELECT o_orderpriority AS cat,
        |    CAST(o_orderkey % 5 AS INTEGER) AS fold,
        |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s,
        |    count(*) AS c
        |  FROM orders GROUP BY 1, 2),
        |cw AS (SELECT cat, fold, s, c,
        |    CAST(sum(s) OVER (PARTITION BY cat) AS BIGINT) AS cs,
        |    CAST(sum(c) OVER (PARTITION BY cat) AS BIGINT) AS cc FROM pf),
        |fw AS (SELECT fold, CAST(sum(s) AS BIGINT) AS fs,
        |    CAST(sum(c) AS BIGINT) AS fc FROM pf GROUP BY 1),
        |g AS (SELECT CAST(sum(s) AS BIGINT) AS gs,
        |    CAST(sum(c) AS BIGINT) AS gc FROM pf)
        |SELECT cat, fold, cc - c AS n_oof,
        |  round(CASE WHEN (cc - c) + 20.0 > 0 AND (gc - fc) > 0 THEN
        |    (CAST(cs - s AS DOUBLE)
        |      + 20.0 * (CAST(gs - fs AS DOUBLE) / CAST(gc - fc AS DOUBLE)))
        |    / (CAST(cc - c AS DOUBLE) + 20.0) END, 6) AS enc
        |FROM cw JOIN fw USING (fold) CROSS JOIN g
        |ORDER BY cat, fold""".stripMargin)),

    // ---- chi-square term selection --------------------------------------
    Query("q210_chi2_terms", (s, d) => {
      // supervised feature selection: which terms' document frequency
      // is most dependent on the lang='en' label (2x2 chi-square per
      // term, doc-level presence, min df 5)? Counts are exact longs off
      // one distinct + one aggregation; the statistic is computed in
      // double with a fixed op order so the oracle replays it bit-wise
      // null-safe label: a NULL lang is a non-'en' doc (0), matching
      // the oracle's CASE WHEN ... ELSE 0. A bare boolean cast yields
      // NULL for NULL lang, which would null out `a` and silently drop
      // terms whose qualifying docs are all NULL-lang at the df filter
      val docs = t(s, d, "documents")
      val isEn = when(col("lang") === "en", 1L).otherwise(0L)
      val pres = docs
        .select(col("doc_id"), isEn.as("__y"),
          explode(TextFunctions.tokens(lower(col("text")))).as("term"))
        .filter(length(col("term")) >= 3)
        .distinct()
      val tot = docs.agg(count(lit(1)).as("__nn"),
        sum(isEn).as("__aa"))
      pres.groupBy(col("term"))
        .agg(sum(col("__y")).as("a"),
          (count(lit(1)) - sum(col("__y"))).as("b"))
        .filter(col("a") + col("b") >= 5)
        .crossJoin(broadcast(tot))
        .withColumn("c", col("__aa") - col("a"))
        .withColumn("dd", (col("__nn") - col("__aa")) - col("b"))
        .withColumn("chi2", dround(
          col("__nn").cast("double")
            * pow(col("a").cast("double") * col("dd")
                - col("b").cast("double") * col("c"), 2)
            / ((col("a") + col("b")).cast("double")
              * (col("c") + col("dd")).cast("double")
              * (col("a") + col("c")).cast("double")
              * (col("b") + col("dd")).cast("double")), 4))
        .select(col("term"), col("a"), col("b"), col("chi2"))
        .orderBy(col("chi2").desc, col("term"))
        .limit(30)
    }, Sql(
      // 2x2 chi-square per term on doc-level presence; counts are exact,
      // the statistic's numerator/denominator replicate the Spark op order
      """WITH pres AS (
        |  SELECT DISTINCT doc_id,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y, token AS term
        |  FROM (SELECT doc_id, lang,
        |      unnest(CASE WHEN trim(text) = '' THEN []
        |        ELSE string_split_regex(trim(lower(text)), '\s+') END)
        |      AS token
        |    FROM documents)
        |  WHERE length(token) >= 3),
        |tot AS (SELECT count(*) AS nn,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS aa
        |  FROM documents),
        |pt AS (SELECT term, CAST(sum(y) AS BIGINT) AS a,
        |    CAST(count(*) - sum(y) AS BIGINT) AS b
        |  FROM pres GROUP BY 1 HAVING count(*) >= 5),
        |x AS (SELECT term, a, b, aa - a AS c, (nn - aa) - b AS dd, nn
        |  FROM pt CROSS JOIN tot)
        |SELECT term, a, b,
        |  round(CAST(nn AS DOUBLE)
        |      * pow(CAST(a AS DOUBLE) * dd - CAST(b AS DOUBLE) * c, 2)
        |    / (CAST(a + b AS DOUBLE) * CAST(c + dd AS DOUBLE)
        |      * CAST(a + c AS DOUBLE) * CAST(b + dd AS DOUBLE)), 4) AS chi2
        |FROM x ORDER BY chi2 DESC, term LIMIT 30""".stripMargin)),

    // ---- graph analytics: degree-oriented triangle counting ------------
    Query("q211_triangles", (s, d) => {
      // parts bought together in >= 2 distinct order events form the
      // co-purchase graph; triangle participation per part is the
      // community-density signal. Degree orientation bounds every
      // node's wedge fan-out by O(sqrt(m)) so hub skew never lands on
      // one reducer (the oracle counts the same triangles the naive
      // u<v<w way — results match, plans don't have to)
      val pairs = t(s, d, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val edges = pairs.as("x").join(pairs.as("y"), Seq("ok"))
        .filter(col("x.pk") < col("y.pk"))
        .groupBy(col("x.pk").as("u"), col("y.pk").as("v"))
        .agg(count(lit(1)).as("w"))
        .filter(col("w") >= 2)
        .select(col("u"), col("v"))
      graft.ops.Triangles.perNode(edges)
        .orderBy(col("n_tri").desc, col("node"))
    }, Sql(
      // naive u<v<w triangle enumeration — same triangles as the
      // degree-oriented Spark plan, deliberately different algorithm
      """WITH pairs AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |edges AS (
        |  SELECT x.pk AS u, y.pk AS v FROM pairs x
        |  JOIN pairs y ON x.ok = y.ok AND x.pk < y.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM edges e1 JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
        |  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v),
        |nodes AS (
        |  SELECT a AS node FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT node, count(*) AS n_tri FROM nodes GROUP BY 1
        |ORDER BY n_tri DESC, node""".stripMargin)),

    // ---- privacy: noisy-histogram release mechanism ---------------------
    Query("q212_dp_counts", (s, d) => {
      // Laplace(1/eps) noisy per-(source, lang) counts with stability
      // thresholding — the (eps, delta)-DP histogram release MECHANISM
      // with a seeded inverse-CDF uniform so the run is reproducible
      // (production swaps in a CSPRNG; see Anonymity.dpCounts's honesty
      // note). eps=0.5, release threshold 10
      graft.ops.Anonymity.dpCounts(t(s, d, "documents"),
          Seq("source", "lang"), epsilon = 0.5, threshold = 10.0)
        .orderBy(col("source"), col("lang"))
    }, Sql(
      // seeded-LCG Laplace inverse CDF replayed exactly: the rank window,
      // the modular arithmetic, and the ln argument clamp all match
      """WITH c AS (
        |  SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
        |r AS (SELECT source, lang, n,
        |    row_number() OVER (ORDER BY source NULLS FIRST,
        |      lang NULLS FIRST) AS gid FROM c),
        |nz AS (SELECT source, lang, n,
        |    (CAST((gid * 1103515245 + 12345) % 2147483648 AS DOUBLE)
        |      / 2147483648.0) - 0.5 AS u FROM r),
        |o AS (SELECT source, lang,
        |    round((CAST(n AS DOUBLE) + (-2.0) * sign(u)
        |        * ln(greatest(1.0 - 2.0 * abs(u), 1e-12))) * 1e4) / 1e4
        |      AS n_noisy
        |  FROM nz)
        |SELECT source, lang, n_noisy, n_noisy >= 10.0 AS released
        |FROM o ORDER BY source, lang""".stripMargin)),

    // ---- time series: dominant-period detection -------------------------
    Query("q213_period_detect", (s, d) => {
      // which lag maximizes each user's click-series autocorrelation
      // (lags 1..6, >= 8 aligned pairs)? This is the data-driven 'm'
      // that q195's Holt-Winters seasonality needs. One lag-explode
      // join aligns all six lags in a single shuffle; Pearson
      // components are exact long sums of e2-quantized values (the
      // q206 discipline), so only the final sqrt/divide is float
      val base = t(s, d, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("value"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(col("value")).as("v"))
        .withColumn("x", round(col("v") * lit(100), 0).cast("long"))
        .withColumn("idx", row_number().over(Window
          .partitionBy(col("user_id")).orderBy(col("t_us"))))
        .select(col("user_id"), col("idx"), col("x"))
      val lags = s.range(1, 7).select(col("id").cast("int").as("lag"))
      val pairsAc = base.crossJoin(broadcast(lags)).as("cur")
        .join(base.select(col("user_id"), col("idx").as("pidx"),
          col("x").as("y")).as("prev"),
          col("cur.user_id") === col("prev.user_id")
            && col("prev.pidx") === col("cur.idx") - col("cur.lag"))
        .select(col("cur.user_id").as("user_id"), col("cur.lag").as("lag"),
          col("cur.x").as("x"), col("prev.y").as("y"))
      val st = pairsAc.groupBy(col("user_id"), col("lag"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .filter(col("n") >= 8)
        .withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double"))
        .withColumn("dx", (col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("double"))
        .withColumn("dy", (col("n") * col("syy") - col("sy") * col("sy"))
          .cast("double"))
        .filter(col("dx") > 0 && col("dy") > 0)
        .withColumn("acf", dround(col("num") / (sqrt(col("dx")) * sqrt(col("dy"))), 4))
      st.withColumn("rn", row_number().over(Window
          .partitionBy(col("user_id"))
          .orderBy(col("acf").desc, col("lag"))))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("lag").as("best_lag"),
          (col("acf") + lit(0)).as("acf"))
        .orderBy(col("user_id"))
    }, Sql(
      // lag-explode ACF argmax: long Pearson components per (user, lag),
      // rounded acf BEFORE the argmax ordering so ulp noise can't flip it
      """WITH base AS (
        |  SELECT user_id, t_us, CAST(round(v * 100) AS BIGINT) AS x,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t_us) AS idx
        |  FROM (SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v
        |    FROM events WHERE event_type = 'click' AND value IS NOT NULL
        |    GROUP BY 1, 2)),
        |lags AS (SELECT unnest(range(1, 7)) AS lag),
        |p AS (SELECT c.user_id, l.lag, c.x, p2.x AS y
        |  FROM base c CROSS JOIN lags l
        |  JOIN base p2 ON p2.user_id = c.user_id
        |    AND p2.idx = c.idx - l.lag),
        |st AS (SELECT user_id, lag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM p GROUP BY 1, 2 HAVING count(*) >= 8),
        |ac AS (SELECT user_id, lag,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS dx,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS dy FROM st),
        |f AS (SELECT user_id, lag,
        |    round(num / (sqrt(dx) * sqrt(dy)), 4) AS acf
        |  FROM ac WHERE dx > 0 AND dy > 0),
        |best AS (SELECT user_id, lag, acf, row_number() OVER (
        |    PARTITION BY user_id ORDER BY acf DESC, lag) AS rn FROM f)
        |SELECT user_id, CAST(lag AS INTEGER) AS best_lag, acf + 0 AS acf
        |FROM best WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ---- drift: exact two-sample Kolmogorov-Smirnov -------------------
    Query("q214_ks_drift", (s, d) => {
      // PSI's binless complement: the max CDF gap between the view and
      // click value distributions. The gap numerator is a cross-
      // multiplied BIGINT (exact while n_ref*n_cur < 2^63), the single
      // float division happens once after the max, and the window runs
      // over the quantization-bounded value spine, never the corpus
      val ev = t(s, d, "events")
        .filter(col("value").isNotNull)
        .withColumn("v", round(col("value") * lit(100), 0).cast("long"))
      graft.ops.DriftMonitor.ks(
        ev.filter(col("event_type") === "view").select(col("v")),
        ev.filter(col("event_type") === "click").select(col("v")), "v")
    }, Sql(
      // exact KS: cross-multiplied BIGINT CDF gaps, one division after
      // the max, smallest-value tie-break on the argmax
      """WITH vals AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |rc AS (SELECT v, count(*) AS n_ref FROM vals
        |  WHERE event_type = 'view' GROUP BY 1),
        |cc AS (SELECT v, count(*) AS n_cur FROM vals
        |  WHERE event_type = 'click' GROUP BY 1),
        |j AS (SELECT coalesce(rc.v, cc.v) AS v,
        |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        |  FROM rc FULL OUTER JOIN cc ON rc.v = cc.v),
        |g AS (SELECT v, n_ref, n_cur,
        |    CAST(sum(n_ref) OVER () AS BIGINT) AS tr,
        |    CAST(sum(n_cur) OVER () AS BIGINT) AS tc,
        |    CAST(sum(n_ref) OVER (ORDER BY v) AS BIGINT) AS cr,
        |    CAST(sum(n_cur) OVER (ORDER BY v) AS BIGINT) AS cu
        |  FROM j),
        |gap AS (SELECT v, tr, tc, abs(cr * tc - cu * tr) AS gp FROM g),
        |best AS (SELECT v, tr, tc, gp, row_number() OVER (
        |    ORDER BY gp DESC, v) AS rn FROM gap)
        |SELECT tr AS n_ref, tc AS n_cur, v AS ks_at,
        |  round(CAST(gp AS DOUBLE) / CAST(tr * tc AS DOUBLE), 6) AS ks,
        |  round(CAST(gp AS DOUBLE) / CAST(tr * tc AS DOUBLE), 6)
        |    AS ks_hi
        |FROM best WHERE rn = 1""".stripMargin)),

    // ---- forecasting: split conformal prediction intervals -------------
    Query("q215_conformal", (s, d) => {
      // distribution-free 80% intervals for the naive (carry-forward)
      // one-step forecaster on each user's click series: first half of
      // the absolute one-step errors calibrates qhat = the
      // ceil(0.8*(n+1))-th smallest, second half measures coverage.
      // Errors are e2-quantized longs so the order statistic is exact;
      // users need >= 11 errors so the 80% level has a finite qhat
      val W = org.apache.spark.sql.expressions.Window
      val wu = W.partitionBy(col("user_id")).orderBy(col("t_us"))
      val base = t(s, d, "events")
        .filter(col("event_type") === "click" && col("value").isNotNull)
        .select(col("user_id"), unix_micros(col("ts")).as("t_us"),
          col("value"))
        .groupBy(col("user_id"), col("t_us"))
        .agg(max(col("value")).as("v"))
        .withColumn("x", round(col("v") * lit(100), 0).cast("long"))
      val errs = base
        .withColumn("err", abs(col("x") - lag(col("x"), 1).over(wu)))
        .withColumn("eidx", row_number().over(wu) - lit(1))
        .filter(col("err").isNotNull)
        .withColumn("n",
          count(lit(1)).over(W.partitionBy(col("user_id"))))
        .filter(col("n") >= 11)
        .withColumn("cal",
          col("eidx") <= floor(col("n") / lit(2.0)))
      graft.ops.MlEval.conformalSplit(errs, Seq("user_id"),
          "err", "cal", alpha = 0.2)
        .select(col("user_id"), col("n_cal"), col("qhat"),
          col("n_test"), col("n_covered"), col("coverage"))
        .orderBy(col("user_id"))
    }, Sql(
      // split conformal replayed exactly: same halves, same
      // ceil(0.8*(n+1)) rank, same exact order statistic on long errors
      """WITH base AS (
        |  SELECT user_id, t_us, CAST(round(v * 100) AS BIGINT) AS x
        |  FROM (SELECT user_id, epoch_us(ts) AS t_us, max(value) AS v
        |    FROM events WHERE event_type = 'click' AND value IS NOT NULL
        |    GROUP BY 1, 2)),
        |e0 AS (SELECT user_id,
        |    abs(x - lag(x) OVER (PARTITION BY user_id ORDER BY t_us))
        |      AS err,
        |    row_number() OVER (PARTITION BY user_id ORDER BY t_us) - 1
        |      AS eidx
        |  FROM base),
        |e AS (SELECT user_id, err, eidx,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM e0 WHERE err IS NOT NULL),
        |f AS (SELECT user_id, err, eidx <= floor(n / 2.0) AS cal
        |  FROM e WHERE n >= 11),
        |q AS (SELECT user_id, n_cal, qhat FROM (
        |    SELECT user_id, err AS qhat,
        |      row_number() OVER (PARTITION BY user_id ORDER BY err)
        |        AS rn,
        |      count(*) OVER (PARTITION BY user_id) AS n_cal
        |    FROM f WHERE cal)
        |  WHERE rn = ceil(0.8 * (n_cal + 1))),
        |t AS (SELECT f.user_id, count(*) AS n_test,
        |    CAST(sum(CASE WHEN f.err <= q.qhat THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_covered,
        |    max(q.n_cal) AS n_cal, max(q.qhat) AS qhat
        |  FROM f LEFT JOIN q ON f.user_id = q.user_id WHERE NOT cal
        |  GROUP BY 1)
        |SELECT user_id, CAST(n_cal AS BIGINT) AS n_cal, qhat, n_test,
        |  CASE WHEN qhat IS NOT NULL THEN n_covered END AS n_covered,
        |  CASE WHEN qhat IS NOT NULL AND n_test > 0 THEN
        |    round(CAST(n_covered AS DOUBLE) / CAST(n_test AS DOUBLE)
        |      * 1e4) / 1e4 END AS coverage
        |FROM t ORDER BY user_id""".stripMargin)),

    // ---- monitoring: incrementally maintained AUC ----------------------
    Query("q216_incremental_auc", (s, d) => {
      // the model-monitoring view: AUC of the dim-0 score for class 0
      // over an eval log that lands in three appends. The maintained
      // view is the (score-bucket -> positives, total) count table —
      // additive under appends, so refreshes 2 and 3 scan ONLY the new
      // files (mode asserted) — and the AUC post-math runs on the
      // bounded bucket table. Bit-identical to the one-shot q208 math
      val emb = t(s, d, "embeddings")
      val rows = emb.select(col("vec_id"),
        round(element_at(col("embedding"), 1).cast("double") * lit(1e6), 0)
          .cast("long").as("s"),
        (col("label") === 0).cast("int").as("y"))
      val root = s"${graft.core.Scratch.root(emb)}/incauc_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      val (base, agg) = (s"$root/base", s"$root/agg")
      for (i <- 0 to 2) {
        graft.core.VersionedTable.commitAppend(
          rows.filter(pmod(col("vec_id"), lit(3)) === i), base)
        val r = graft.ops.IncrementalAgg.maintain(
          s, base, agg, Seq("s"), "y")
        require(i == 0 || r.mode == "incremental",
          s"append $i refreshed via ${r.mode}, not the delta path")
      }
      graft.ops.MlEval.aucFromCounts(
          graft.ops.IncrementalAgg.read(s, agg), "s", "sum_val", "n_rows")
        .select(dround(col("auc"), 6).as("auc"),
          col("n_pos"), col("n_neg"))
    }, Sql(
      // the maintained bucket view must be indistinguishable from the
      // one-shot AUC over the full log: q208's math for class 0
      """WITH e AS (
        |  SELECT CASE WHEN label = 0 THEN 1 ELSE 0 END AS y,
        |    CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6, 0) AS BIGINT)
        |      AS s
        |  FROM embeddings),
        |b AS (SELECT s, CAST(sum(y) AS BIGINT) AS pos,
        |    CAST(count(*) - sum(y) AS BIGINT) AS neg FROM e GROUP BY 1),
        |w AS (SELECT pos, neg, sum(neg) OVER (ORDER BY s) - neg
        |    AS negbelow
        |  FROM b),
        |u AS (SELECT CAST(sum(pos * (2 * negbelow + neg)) AS BIGINT)
        |      AS u2,
        |    CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(neg) AS BIGINT) AS n_neg
        |  FROM w)
        |SELECT round(CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg), 6)
        |    AS auc,
        |  n_pos, n_neg FROM u""".stripMargin)),

    // ---- behavioral modeling: first-order Markov transitions ------------
    Query("q217_markov_transitions", (s, d) => {
      // the next-event transition matrix per source state, with the
      // per-state transition entropy (how predictable is what follows
      // an 'error'?) and the modal next event. Counts are exact longs
      // off ONE lag window + one aggregation; each entropy term is
      // integer-scaled at 1e-9 BEFORE the per-state sum (the PSI
      // discipline) so no float addition crosses an exchange
      val W = org.apache.spark.sql.expressions.Window
      val seq = t(s, d, "events")
        .withColumn("prev", lag(col("event_type"), 1).over(W
          .partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
        .filter(col("prev").isNotNull)
      val tr = seq.groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
      val wp = W.partitionBy(col("prev"))
      val pExact = col("n").cast("double") / col("t").cast("double")
      tr.withColumn("t", sum(col("n")).over(wp))
        .withColumn("p", dround(pExact, 4))
        .withColumn("__term_s",
          round(-pExact * log(pExact) * lit(1e9)).cast("long"))
        .withColumn("h_prev", dround(
          sum(col("__term_s")).over(wp).cast("double") / lit(1e9), 6))
        .withColumn("rn", row_number().over(
          wp.orderBy(col("n").desc, col("next"))))
        .select(col("prev"), col("next"), col("n"), col("p"),
          (col("rn") === 1).as("is_modal"), col("h_prev"))
        .orderBy(col("prev"), col("next"))
    }, Sql(
      // first-order Markov: identical lag window, tie order, and the
      // PSI-style integer-scaled entropy terms
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |tr AS (SELECT prev, event_type AS next, count(*) AS n
        |  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT prev, n, next,
        |    CAST(sum(n) OVER (PARTITION BY prev) AS BIGINT) AS t FROM tr),
        |terms AS (SELECT prev, next, n, t,
        |    round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE) * 1e4) / 1e4 AS p,
        |    CAST(round(-(CAST(n AS DOUBLE) / CAST(t AS DOUBLE))
        |      * ln(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)) * 1e9)
        |      AS BIGINT) AS term_s FROM tot),
        |h AS (SELECT prev, next, n, p,
        |    round(CAST(sum(term_s) OVER (PARTITION BY prev) AS DOUBLE)
        |      / 1e9 * 1e6) / 1e6 AS h_prev,
        |    row_number() OVER (PARTITION BY prev ORDER BY n DESC, next)
        |      AS rn FROM terms)
        |SELECT prev, next, n, p, rn = 1 AS is_modal, h_prev
        |FROM h ORDER BY prev, next""".stripMargin)),

    // ---- time series: lead-lag cross-correlation -------------------------
    Query("q218_lead_lag", (s, d) => {
      // does view activity LEAD clicks? Hourly per-user buckets of both
      // series (sums of e2-quantized longs — exact), one broadcast
      // lag-spine join aligns all 7 offsets of views against clicks,
      // and the per-lag Pearson runs on long components (the q206/q213
      // discipline). The peak lag is the pipeline's attribution window
      def bucketed(eventType: String, out: String) =
        t(s, d, "events")
          .filter(col("event_type") === eventType
            && col("value").isNotNull)
          .groupBy(col("user_id"),
            floor(unix_micros(col("ts")) / lit(3.6e9)).cast("long")
              .as("hb"))
          .agg(sum(round(col("value") * lit(100), 0).cast("long"))
            .as(out))
      val c = bucketed("click", "x")
      val v = bucketed("view", "y")
      val lags = s.range(-3, 4).select(col("id").cast("int").as("lag"))
      val pairs = c.crossJoin(broadcast(lags)).as("c")
        .join(v.as("v"), col("v.user_id") === col("c.user_id")
          && col("v.hb") === col("c.hb") + col("c.lag"))
        .select(col("c.lag").as("lag"), col("c.x").as("x"),
          col("v.y").as("y"))
      pairs.groupBy(col("lag"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("num", (col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double"))
        .withColumn("dx", (col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("double"))
        .withColumn("dy", (col("n") * col("syy") - col("sy") * col("sy"))
          .cast("double"))
        .select(col("lag"), col("n"),
          when(col("n") >= 30 && col("dx") > 0 && col("dy") > 0,
            dround(col("num") / (sqrt(col("dx")) * sqrt(col("dy"))), 4)
              + lit(0)).as("xcorr"))
        .orderBy(col("lag"))
    }, Sql(
      // hourly-bucket alignment and long Pearson components replayed
      // verbatim; xcorr null below the support floor
      """WITH c AS (
        |  SELECT user_id,
        |    CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hb,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |v AS (
        |  SELECT user_id,
        |    CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS hb,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
        |  FROM events WHERE event_type = 'view' AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |lags AS (SELECT unnest(range(-3, 4)) AS lag),
        |p AS (SELECT l.lag, c.x, v.y
        |  FROM c CROSS JOIN lags l
        |  JOIN v ON v.user_id = c.user_id AND v.hb = c.hb + l.lag),
        |st AS (SELECT lag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM p GROUP BY 1),
        |f AS (SELECT lag, n,
        |    CAST(n * sxy - sx * sy AS DOUBLE) AS num,
        |    CAST(n * sxx - sx * sx AS DOUBLE) AS dx,
        |    CAST(n * syy - sy * sy AS DOUBLE) AS dy FROM st)
        |SELECT CAST(lag AS INTEGER) AS lag, n,
        |  CASE WHEN n >= 30 AND dx > 0 AND dy > 0 THEN
        |    round(num / (sqrt(dx) * sqrt(dy)) * 1e4) / 1e4 + 0 END
        |    AS xcorr
        |FROM f ORDER BY lag""".stripMargin)),

    // ---- model evaluation: PR AUC (average precision) ------------------
    Query("q219_pr_auc", (s, d) => {
      // q208's companion for class imbalance: step-wise average
      // precision from the same integer score buckets — ROC AUC
      // barely moves at a 1:9 positive rate, precision collapses.
      // Each threshold-block term is scaled to BIGINT at 1e-9 before
      // the cross-exchange sum (the PSI discipline)
      val emb = t(s, d, "embeddings")
      val classes = emb.select(col("label").as("cls")).distinct()
      val rows = emb.crossJoin(broadcast(classes))
        .withColumn("__y", (col("label") === col("cls")).cast("int"))
      graft.ops.MlEval.prAuc(rows,
          round(element_at(col("embedding"), 1).cast("double") * lit(1e6), 0)
            .cast("long"),
          col("__y"), Seq("cls"))
        .select(col("cls"), dround(col("pr_auc"), 6).as("pr_auc"),
          col("n_pos"), col("n_neg"))
        .orderBy(col("cls"))
    }, Sql(
      // average precision from the q208 buckets: descending cumulative
      // counts, 1e-9-scaled block terms, one final division chain
      """WITH e AS (
        |  SELECT label, CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6, 0)
        |    AS BIGINT) AS s
        |  FROM embeddings),
        |cls AS (SELECT DISTINCT label AS cls FROM e),
        |r AS (SELECT cls, s, CASE WHEN label = cls THEN 1 ELSE 0 END AS y
        |  FROM e CROSS JOIN cls),
        |b AS (SELECT cls, s, CAST(sum(y) AS BIGINT) AS pos,
        |    CAST(count(*) - sum(y) AS BIGINT) AS neg FROM r GROUP BY 1, 2),
        |cum AS (SELECT cls, pos, neg,
        |    CAST(sum(pos) OVER (PARTITION BY cls ORDER BY s DESC)
        |      AS BIGINT) AS cp,
        |    CAST(sum(neg) OVER (PARTITION BY cls ORDER BY s DESC)
        |      AS BIGINT) AS cn
        |  FROM b),
        |terms AS (SELECT cls, pos, neg,
        |    CASE WHEN pos > 0 THEN CAST(round(CAST(pos AS DOUBLE)
        |      * (CAST(cp AS DOUBLE) / CAST(cp + cn AS DOUBLE)) * 1e9)
        |      AS BIGINT)
        |    ELSE 0 END AS term_s FROM cum),
        |u AS (SELECT cls, CAST(sum(term_s) AS BIGINT) AS ts,
        |    CAST(sum(pos) AS BIGINT) AS n_pos,
        |    CAST(sum(neg) AS BIGINT) AS n_neg
        |  FROM terms GROUP BY cls)
        |SELECT cls, round(CAST(ts AS DOUBLE) / 1e9 / CAST(n_pos AS DOUBLE)
        |    * 1e6) / 1e6 AS pr_auc,
        |  n_pos, n_neg FROM u ORDER BY cls""".stripMargin)),

    // ---- curation: corpus concentration audit ---------------------------
    Query("q220_source_gini", (s, d) => {
      // is one source dominating a language's text mass? Per-lang Gini
      // of char mass across sources: the rank sum stays in exact
      // BIGINTs over the vocabulary-sized (lang, source) table, two
      // fixed-order divisions per lang at the end
      val masses = t(s, d, "documents")
        .groupBy(col("lang"), col("source"))
        .agg(sum(col("n_chars")).as("x"))
      graft.ops.RobustStats.gini(masses, "x", Seq("lang"))
        .orderBy(col("lang"))
    }, Sql(
      // exact rank-formulation Gini over the (lang, source) mass table;
      // tie order cannot change the rank sum
      """WITH m AS (SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS x
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, x,
        |    row_number() OVER (PARTITION BY lang ORDER BY x) AS i FROM m),
        |a AS (SELECT lang, count(*) AS n_entities,
        |    CAST(sum(x) AS BIGINT) AS total,
        |    CAST(sum(i * x) AS BIGINT) AS ix FROM r GROUP BY 1)
        |SELECT lang, n_entities, total,
        |  round((2.0 * CAST(ix AS DOUBLE)
        |      / CAST(n_entities * total AS DOUBLE)
        |    - CAST(n_entities + 1 AS DOUBLE) / CAST(n_entities AS DOUBLE))
        |    * 1e6) / 1e6 AS gini
        |FROM a ORDER BY lang""".stripMargin)),

    // ---- 100 TB swap: sketch-median MAD with a rank envelope ----------
    Query("q221_mad_approx", (s, d) => {
      // the single-pass approx_percentile path of q202's MAD chain
      // (RobustStats.madOutliers(approx = true)) held to the GK
      // guarantee, not to bit-identity: per user, the sketch median
      // and the sketch MAD must each be an ELEMENT of their multiset
      // whose rank interval intersects the middle ranks within
      // n/accuracy (+1 slack) — the q75 envelope discipline applied to
      // order statistics. The oracle replays n exactly and pins both
      // envelope booleans TRUE
      val clicks = t(s, d, "events").filter(col("event_type") === "click")
      val app = graft.ops.RobustStats.madOutliers(
          clicks, Seq("user_id"), "ts", "value", k = 3.0,
          approx = true, accuracy = 1000)
        .groupBy(col("user_id"))
        // med/mad are per-user constants; recover the exact scaled
        // longs (x/100*100 round-trips under round)
        .agg(round(max(col("med")) * lit(100), 0).cast("long").as("__m"),
          round(max(col("mad")) * lit(100), 0).cast("long").as("__d"))
      val base = clicks.filter(col("value").isNotNull)
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).cast("double").as("v"))
        .withColumn("__ve", round(col("v") * lit(100), 0).cast("long"))
      val j = base.join(app, Seq("user_id"))
        .withColumn("__ad", abs(col("__ve") - col("__m")))
      val env = j.groupBy(col("user_id")).agg(
        count(lit(1)).as("n"),
        sum(when(col("__ve") < col("__m"), 1L).otherwise(0L)).as("__ml"),
        sum(when(col("__ve") <= col("__m"), 1L).otherwise(0L)).as("__mle"),
        sum(when(col("__ad") < col("__d"), 1L).otherwise(0L)).as("__dl"),
        sum(when(col("__ad") <= col("__d"), 1L).otherwise(0L)).as("__dle"))
      def rankOk(l: org.apache.spark.sql.Column,
          le: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
        val n = col("n").cast("double")
        val slack = ceil(n / lit(1000.0)) + lit(1.0)
        val loRank = floor((n + lit(1.0)) / lit(2.0))
        val hiRank = floor(n / lit(2.0)) + lit(1.0)
        (le > l) && (le.cast("double") >= loRank - slack) &&
          ((l + lit(1)).cast("double") <= hiRank + slack)
      }
      env.select(col("user_id"), col("n"),
        rankOk(col("__ml"), col("__mle")).as("med_ok"),
        rankOk(col("__dl"), col("__dle")).as("mad_ok"))
        .orderBy(col("user_id"))
    }, Sql(
      // GK envelope oracle (the q75 discipline for order statistics):
      // the exact n per user is replayed; the rank-envelope booleans the
      // Spark side derives from its own sketch output are pinned TRUE
      """WITH base AS (
        |  SELECT user_id, ts FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL
        |  GROUP BY user_id, ts)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n,
        |  TRUE AS med_ok, TRUE AS mad_ok
        |FROM base GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- 100 TB swap: KS spine guard + auto-coarsening -----------------
    Query("q222_ks_coarse", (s, d) => {
      // q214's KS with the spine deliberately over the guard (joint
      // view/click support is > 256 at every sf): ks() refuses the
      // single-task window and re-buckets both sides onto a ≤256-point
      // equal-width spine keyed by lower edge. The oracle replays the
      // bucketing arithmetic (lo, ceil-step, div), the KS math, AND
      // the support-conditional guard itself (step = 1 when the spine
      // fits), so a drifted guard breaks the hash even at an sf where
      // the support dips under the threshold; ks_hi (lower bound +
      // largest within-bucket mass) makes the coarse verdict two-sided
      val ev = t(s, d, "events")
        .filter(col("value").isNotNull)
        .withColumn("v", round(col("value") * lit(100), 0).cast("long"))
      graft.ops.DriftMonitor.ks(
        ev.filter(col("event_type") === "view").select(col("v")),
        ev.filter(col("event_type") === "click").select(col("v")), "v",
        maxSupport = 256, coarsenTo = 256)
    }, Sql(
      // q214's KS replay with the guard's coarsening arithmetic replayed
      // exactly: lo over the joint spine, ceil-step to <= 256 buckets,
      // integer floor-div re-bucketing keyed by lower edge. The guard is
      // SUPPORT-CONDITIONAL exactly like the Spark side (step = 1, i.e.
      // the identity bucketing, when the joint distinct support fits) —
      // the oracle must not rest on an out-of-band "support > 256 at
      // every sf" assertion. ks_hi replays the two-sided bound: on a
      // coarse spine, lower bound + the largest one-sided within-bucket
      // mass, capped at 1; on a fine spine it equals ks
      """WITH vals AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |rc0 AS (SELECT v, count(*) AS n FROM vals
        |  WHERE event_type = 'view' GROUP BY 1),
        |cc0 AS (SELECT v, count(*) AS n FROM vals
        |  WHERE event_type = 'click' GROUP BY 1),
        |st AS (SELECT min(v) AS lo, count(DISTINCT v) AS d,
        |    CASE WHEN count(DISTINCT v) <= 256 THEN CAST(1 AS BIGINT)
        |      ELSE (max(v) - min(v) + 1 + 255) // 256 END AS step
        |  FROM (SELECT v FROM rc0 UNION ALL SELECT v FROM cc0)),
        |rc AS (SELECT (r.v - st.lo) // st.step * st.step + st.lo AS v,
        |    CAST(sum(r.n) AS BIGINT) AS n_ref
        |  FROM rc0 r, st GROUP BY 1),
        |cc AS (SELECT (c.v - st.lo) // st.step * st.step + st.lo AS v,
        |    CAST(sum(c.n) AS BIGINT) AS n_cur
        |  FROM cc0 c, st GROUP BY 1),
        |j AS (SELECT coalesce(rc.v, cc.v) AS v,
        |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        |  FROM rc FULL OUTER JOIN cc ON rc.v = cc.v),
        |g AS (SELECT v, n_ref, n_cur,
        |    CAST(sum(n_ref) OVER () AS BIGINT) AS tr,
        |    CAST(sum(n_cur) OVER () AS BIGINT) AS tc,
        |    CAST(sum(n_ref) OVER (ORDER BY v) AS BIGINT) AS cr,
        |    CAST(sum(n_cur) OVER (ORDER BY v) AS BIGINT) AS cu
        |  FROM j),
        |gap AS (SELECT v, tr, tc, abs(cr * tc - cu * tr) AS gp,
        |    max(greatest(n_ref * tc, n_cur * tr)) OVER () AS bmx
        |  FROM g),
        |best AS (SELECT v, tr, tc, gp, bmx, row_number() OVER (
        |    ORDER BY gp DESC, v) AS rn FROM gap)
        |SELECT tr AS n_ref, tc AS n_cur, v AS ks_at,
        |  round(CAST(gp AS DOUBLE) / CAST(tr * tc AS DOUBLE), 6) AS ks,
        |  CASE WHEN st.d <= 256
        |    THEN round(CAST(gp AS DOUBLE) / CAST(tr * tc AS DOUBLE), 6)
        |    ELSE least(CAST(1 AS DOUBLE),
        |      round(CAST(CAST(gp AS HUGEINT) + bmx AS DOUBLE)
        |        / CAST(tr * tc AS DOUBLE), 6)) END AS ks_hi
        |FROM best, st WHERE rn = 1""".stripMargin)),

    // ---- behavioral: second-order Markov transitions --------------------
    Query("q223_markov2", (s, d) => {
      // does one more token of history buy predictability? The
      // transition matrix keyed by the BIGRAM state (prev2, prev1) →
      // next, with per-state entropy — q217's vocabulary-sized
      // aggregation and 1e-9-scaled integer entropy discipline
      // verbatim; comparing h_state against q217's h_prev for the same
      // prev1 is the order-selection signal. States need >= 5
      // observations so the matrix rows are estimable
      val W = org.apache.spark.sql.expressions.Window
      val wo = W.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val seq = t(s, d, "events")
        .withColumn("p1", lag(col("event_type"), 1).over(wo))
        .withColumn("p2", lag(col("event_type"), 2).over(wo))
        .filter(col("p2").isNotNull)
      val tr = seq.groupBy(col("p2"), col("p1"),
          col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
      val wp = W.partitionBy(col("p2"), col("p1"))
      val pExact = col("n").cast("double") / col("t").cast("double")
      tr.withColumn("t", sum(col("n")).over(wp))
        .filter(col("t") >= 5)
        .withColumn("p", dround(pExact, 4))
        .withColumn("__term_s",
          round(-pExact * log(pExact) * lit(1e9)).cast("long"))
        .withColumn("h_state", dround(
          sum(col("__term_s")).over(wp).cast("double") / lit(1e9), 6))
        .withColumn("rn", row_number().over(
          wp.orderBy(col("n").desc, col("next"))))
        .select(col("p2"), col("p1"), col("next"), col("n"), col("p"),
          (col("rn") === 1).as("is_modal"), col("h_state"))
        .orderBy(col("p2"), col("p1"), col("next"))
    }, Sql(
      // q217's entropy discipline keyed by the bigram state; the >= 5
      // floor applies to the state total computed over the UNfiltered
      // matrix, exactly as the Spark window does
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lag(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS p1,
        |    lag(event_type, 2) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS p2
        |  FROM events),
        |tr AS (SELECT p2, p1, event_type AS next, count(*) AS n
        |  FROM seq WHERE p2 IS NOT NULL GROUP BY 1, 2, 3),
        |tot AS (SELECT p2, p1, next, n,
        |    CAST(sum(n) OVER (PARTITION BY p2, p1) AS BIGINT) AS t
        |  FROM tr),
        |f AS (SELECT * FROM tot WHERE t >= 5),
        |terms AS (SELECT p2, p1, next, n, t,
        |    round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE) * 1e4) / 1e4 AS p,
        |    CAST(round(-(CAST(n AS DOUBLE) / CAST(t AS DOUBLE))
        |      * ln(CAST(n AS DOUBLE) / CAST(t AS DOUBLE)) * 1e9)
        |      AS BIGINT) AS term_s FROM f),
        |h AS (SELECT p2, p1, next, n, p,
        |    round(CAST(sum(term_s) OVER (PARTITION BY p2, p1) AS DOUBLE)
        |      / 1e9 * 1e6) / 1e6 AS h_state,
        |    row_number() OVER (PARTITION BY p2, p1
        |      ORDER BY n DESC, next) AS rn FROM terms)
        |SELECT p2, p1, next, n, p, rn = 1 AS is_modal, h_state
        |FROM h ORDER BY p2, p1, next""".stripMargin)),

    // ---- behavioral: time-decayed Markov transitions --------------------
    Query("q225_markov_decay", (s, d) => {
      // recency-weighted transition matrix: each user's k-th most
      // recent transition carries weight (1/2)^k — recent behavior
      // dominates, ancient history fades. The decay stays EXACT
      // integer arithmetic end-to-end: 2^(30−k) by bit shift (zero
      // past k = 30, where the weight is < 1e-9 of the newest —
      // already invisible at the 6-dp probability rounding), so the
      // cross-user mass sums are plain BIGINTs and the only float is
      // the final probability division — no pow(), nothing an engine
      // could round differently. The 2^30 ceiling bounds each user's
      // total mass below 2^31, so the per-prev BIGINT sum is exact up
      // to ~4×10^9 users — past ANY real user cardinality (a 2^40
      // ceiling would silently wrap Spark's non-ANSI sum near 4M
      // users while DuckDB raised, the worst kind of divergence)
      val W = org.apache.spark.sql.expressions.Window
      val wo = W.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val seq = t(s, d, "events")
        .withColumn("prev", lag(col("event_type"), 1).over(wo))
        .filter(col("prev").isNotNull)
        .withColumn("k", row_number().over(W.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)) - 1)
        .withColumn("w", when(col("k") <= 30,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - k AS INT))"))
          .otherwise(lit(0L)))
      val tr = seq.groupBy(col("prev"), col("event_type").as("next"))
        .agg(sum(col("w")).as("mass"), count(lit(1)).as("n"))
      val wp = W.partitionBy(col("prev"))
      tr.withColumn("t", sum(col("mass")).over(wp))
        .filter(col("t") > 0)
        .withColumn("p_decay", dround(
          col("mass").cast("double") / col("t").cast("double"), 6))
        .withColumn("rn", row_number().over(
          wp.orderBy(col("mass").desc, col("next"))))
        .select(col("prev"), col("next"), col("n"), col("mass"),
          col("p_decay"), (col("rn") === 1).as("is_modal"))
        .orderBy(col("prev"), col("next"))
    }, Sql(
      // exact power-of-two decay replayed with the same bit shift; the
      // recency rank counts TRANSITIONS per user (newest = 0)
      """WITH seq0 AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |seq AS (SELECT user_id, event_type, prev,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) - 1 AS k
        |  FROM seq0 WHERE prev IS NOT NULL),
        |wt AS (SELECT prev, event_type AS next,
        |    CASE WHEN k <= 30
        |      THEN CAST(1 AS BIGINT) << CAST(30 - k AS INT)
        |      ELSE CAST(0 AS BIGINT) END AS w
        |  FROM seq),
        |tr AS (SELECT prev, next, CAST(sum(w) AS BIGINT) AS mass,
        |    count(*) AS n FROM wt GROUP BY 1, 2),
        |tt AS (SELECT prev, next, n, mass,
        |    CAST(sum(mass) OVER (PARTITION BY prev) AS BIGINT) AS t
        |  FROM tr),
        |f AS (SELECT * FROM tt WHERE t > 0),
        |r AS (SELECT prev, next, n, mass,
        |    round(CAST(mass AS DOUBLE) / CAST(t AS DOUBLE) * 1e6) / 1e6
        |      AS p_decay,
        |    row_number() OVER (PARTITION BY prev
        |      ORDER BY mass DESC, next) AS rn FROM f)
        |SELECT prev, next, n, mass, p_decay, rn = 1 AS is_modal
        |FROM r ORDER BY prev, next""".stripMargin)),

    // ---- drift: incrementally maintained KS view ------------------------
    Query("q226_incremental_ks", (s, d) => {
      // drift monitoring over a GROWING current window without
      // rescans: the click-value histogram view maintains from deltas
      // (half the clicks commit, the view initializes; the other half
      // appends and delta-merges — the emitted mode pins the cheap
      // path), then the maintained counts feed the same guarded KS
      // math as q214 against the view-events reference. Histogram
      // counts are additive under appends, so the maintained view is
      // bit-identical to a one-shot aggregation — the oracle derives
      // the statistic from the raw tables and pins mode='incremental'
      val ev = t(s, d, "events").filter(col("value").isNotNull)
        .withColumn("v", round(col("value") * lit(100), 0).cast("long"))
      // materialized reference counts: the guarded KS plan consumes
      // the count table twice (guard stats + the math), and a raw
      // events aggregation would scan the corpus twice — a persisted
      // reference histogram is also what a production monitor holds
      val ref = graft.core.Scratch.materialize(
        ev.filter(col("event_type") === "view")
          .groupBy(col("v")).agg(count(lit(1)).as("n")), "ksref")
      val clicks = ev.filter(col("event_type") === "click").select("v")
      val root = s"${graft.core.Scratch.root(ev)}/ksview_" +
        java.util.UUID.randomUUID()
      graft.core.Scratch.registerForCleanup(root)
      val (base, agg) = (s"$root/base", s"$root/agg")
      graft.core.VersionedTable.commitAppend(
        clicks.filter(col("v") % 2 === 0), base)
      graft.ops.IncrementalAgg.maintain(s, base, agg, Seq("v"), "v")
      graft.core.VersionedTable.commitAppend(
        clicks.filter(col("v") % 2 =!= 0), base)
      val r = graft.ops.IncrementalAgg.maintain(s, base, agg,
        Seq("v"), "v")
      val cur = graft.ops.IncrementalAgg.read(s, agg)
        .select(col("v"), col("n_rows").as("n"))
      graft.ops.DriftMonitor.ksGuarded(ref, cur,
          maxSupport = 1 << 20, coarsenTo = 0)
        .select(lit(r.mode).as("mode"), col("n_ref"), col("n_cur"),
          col("ks_at"), col("ks"))
    }, Sql(
      // the maintained histogram is additive under appends, so the
      // oracle derives the SAME KS from the raw tables and pins that the
      // delta path produced it
      """WITH vals AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |rc AS (SELECT v, count(*) AS n_ref FROM vals
        |  WHERE event_type = 'view' GROUP BY 1),
        |cc AS (SELECT v, count(*) AS n_cur FROM vals
        |  WHERE event_type = 'click' GROUP BY 1),
        |j AS (SELECT coalesce(rc.v, cc.v) AS v,
        |    coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
        |  FROM rc FULL OUTER JOIN cc ON rc.v = cc.v),
        |g AS (SELECT v, n_ref, n_cur,
        |    CAST(sum(n_ref) OVER () AS BIGINT) AS tr,
        |    CAST(sum(n_cur) OVER () AS BIGINT) AS tc,
        |    CAST(sum(n_ref) OVER (ORDER BY v) AS BIGINT) AS cr,
        |    CAST(sum(n_cur) OVER (ORDER BY v) AS BIGINT) AS cu
        |  FROM j),
        |gap AS (SELECT v, tr, tc, abs(cr * tc - cu * tr) AS gp FROM g),
        |best AS (SELECT v, tr, tc, gp, row_number() OVER (
        |    ORDER BY gp DESC, v) AS rn FROM gap)
        |SELECT 'incremental' AS mode, tr AS n_ref, tc AS n_cur,
        |  v AS ks_at,
        |  round(CAST(gp AS DOUBLE) / CAST(tr * tc AS DOUBLE), 6) AS ks
        |FROM best WHERE rn = 1""".stripMargin)),

    // ---- tokenizer: soft-EM unigram refinement --------------------------
    Query("q224_unigram_soft_em", (s, d) => {
      // one SOFT-EM refinement of the unigram vocab — forward-backward
      // expected counts over every word's full segmentation lattice
      // (Kudo 2018's real E-step; q182's hard-Viterbi assignment was
      // the documented deviation, now closed). Probabilities are exact
      // rationals, the α/β op order is pinned, and posteriors quantize
      // per word, so the DuckDB oracle replays the whole lattice with
      // recursive CTEs and the hash is exact — see
      // functions.UnigramExpectedUsage. iters=1/prune=false is the
      // single-refinement mode of the one trainSoftEm entry point
      graft.operators.Unigram.trainSoftEm(
          t(s, d, "documents"), "text", vocabSize = 40,
          maxPieceLen = 4, iters = 1, prune = false)
        .orderBy(col("piece"))
    }, Sql(
      // soft-EM replay: the α/β lattice recursions run as recursive CTEs
      // carrying the three lagged values, with the IDENTICAL op order the
      // Scala expression pins (ascending piece length, left-assoc adds,
      // ((α·p)·β/Z)·1e6 per occurrence, per-word integer quantization) —
      // probabilities are exact rationals, so every float op is IEEE-
      // reproducible across engines
      "WITH RECURSIVE " + unigramVocabBody + """,
        |prob AS (SELECT piece, CAST(cnt AS DOUBLE) / t AS p
        |  FROM vocab0 CROSS JOIN tot),
        |ws AS (SELECT DISTINCT word FROM w),
        |alpha AS (
        |  SELECT word, CAST(0 AS BIGINT) AS j,
        |    CAST(1.0 AS DOUBLE) AS a0, CAST(0.0 AS DOUBLE) AS a1,
        |    CAST(0.0 AS DOUBLE) AS a2, CAST(0.0 AS DOUBLE) AS a3
        |  FROM ws
        |  UNION ALL
        |  SELECT r.word, r.j + 1,
        |    r.a0 * coalesce(p1.p, 0.0) + r.a1 * coalesce(p2.p, 0.0)
        |      + r.a2 * coalesce(p3.p, 0.0) + r.a3 * coalesce(p4.p, 0.0),
        |    r.a0, r.a1, r.a2
        |  FROM alpha r
        |  LEFT JOIN prob p1
        |    ON p1.piece = substr(r.word, CAST(r.j + 1 AS INT), 1)
        |  LEFT JOIN prob p2 ON r.j >= 1
        |    AND p2.piece = substr(r.word, CAST(r.j AS INT), 2)
        |  LEFT JOIN prob p3 ON r.j >= 2
        |    AND p3.piece = substr(r.word, CAST(r.j - 1 AS INT), 3)
        |  LEFT JOIN prob p4 ON r.j >= 3
        |    AND p4.piece = substr(r.word, CAST(r.j - 2 AS INT), 4)
        |  WHERE r.j < len(r.word)),
        |beta AS (
        |  SELECT word, CAST(len(word) AS BIGINT) AS i,
        |    CAST(1.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1,
        |    CAST(0.0 AS DOUBLE) AS b2, CAST(0.0 AS DOUBLE) AS b3
        |  FROM ws
        |  UNION ALL
        |  SELECT r.word, r.i - 1,
        |    coalesce(p1.p, 0.0) * r.b0 + coalesce(p2.p, 0.0) * r.b1
        |      + coalesce(p3.p, 0.0) * r.b2 + coalesce(p4.p, 0.0) * r.b3,
        |    r.b0, r.b1, r.b2
        |  FROM beta r
        |  LEFT JOIN prob p1
        |    ON p1.piece = substr(r.word, CAST(r.i AS INT), 1)
        |  LEFT JOIN prob p2 ON r.i + 1 <= len(r.word)
        |    AND p2.piece = substr(r.word, CAST(r.i AS INT), 2)
        |  LEFT JOIN prob p3 ON r.i + 2 <= len(r.word)
        |    AND p3.piece = substr(r.word, CAST(r.i AS INT), 3)
        |  LEFT JOIN prob p4 ON r.i + 3 <= len(r.word)
        |    AND p4.piece = substr(r.word, CAST(r.i AS INT), 4)
        |  WHERE r.i > 0),
        |af AS (SELECT word, j, a0 FROM alpha),
        |bf AS (SELECT word, i, b0 FROM beta),
        |zt AS (SELECT word, a0 AS z FROM alpha WHERE j = len(word)),
        |occ AS (
        |  SELECT ws.word, t.s AS s0, u.l AS l,
        |    substr(ws.word, CAST(t.s + 1 AS INT), CAST(u.l AS INT))
        |      AS piece
        |  FROM ws,
        |    LATERAL unnest(range(0, len(ws.word))) AS t(s),
        |    LATERAL unnest(range(1, 5)) AS u(l)
        |  WHERE t.s + u.l <= len(ws.word)),
        |post AS (
        |  SELECT o.word, o.piece,
        |    CAST(round(af.a0 * pr.p * bf.b0 / zt.z * 1000000.0)
        |      AS BIGINT) AS u
        |  FROM occ o
        |  JOIN prob pr ON pr.piece = o.piece
        |  JOIN af ON af.word = o.word AND af.j = o.s0
        |  JOIN bf ON bf.word = o.word AND bf.i = o.s0 + o.l
        |  JOIN zt ON zt.word = o.word
        |  WHERE zt.z > 0),
        |pw AS (SELECT word, piece, CAST(sum(u) AS BIGINT) AS u
        |  FROM post GROUP BY 1, 2),
        |usage AS (SELECT piece, CAST(sum(w.n * pw.u) AS BIGINT)
        |    AS usage_s
        |  FROM pw JOIN w USING (word) GROUP BY piece),
        |kept AS (
        |  SELECT piece, cnt FROM (
        |    SELECT v.piece,
        |      CASE WHEN len(v.piece) = 1
        |        THEN greatest(coalesce(u.usage_s, 0), 1000000)
        |        ELSE u.usage_s END AS cnt
        |    FROM vocab0 v LEFT JOIN usage u USING (piece))
        |  WHERE cnt IS NOT NULL AND cnt > 0),
        |tot2 AS (SELECT CAST(sum(cnt) AS BIGINT) AS t2 FROM kept)
        |SELECT piece, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(round(ln(CAST(cnt AS DOUBLE) / t2) * 1000000.0)
        |    AS BIGINT) AS score
        |FROM kept CROSS JOIN tot2
        |ORDER BY piece""".stripMargin)),

    // ---- tokenizer: soft-EM TRAINING loop (EM + prune-by-loss) ---------
    Query("q227_unigram_train", (s, d) => {
      // two full rounds of Kudo 2018's training loop: q224's soft
      // E-step + M-step rescore, then prune the multi-char pieces
      // whose removal costs the least corpus likelihood — loss =
      // expected_usage × (score − best alternative segmentation
      // score over proper compositions), exact BigInt ranking — keep
      // ceil(3/4) per round (never below target), renormalize the
      // survivors into the next round's exact-rational probabilities.
      // The oracle unrolls BOTH lattices and BOTH prunes in recursive
      // CTEs, so every posterior, every loss product, and both
      // shrink arithmetic rounds replay bit-exact
      graft.operators.Unigram.trainSoftEm(
        t(s, d, "documents"), "text", vocabSize = 40,
        maxPieceLen = 4, iters = 2, targetVocab = 20)
    }, Sql(
      // the full training loop unrolled: TWO soft-EM lattices (q224's
      // α/β recursions, round 2 over round 1's renormalized survivors)
      // each followed by the prune-by-loss ranking — every posterior,
      // loss product (HUGEINT-exact), and shrink arithmetic replayed;
      // a drifted prune order or a wrong survivor set breaks the hash
      "WITH RECURSIVE " + unigramVocabBody + """,
        |ws AS MATERIALIZED (SELECT DISTINCT word FROM w),
        |occ AS MATERIALIZED (
        |  SELECT ws.word, t.s AS s0, u.l AS l,
        |    substr(ws.word, CAST(t.s + 1 AS INT), CAST(u.l AS INT))
        |      AS piece
        |  FROM ws,
        |    LATERAL unnest(range(0, len(ws.word))) AS t(s),
        |    LATERAL unnest(range(1, 5)) AS u(l)
        |  WHERE t.s + u.l <= len(ws.word)),
        |""".stripMargin
        + softEmRoundSql(1, "vocab0", 20) + ",\n"
        + softEmRoundSql(2, "surv1", 20) + """,
        |totf AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM surv2)
        |SELECT piece, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(round(ln(CAST(cnt AS DOUBLE) / t) * 1000000.0)
        |    AS BIGINT) AS score
        |FROM surv2 CROSS JOIN totf
        |ORDER BY piece""".stripMargin))))
}
