package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.Decontam
import graft.ops.Scd2

class PipelineOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("contaminationReport: exact copy of a bench doc is 100% contaminated") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),      // full copy
      (2L, "alpha beta gamma something else here"), // partial overlap
      (3L, "totally unrelated words only"))         // clean
      .toDF("doc_id", "text")
    val out = Decontam.contaminationReport(corpus, bench, "doc_id", "text", 3)
      .orderBy("doc_id")
      .select("doc_id", "n_ngrams", "n_overlap", "contaminated")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(out(0) == ((1L, 3L, 3L, true)))  // 5 tokens -> 3 trigrams, all hit
    assert(out(1) == ((2L, 4L, 1L, true)))  // "alpha beta gamma" hits
    assert(out(2) == ((3L, 2L, 0L, false)))
  }

  test("contaminationReport: casing differences still collide") {
    val bench = Seq((9L, "The Quick Brown Fox")).toDF("doc_id", "text")
    val corpus = Seq((1L, "the quick brown fox")).toDF("doc_id", "text")
    val out = Decontam.contaminationReport(corpus, bench, "doc_id", "text", 3)
      .select("n_overlap").as[Long].head()
    assert(out == 2L)
  }

  test("scd2: runs collapse, intervals chain, last run open") {
    def ts(m: Int) = Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    val events = Seq(
      (1L, ts(0), 7L, "a"), (2L, ts(1), 7L, "a"), (3L, ts(2), 7L, "b"),
      (4L, ts(3), 7L, "a"), (5L, ts(0), 8L, "x"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val out = Scd2.fromEventLog(events, "user_id", "event_type", "ts", "event_id")
      .orderBy("user_id", "valid_from")
      .select("user_id", "event_type", "valid_from", "valid_to",
        "n_events", "is_current")
      .as[(Long, String, Timestamp, Option[Timestamp], Long, Boolean)]
      .collect()
    assert(out.length == 4) // user 7: a(2) -> b(1) -> a(1); user 8: x(1)
    assert(out(0) == ((7L, "a", ts(0), Some(ts(2)), 2L, false)))
    assert(out(1) == ((7L, "b", ts(2), Some(ts(3)), 1L, false)))
    assert(out(2) == ((7L, "a", ts(3), None, 1L, true)))
    assert(out(3) == ((8L, "x", ts(0), None, 1L, true)))
    // intervals chain: each non-current valid_to equals the next valid_from
    val u7 = out.filter(_._1 == 7L)
    u7.sliding(2).foreach { case Array(prev, next) =>
      assert(prev._4.contains(next._3))
    }
  }

  test("scd2: NULL attribute values form their own runs") {
    import graft.ops.Scd2
    def ts(m: Int) = new Timestamp(m * 60000L)
    // value → NULL → value must be THREE runs; the old null-unsafe
    // comparison merged them into one
    val events = Seq(
      (1L, Option("a"), ts(0), 10L),
      (2L, Option.empty[String], ts(1), 11L),
      (3L, Option("a"), ts(2), 12L))
      .toDF("seq", "event_type", "ts", "event_id")
      .withColumn("user_id", lit(7L))
    val out = Scd2
      .fromEventLog(events, "user_id", "event_type", "ts", "event_id")
      .orderBy("valid_from")
      .select("event_type", "n_events")
      .as[(Option[String], Long)].collect().toSeq
    assert(out == Seq((Some("a"), 1L), (None, 1L), (Some("a"), 1L)),
      out.toString)
  }

  test("scd2: plan pays a single hash shuffle on the key") {
    val events = (1L to 100L)
      .map(i => (i, Timestamp.valueOf(f"2024-01-01 00:00:${i % 60}%02d"),
        i % 5, if (i % 3 == 0) "a" else "b"))
      .toDF("event_id", "ts", "user_id", "event_type")
    val df = Scd2
      .fromEventLog(events, "user_id", "event_type", "ts", "event_id")
    assert(PlanAsserts.countShuffles(df) == 1,
      s"expected 1 shuffle, got plan:\n${df.queryExecution.executedPlan}")
  }

  test("corpus mix: binding source kept whole, result partition-invariant") {
    import graft.ops.CorpusMix
    // src "a": 10 docs x 2 tokens; src "b": 10 docs x 8 tokens
    val docs = ((1L to 10L).map(i => (i, "w w", "a")) ++
      (11L to 20L).map(i => (i, "w w w w w w w w", "b")))
      .toDF("doc_id", "text", "source")
    // equal shares -> "a" binds (20 toks / 0.5 = 40 < 160); keep all of
    // "a", downsample "b" to ~20 tokens
    val out = CorpusMix.mixToTokenTargets(docs, "doc_id", "text",
      "source", Map("a" -> 0.5, "b" -> 0.5))
    val bySource = out.groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_tokens").as("toks"))
      .as[(String, Long, Long)].collect()
      .map { case (s, n, t) => s -> ((n, t)) }.toMap
    assert(bySource("a") == ((10L, 20L))) // binding source: all kept
    assert(bySource("b")._2 <= 40L) // ~25% of b's 80 tokens survive
    // deterministic under repartitioning
    val again = CorpusMix.mixToTokenTargets(docs.repartition(7),
      "doc_id", "text", "source", Map("a" -> 0.5, "b" -> 0.5))
    assert(out.orderBy("doc_id").collect().toSeq ==
      again.orderBy("doc_id").collect().toSeq)
  }

  test("decontam and corpus-mix plans never shuffle document text") {
    // the 100 TB contract: every exchange in these plans carries ids,
    // hashes, and counts — the text column stays map-side only
    val sfDir = "/root/testdata/sf0.001"
    for (name <- Seq("q65_decontam", "q68_corpus_mix")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      val shuffled = PlanAsserts
        .collectPlan(df.queryExecution.executedPlan)
        .collect {
          case s: org.apache.spark.sql.execution.exchange
              .ShuffleExchangeLike => s.output.map(_.name)
        }
      assert(shuffled.nonEmpty, s"$name: expected at least one exchange")
      shuffled.foreach { cols =>
        assert(!cols.exists(c => c == "text" || c.contains("__ng")),
          s"$name shuffles text/n-grams: $cols")
      }
    }
  }

  test("contaminationReport: empty benchmark set flags nothing") {
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val corpus = Seq((1L, "some words here")).toDF("doc_id", "text")
    val out = Decontam.contaminationReport(corpus, bench, "doc_id",
      "text", 3).select("n_overlap", "contaminated")
      .as[(Long, Boolean)].collect()
    assert(out.toSeq == Seq((0L, false)))
  }

  test("corpus mix: targets naming an absent source still work") {
    import graft.ops.CorpusMix
    val docs = Seq((1L, "w w w", "a"), (2L, "w w", "a"))
      .toDF("doc_id", "text", "source")
    // "ghost" has no rows: rates derive from the present sources only
    val out = CorpusMix.mixToTokenTargets(docs, "doc_id", "text",
      "source", Map("a" -> 0.7, "ghost" -> 0.3))
      .select("doc_id").as[Long].collect()
    assert(out.sorted.toSeq == Seq(1L, 2L)) // "a" binds → all kept
  }

  test("dupNgramFrac: repeats detected, clean text scores zero") {
    import graft.functions.TextFunctions.dupNgramFrac
    val docs = Seq(
      (1L, "spam spam spam spam"),        // uni 3/4, bi 2/3, tri 1/2
      (2L, "all words here are unique"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
      dupNgramFrac(col("text"), 1).as("u"),
      dupNgramFrac(col("text"), 2).as("b"),
      dupNgramFrac(col("text"), 3).as("t"))
      .orderBy("doc_id").as[(Long, Double, Double, Double)].collect()
    assert(out(0)._2 == 0.75)
    assert(math.abs(out(0)._3 - 2.0 / 3.0) < 1e-12)
    assert(out(0)._4 == 0.5)
    assert(out(1) == ((2L, 0.0, 0.0, 0.0)))
  }
}
