package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.JaroWinkler

/** Jaro / Jaro-Winkler scorer (q164): golden values captured from
  * DuckDB's implementation (the oracle engine) at full double
  * precision, symmetry/range laws over generated pairs, and the
  * Winkler edge rules (0.7 boost threshold, prefix cap 4,
  * integer transposition halving, empty -> 0). */
class JaroWinklerSpec extends SparkTestBase {

  private def j(a: String, b: String): Double =
    JaroWinkler.jaro(UTF8String.fromString(a), UTF8String.fromString(b))
  private def jw(a: String, b: String): Double =
    JaroWinkler.jaroWinkler(UTF8String.fromString(a),
      UTF8String.fromString(b))

  test("matches DuckDB's values bit-for-bit on the golden set") {
    // (a, b, duckdb jaro_similarity, duckdb jaro_winkler_similarity)
    val golden = Seq(
      ("martha", "marhta", 0.9444444444444445, 0.9611111111111111),
      ("dixon", "dicksonx", 0.7666666666666666, 0.8133333333333332),
      ("jellyfish", "smellyfish", 0.8962962962962964, 0.8962962962962964),
      ("abcdef", "fedcba", 0.38888888888888884, 0.38888888888888884),
      ("dwayne", "duane", 0.8222222222222223, 0.8400000000000001),
      ("CRATE", "TRACE", 0.7333333333333334, 0.7333333333333334),
      // prefix bonus caps at 4 even with a 5-char common prefix
      ("aaaaab", "aaaaac", 0.888888888888889, 0.9333333333333333),
      // shared prefix but jaro <= 0.7: NO bonus (boost threshold)
      ("abqqqqqq", "abzzzzzz", 0.5, 0.5),
      ("az", "a", 0.8333333333333334, 0.8500000000000001),
      ("", "abc", 0.0, 0.0),
      ("", "", 0.0, 0.0),
      ("a", "a", 1.0, 1.0))
    for ((a, b, ej, ejw) <- golden) {
      assert(j(a, b) == ej, s"jaro($a, $b)")
      assert(jw(a, b) == ejw, s"jw($a, $b)")
    }
  }

  test("symmetry and [0, 1] range over generated pairs") {
    val gen = for {
      n1 <- Gen.choose(0, 9); n2 <- Gen.choose(0, 9)
      s <- Gen.choose(0, 1 << 20)
    } yield (
      (0 until n1).map(i => ('a' + (s * 7 + i * 3) % 5).toChar).mkString,
      (0 until n2).map(i => ('a' + (s * 11 + i * 5) % 5).toChar).mkString)
    (1 to 200).foreach { i =>
      val (a, b) = gen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val f = jw(a, b)
      assert(f == jw(b, a), s"asymmetric on ($a, $b)")
      assert(f >= 0.0 && f <= 1.0)
      assert(jw(a, a) == (if (a.isEmpty) 0.0 else 1.0))
    }
  }

  test("resolveEntities: transitive chains collapse to one entity " +
    "with the highest-support canonical") {
    import spark.implicits._
    // 'anodized almond' ~ 'anodized almonds' ~ 'anodized almondz'
    // chain under first-token blocking; 'burnished copper' separate
    val rows = (Seq.fill(5)("anodized almonds") ++
      Seq.fill(2)("anodized almond") ++
      Seq.fill(1)("anodized almondz") ++
      Seq.fill(3)("burnished copper"))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "name")
    val ents = graft.ops.FuzzyLink.resolveEntities(rows, "name",
        minSim = 0.9)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getString(2), r.getLong(3))).toSeq
    val byValue = ents.map(e => e._1 -> e).toMap
    assert(ents.length == 4) // distinct values
    // the three 'anodized *' variants share one entity and elect the
    // 5-row spelling as canonical
    val almondEnts = ents.filter(_._1.startsWith("anodized"))
      .map(_._2).distinct
    assert(almondEnts.size == 1)
    assert(ents.filter(_._1.startsWith("anodized"))
      .forall(_._3 == "anodized almonds"))
    // the unrelated value is its own singleton entity and canonical
    assert(byValue("burnished copper")._2 == "burnished copper")
    assert(byValue("burnished copper")._3 == "burnished copper")
  }

  test("q164 blocked linkage returns plausible scored pairs") {
    val df = SparkEntry.queries("q164_jaro_link")(spark, "/root/testdata/sf0.001")
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(a < b)
      val sim = r.getAs[Double]("jw_sim")
      assert(sim >= 0.9 && sim <= 1.0)
      assert(math.abs(sim - math.rint(jw(a, b) * 1e4) / 1e4) < 1e-9)
    }
  }
}
