package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.Gunzip

/** Gzip decode (q162): encode–decode roundtrip law over arbitrary
  * payloads, per-byte corruption behavior (integrity-covered bytes
  * null out; the format's unchecked header metadata bytes don't
  * affect the output), truncation/junk rejection, bomb guard. */
class GzipDecodeSpec extends SparkTestBase {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i =>
      gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private val payloadGen: Gen[Array[Byte]] = for {
    n <- Gen.oneOf(Gen.choose(0, 64), Gen.choose(1000, 20000))
    seed <- Gen.choose(0, 1 << 30)
  } yield Array.tabulate[Byte](n) { i =>
    var v = seed + i * 2654435761L
    v ^= v >>> 13
    v.toByte
  }

  test("roundtrip law: gunzip(gzip(x)) == x for arbitrary payloads") {
    for (p <- samples(payloadGen, 30)) {
      val back = Gunzip.gunzip(Gunzip.gzipBytes(p))
      assert(back != null && java.util.Arrays.equals(back, p),
        s"roundtrip failed for ${p.length}-byte payload")
    }
  }

  test("per-byte corruption: integrity-covered bytes null out; " +
    "unchecked header metadata does not change the output") {
    val payload = "the quick brown fox jumps over the lazy dog"
      .getBytes("UTF-8")
    val good = Gunzip.gzipBytes(payload)
    assert(java.util.Arrays.equals(Gunzip.gunzip(good), payload))
    // the deflate bitstream's final block ends mid-byte; the unused
    // high bits of its last byte are format-level padding no checksum
    // covers — a flip there may legitimately decode unchanged
    val padByte = good.length - 9
    for (i <- good.indices) {
      val c = good.clone()
      c(i) = (c(i) ^ 0x40).toByte
      val out = Gunzip.gunzip(c)
      if (i >= 4 && i <= 9) {
        // MTIME (4-7) / XFL (8) / OS (9): gzip does not cover these
        // with any checksum, and they don't affect the payload
        assert(out != null && java.util.Arrays.equals(out, payload),
          s"metadata flip at byte $i changed the decode")
      } else if (i == padByte) {
        assert(out == null || java.util.Arrays.equals(out, payload),
          s"padding-bit flip at byte $i decoded to WRONG bytes")
      } else {
        assert(out == null,
          s"flip at byte $i decoded to a non-null payload")
      }
    }
  }

  test("truncation, trailing junk, non-gzip, and null all reject") {
    val good = Gunzip.gzipBytes("hello hello hello".getBytes("UTF-8"))
    for (cut <- Seq(0, 9, 17, good.length / 2, good.length - 1))
      assert(Gunzip.gunzip(good.take(cut)) == null, s"cut=$cut")
    assert(Gunzip.gunzip(good ++ Array[Byte](0)) == null,
      "trailing junk accepted")
    assert(Gunzip.gunzip(null) == null)
    assert(Gunzip.gunzip(Array.fill[Byte](64)(7)) == null)
  }

  test("q162 matches the generator's closed form on a spot doc") {
    val df = SparkEntry.queries("q162_gzip_decode")(spark, "unused")
    assert(df.count() == 80) // every third payload is corrupted
    val i = 7
    val r = df.filter(col("doc_id") === i).collect().head
    val text = (0 until (20 + i % 30))
      .map(j => s"w${(i * 7 + j * 3) % 11}").mkString(" ")
    assert(r.getAs[Long]("n_chars") == text.length.toLong)
    assert(r.getAs[Long]("n_tokens") == (20 + i % 30).toLong)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(text.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(r.getAs[String]("text_md5") == md)
  }
}
