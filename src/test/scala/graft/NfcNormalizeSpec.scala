package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TextNormalize

/** Unicode NFC canonicalization (q163): composition correctness,
  * idempotence, ASCII fast path, and the dedup motivation (two byte
  * representations of the same visible text hash together after
  * normalization). */
class NfcNormalizeSpec extends SparkTestBase {
  import spark.implicits._

  private def nfc(s: String): String =
    TextNormalize.nfc(UTF8String.fromString(s)).toString

  test("canonical composition: decomposed sequences compose; " +
    "precomposed and ASCII are unchanged") {
    assert(nfc("we\u0301") == "w\u00e9")
    assert(nfc("wa\u0308") == "w\u00e4")
    assert(nfc("wo\u0302") == "w\u00f4")
    assert(nfc("w\u00e9") == "w\u00e9")
    assert(nfc("plain ascii 123") == "plain ascii 123")
    assert(nfc("") == "")
    assert(TextNormalize.nfc(null) == null)
    // idempotence
    val mixed = "we\u0301 wa\u0308 w\u00e9 xyz"
    assert(nfc(nfc(mixed)) == nfc(mixed))
  }

  test("normalization merges byte-distinct duplicates for dedup") {
    val docs = Seq(
      (1L, "cafe\u0301 menu"), // decomposed
      (2L, "caf\u00e9 menu"),  // precomposed — same visible text
      (3L, "other doc")).toDF("doc_id", "text")
    // raw bytes hash apart…
    assert(docs.select(md5(col("text").cast("binary")))
      .distinct().count() == 3)
    // …normalized they collapse
    assert(docs.select(md5(
        TextNormalize.column(col("text")).cast("binary")))
      .distinct().count() == 2)
  }

  test("q163 matches the JDK normalizer on a spot doc") {
    val df = SparkEntry.queries("q163_nfc_normalize")(spark, "unused")
    assert(df.count() == 90)
    val i = 11
    val r = df.filter(col("doc_id") === i).collect().head
    val raw = (0 until (10 + i % 20)).map { j =>
      (i * 3 + j) % 5 match {
        case 0 => "we\u0301"
        case 1 => "wa\u0308"
        case 2 => "wo\u0302"
        case 3 => "w\u00e9"
        case _ => s"w${(i + j) % 10}"
      }
    }.mkString(" ")
    val norm = java.text.Normalizer.normalize(raw,
      java.text.Normalizer.Form.NFC)
    assert(r.getAs[Long]("n_raw") == raw.codePointCount(0, raw.length))
    assert(r.getAs[Long]("n_norm") ==
      norm.codePointCount(0, norm.length))
    assert(r.getAs[Long]("n_norm") < r.getAs[Long]("n_raw"))
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(norm.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    assert(r.getAs[String]("norm_md5") == md)
  }
}
