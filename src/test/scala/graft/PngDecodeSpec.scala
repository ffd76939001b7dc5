package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.multimodal.{MediaDecode, MultimodalOps}

/** PNG decode (q161): encode–decode roundtrip law over generated
  * images, exhaustive single-byte-corruption null-out (every chunk is
  * CRC-validated, so ANY flipped byte must yield null, never wrong
  * pixels), and rejection of the unsupported container shapes. */
class PngDecodeSpec extends SparkTestBase {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i =>
      gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  private case class Img(w: Int, h: Int, alpha: Boolean, seed: Int)

  private val imgGen: Gen[Img] = for {
    w <- Gen.choose(1, 13)
    h <- Gen.choose(1, 11)
    alpha <- Gen.oneOf(true, false)
    seed <- Gen.choose(0, 1 << 20)
  } yield Img(w, h, alpha, seed)

  // arbitrary deterministic pixels — NOT the affine fixture formula,
  // so the law holds on pixel patterns the fixtures never produce
  private def pix(seed: Int)(x: Int, y: Int): (Int, Int, Int, Int) = {
    def ch(salt: Int): Int = {
      var v = seed * 1000003 + x * 8191 + y * 131 + salt * 31337
      v ^= v >>> 13; v *= 0x5bd1e995; v ^= v >>> 15
      v & 0xff
    }
    (ch(1), ch(2), ch(3), ch(4))
  }

  test("roundtrip law: decoded sums equal the encoded pixels' sums") {
    for (img <- samples(imgGen, 40)) {
      val p = pix(img.seed) _
      val bytes = MultimodalOps.pngFile(img.w, img.h, img.alpha, p)
      val st = MediaDecode.pngStats(bytes)
      assert(st != null, s"$img failed to decode")
      val all = for (y <- 0 until img.h; x <- 0 until img.w) yield p(x, y)
      assert(st.getInt(0) == img.w && st.getInt(1) == img.h)
      assert(st.getInt(2) == (if (img.alpha) 4 else 3))
      assert(st.getLong(3) == img.w.toLong * img.h)
      assert(st.getLong(4) == all.map(_._1.toLong).sum, s"$img sum_r")
      assert(st.getLong(5) == all.map(_._2.toLong).sum, s"$img sum_g")
      assert(st.getLong(6) == all.map(_._3.toLong).sum, s"$img sum_b")
      assert(st.getLong(7) ==
        (if (img.alpha) all.map(_._4.toLong).sum else 0L), s"$img sum_a")
    }
  }

  test("every single-byte corruption yields null, never wrong pixels") {
    // h >= 5 so all five filter types are present in the stream
    val bytes = MultimodalOps.pngFile(9, 7, alpha = false, pix(42))
    assert(MediaDecode.pngStats(bytes) != null)
    for (i <- bytes.indices) {
      val c = bytes.clone()
      c(i) = (c(i) ^ 0x40).toByte
      assert(MediaDecode.pngStats(c) == null,
        s"flip at byte $i decoded to a non-null row")
    }
  }

  test("truncation, noise, and unsupported shapes all null out") {
    val ok = MultimodalOps.pngFile(6, 5, alpha = true, pix(7))
    for (cut <- Seq(0, 7, 20, ok.length / 2, ok.length - 1))
      assert(MediaDecode.pngStats(ok.take(cut)) == null, s"cut=$cut")
    assert(MediaDecode.pngStats(null) == null)
    assert(MediaDecode.pngStats(Array.fill[Byte](128)(3)) == null)
    // grayscale (color type 0) is out of scope: rebuild IHDR with the
    // type byte patched and its CRC recomputed — must still null out
    val gray = ok.clone()
    gray(8 + 8 + 9) = 0 // IHDR data byte 9 = color type
    val crc = new java.util.zip.CRC32()
    crc.update(gray, 12, 4 + 13)
    val v = crc.getValue.toInt
    var j = 8 + 8 + 13
    gray(j) = (v >>> 24).toByte; gray(j + 1) = (v >>> 16).toByte
    gray(j + 2) = (v >>> 8).toByte; gray(j + 3) = v.toByte
    assert(MediaDecode.pngStats(gray) == null)
  }

  test("q161 matches the generator's closed form on a spot asset") {
    val df = SparkEntry.queries("q161_png_decode")(spark, "unused")
    // 80 of 120 assets decode (every third is noise)
    assert(df.count() == 80)
    val i = 13 // i % 3 == 1 → RGBA
    val r = df.filter(col("asset_id") === i).collect().head
    val (w, h) = (8 + i % 9, 6 + i % 7)
    val pixA = for (x <- 0 until w; y <- 0 until h)
      yield (i * 13 + x * 11 + y * 3) % 256
    val expA = math.rint(pixA.sum.toDouble / pixA.length * 1e6) / 1e6
    assert(r.getAs[Long]("channels") == 4L)
    assert(r.getAs[Long]("n_pixels") == w.toLong * h)
    assert(math.abs(r.getAs[Double]("mean_a") - expA) < 1e-9)
    // RGB assets carry a null mean_a
    val rgb = df.filter(col("asset_id") === 12).collect().head
    assert(rgb.getAs[Long]("channels") == 3L)
    assert(rgb.isNullAt(rgb.fieldIndex("mean_a")))
  }
}
