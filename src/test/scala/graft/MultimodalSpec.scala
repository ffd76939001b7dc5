package graft

import org.apache.spark.sql.functions._

import graft.multimodal.MultimodalOps

class MultimodalSpec extends SparkTestBase {

  test("extractFeatures produces deterministic fixed-dim features") {
    val assets = MultimodalOps.syntheticAssets(spark, 30)
    val f1 = MultimodalOps.extractFeatures(assets, dim = 16,
      partitions = 4)
    assert(f1.schema == MultimodalOps.featureSchema)
    assert(f1.count() == 30)
    val row = f1.filter(col("asset_id") === 5).collect().head
    assert(row.getSeq[Float](3).length == 16)
    assert(row.getLong(2) > 0)
    // determinism across runs and partitionings
    val f2 = MultimodalOps.extractFeatures(assets, dim = 16,
      partitions = 2)
    val v1 = f1.orderBy("asset_id").collect().map(_.getSeq[Float](3))
    val v2 = f2.orderBy("asset_id").collect().map(_.getSeq[Float](3))
    assert(v1.zip(v2).forall { case (a, b) => a == b })
  }

  test("null media bytes yield zero-feature row, not a crash") {
    import spark.implicits._
    val assets = Seq((1L, "image", null: Array[Byte], None: Option[String],
      None: Option[Int], None: Option[Int], None: Option[Long]))
      .toDF("asset_id", "modality", "media_bytes", "mime_type", "width",
        "height", "duration_ms")
    val f = MultimodalOps.extractFeatures(assets, dim = 8).collect().head
    assert(f.getLong(2) == 0L)
    assert(f.getSeq[Float](3).forall(_ == 0.0f))
  }

  test("features derive from REAL decoded content for all containers") {
    import spark.implicits._
    // constant-color image / constant-amplitude audio across all four
    // real container decoders: the decoded-flag and per-channel means
    // in the feature head are closed-form
    val bmp = MultimodalOps.bmpFile(10, 8, (_, _) => (200, 100, 50))
    val png = MultimodalOps.pngFile(10, 8, alpha = false,
      (_, _) => (200, 100, 50, 0))
    val jpg = {
      val img = new java.awt.image.BufferedImage(16, 16,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16)
        img.setRGB(x, y, (200 << 16) | (100 << 8) | 50)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", out)
      out.toByteArray
    }
    val wav = MultimodalOps.wavFile(16000,
      Array.fill[Short](100)(8192))
    val noise = Array.tabulate[Byte](80)(i => (i * 37 % 251).toByte)
    val assets = Seq(
      (1L, "image", bmp), (2L, "image", png), (3L, "image", jpg),
      (4L, "audio", wav), (5L, "video", noise))
      .toDF("asset_id", "modality", "media_bytes")
    val f = MultimodalOps.extractFeatures(assets, dim = 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](3)).toMap
    // decoded flag: containers 1, noise 0
    for (id <- 1L to 4L) assert(f(id)(0) == 1.0f, s"asset $id")
    assert(f(5L)(0) == 0.0f)
    // image feature head = [1, w/4096, h/4096, channels, means/255]
    for (id <- Seq(1L, 2L)) {
      assert(f(id)(3) == 3.0f)
      assert(math.abs(f(id)(4) - 200 / 255.0f) < 1e-6, s"$id mean_r")
      assert(math.abs(f(id)(5) - 100 / 255.0f) < 1e-6, s"$id mean_g")
      assert(math.abs(f(id)(6) - 50 / 255.0f) < 1e-6, s"$id mean_b")
    }
    // JPEG is lossy: means within a couple of code values
    assert(math.abs(f(3L)(4) - 200 / 255.0f) < 2.5f / 255,
      "jpeg mean_r")
    assert(math.abs(f(3L)(6) - 50 / 255.0f) < 2.5f / 255, "jpeg mean_b")
    // audio: rate, channels, mean amplitude 8192/32768 = 0.25
    assert(f(4L)(1) == 16000 / 48000.0f)
    assert(f(4L)(2) == 1.0f)
    assert(math.abs(f(4L)(4) - 0.25f) < 1e-6)
    assert(math.abs(f(4L)(5) - 0.25f) < 1e-6) // RMS of constant
  }

  test("MediaHeader parses PNG/GIF/BMP/JPEG/WAV headers exactly") {
    import graft.multimodal.MediaHeader
    assert(MediaHeader.parse(MultimodalOps.pngHeader(800, 600)) ==
      ("png", 800, 600, -1))
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Byte](0x40, 0x01, 0xf0.toByte, 0x00) // 320 × 240 LE
    assert(MediaHeader.parse(gif) == ("gif", 320, 240, -1))
    val bmp = new Array[Byte](26)
    bmp(0) = 'B'; bmp(1) = 'M'
    bmp(18) = 0x64; bmp(22) = 0x32 // 100 × 50 LE
    assert(MediaHeader.parse(bmp) == ("bmp", 100, 50, -1))
    // JPEG: SOI, APP0 (len 4), SOF0 with height 10 width 20
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte,
      0xff.toByte, 0xe0.toByte, 0, 4, 0, 0, // APP0, len 4
      0xff.toByte, 0xc0.toByte, 0, 11, 8, 0, 10, 0, 20, 1, 0)
    assert(MediaHeader.parse(jpeg) == ("jpeg", 20, 10, -1))
    assert(MediaHeader.parse(MultimodalOps.wavHeader(44100)) ==
      ("wav", -1, -1, 44100))
    assert(MediaHeader.parse(Array[Byte](1, 2, 3, 4)) ==
      ((null, -1, -1, -1)))
    assert(MediaHeader.parse(null) == ((null, -1, -1, -1)))
  }

  test("annotateAssets sniffs real formats from synthetic bytes") {
    val ann = MultimodalOps.annotateAssets(
      MultimodalOps.syntheticAssets(spark, 9))
    val byId = ann.select("asset_id", "modality", "sniffed_format",
        "sniffed_width", "sniffed_sample_rate", "width")
      .collect().map(r => r.getLong(0) -> r).toMap
    // images (0,3,6): png with dims matching the declared metadata
    Seq(0L, 3L, 6L).foreach { id =>
      assert(byId(id).getAs[String]("sniffed_format") == "png")
      assert(byId(id).getAs[Int]("sniffed_width") ==
        byId(id).getAs[Int]("width"))
    }
    // audio (1,4,7): wav with a sample rate
    Seq(1L, 4L, 7L).foreach { id =>
      assert(byId(id).getAs[String]("sniffed_format") == "wav")
      assert(byId(id).getAs[Int]("sniffed_sample_rate") >= 8000)
    }
    // video (2,5,8): headerless noise → no sniffed format
    Seq(2L, 5L, 8L).foreach { id =>
      assert(byId(id).getAs[String]("sniffed_format") == null)
    }
  }

  test("sampleFramePlan emits one row per sampled frame, video only") {
    val assets = MultimodalOps.syntheticAssets(spark, 9)
    val plan = MultimodalOps.sampleFramePlan(assets, everyMs = 1000L)
    // videos are ids 2,5,8 with duration 5000+id → 6 frames each
    assert(plan.select("asset_id").distinct().count() == 3)
    val frames = plan.filter(col("asset_id") === 2)
      .orderBy("frame_ms").collect().map(_.getLong(1)).toSeq
    assert(frames == Seq(0L, 1000L, 2000L, 3000L, 4000L, 5000L))
  }

  // ---- REAL pixel/sample decode --------------------------------------

  import graft.multimodal.MediaDecode

  private def bmpRow(bytes: Array[Byte]) = {
    import spark.implicits._
    Seq(Tuple1(bytes)).toDF("b")
      .select(MediaDecode.bmpColumn(col("b")).as("st"))
      .collect().head
  }

  private def wavRow(bytes: Array[Byte]) = {
    import spark.implicits._
    Seq(Tuple1(bytes)).toDF("b")
      .select(MediaDecode.wavColumn(col("b")).as("st"))
      .collect().head
  }

  test("BMP decode matches hand-built pixels through row padding") {
    // 2x2, w*3=6 → each row padded by 2 bytes; known channel values
    val px = Map((0, 0) -> (10, 20, 30), (1, 0) -> (40, 50, 60),
      (0, 1) -> (70, 80, 90), (1, 1) -> (200, 250, 255))
    val bytes = MultimodalOps.bmpFile(2, 2, (x, y) => px((x, y)))
    val st = bmpRow(bytes).getStruct(0)
    assert(st.getInt(0) == 2 && st.getInt(1) == 2)
    assert(st.getLong(2) == 4L)
    assert(st.getLong(3) == 10L + 40 + 70 + 200) // sum_r
    assert(st.getLong(4) == 20L + 50 + 80 + 250) // sum_g
    assert(st.getLong(5) == 30L + 60 + 90 + 255) // sum_b
  }

  test("BMP decode handles top-down (negative height) layout") {
    val bytes = MultimodalOps.bmpFile(3, 2, (x, y) => (x, y, x + y))
    // flip to top-down: height = -2 at offset 22 (LE)
    val neg = bytes.clone()
    val bb = java.nio.ByteBuffer.wrap(neg)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -2)
    val st = bmpRow(neg).getStruct(0)
    // aggregates are pixel-order-free: identical sums either way
    assert(st.getInt(1) == 2 && st.getLong(2) == 6L)
    assert(st.getLong(3) == 0L + 1 + 2 + 0 + 1 + 2)   // sum_r = Σx
    assert(st.getLong(4) == 0L + 0 + 0 + 1 + 1 + 1)   // sum_g = Σy
  }

  test("BMP decode nulls out unsupported or truncated containers") {
    val good = MultimodalOps.bmpFile(2, 2, (_, _) => (1, 2, 3))
    // 8-bpp: unsupported
    val bpp8 = good.clone()
    java.nio.ByteBuffer.wrap(bpp8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putShort(28, 8)
    assert(bmpRow(bpp8).isNullAt(0))
    // compressed (BI_RLE8)
    val comp = good.clone()
    java.nio.ByteBuffer.wrap(comp)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(30, 1)
    assert(bmpRow(comp).isNullAt(0))
    // truncated pixel data
    assert(bmpRow(good.dropRight(3)).isNullAt(0))
    // not a BMP at all
    assert(bmpRow(Array[Byte](1, 2, 3)).isNullAt(0))
  }

  test("crafted overflow headers null out instead of crashing the task") {
    // BMP with width near Int.MaxValue: naive Int rowSize wraps
    // negative, defeats the bounds guard, and indexes out of bounds
    val hugeW = MultimodalOps.bmpFile(2, 2, (_, _) => (1, 2, 3)).clone()
    java.nio.ByteBuffer.wrap(hugeW)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(18, 0x40000000)
    assert(bmpRow(hugeW).isNullAt(0))
    // height = Int.MinValue: math.abs stays negative
    val minH = MultimodalOps.bmpFile(2, 2, (_, _) => (1, 2, 3)).clone()
    java.nio.ByteBuffer.wrap(minH)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(22, Int.MinValue)
    assert(bmpRow(minH).isNullAt(0))
    // width AND height both near Int.MaxValue: rowSizeL*h (~1.4e19)
    // overflows even Long and wraps negative — a multiply-form bounds
    // guard passes and the pixel loop crashes; the division-form
    // guard must null out instead
    val hugeWH = MultimodalOps.bmpFile(2, 2, (_, _) => (1, 2, 3)).clone()
    java.nio.ByteBuffer.wrap(hugeWH)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(18, Int.MaxValue - 2).putInt(22, Int.MaxValue - 2)
    assert(bmpRow(hugeWH).isNullAt(0))
    // WAV whose first chunk declares a near-Int.MaxValue size: naive
    // Int walk wraps pos negative and reads a negative array index
    val hugeChunk = MultimodalOps.wavFile(8000, Array[Short](1)).clone()
    java.nio.ByteBuffer.wrap(hugeChunk)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(16, 0x7ffffff8)
    assert(wavRow(hugeChunk).isNullAt(0))
  }

  test("WAV decode matches hand-computed PCM stats incl. negatives") {
    val samples = Array[Short](100, -200, 32767, -32768, 0)
    val bytes = MultimodalOps.wavFile(44100, samples)
    val st = wavRow(bytes).getStruct(0)
    assert(st.getInt(0) == 44100 && st.getInt(1) == 1)
    assert(st.getLong(2) == 5L)
    assert(st.getLong(3) == 100L - 200 + 32767 - 32768 + 0)
    assert(st.getLong(4) == 100L * 100 + 200L * 200 +
      32767L * 32767 + 32768L * 32768)
    assert(st.getInt(5) == 32768)
  }

  test("WAV decode walks past an inserted chunk and rejects non-PCM") {
    // splice a LIST chunk between fmt and data: the walk must skip it
    val base = MultimodalOps.wavFile(8000, Array[Short](5, -5))
    val fmtEnd = 12 + 8 + 16
    val extra = java.nio.ByteBuffer.allocate(8 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("LIST".getBytes("US-ASCII")).putInt(4)
      .put("INFO".getBytes("US-ASCII")).array()
    val spliced = base.take(fmtEnd) ++ extra ++ base.drop(fmtEnd)
    val st = wavRow(spliced).getStruct(0)
    assert(st.getLong(2) == 2L && st.getInt(5) == 5)
    // IEEE-float format tag (3): not PCM → null
    val f32 = base.clone()
    java.nio.ByteBuffer.wrap(f32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putShort(20, 3)
    assert(wavRow(f32).isNullAt(0))
    // truncated data chunk → null
    assert(wavRow(base.dropRight(1)).isNullAt(0))
  }

  test("BMP encode→decode roundtrip law over random dims and pixels") {
    // property: for arbitrary (w, h, pixel function), decoding the
    // encoded file reproduces the direct channel sums — pins padding
    // arithmetic at every width mod 4 and both dimension parities
    val rnd = new scala.util.Random(7)
    (1 to 25).foreach { _ =>
      val w = 1 + rnd.nextInt(9)
      val h = 1 + rnd.nextInt(6)
      val px = Array.fill(w, h)(
        (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256)))
      val st = bmpRow(MultimodalOps.bmpFile(w, h,
        (x, y) => px(x)(y))).getStruct(0)
      val flat = px.flatten
      assert(st.getInt(0) == w && st.getInt(1) == h)
      assert(st.getLong(2) == w.toLong * h)
      assert(st.getLong(3) == flat.map(_._1.toLong).sum, s"w=$w h=$h")
      assert(st.getLong(4) == flat.map(_._2.toLong).sum)
      assert(st.getLong(5) == flat.map(_._3.toLong).sum)
    }
  }

  test("WAV encode→decode roundtrip law over random sample runs") {
    val rnd = new scala.util.Random(11)
    (1 to 25).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      val samples = Array.fill(n)(
        (rnd.nextInt(65536) - 32768).toShort)
      val rate = 4000 + rnd.nextInt(44100)
      val st = wavRow(MultimodalOps.wavFile(rate, samples)).getStruct(0)
      assert(st.getInt(0) == rate && st.getLong(2) == n.toLong)
      assert(st.getLong(3) == samples.map(_.toLong).sum)
      assert(st.getLong(4) ==
        samples.map(s => s.toLong * s.toLong).sum)
      assert(st.getInt(5) ==
        samples.map(s => math.abs(s.toInt)).max)
    }
  }

  test("decode queries agree with the generator's closed forms") {
    // spot-check one BMP asset end-to-end: decoded means equal the
    // formula means (the full cross-check is the q127/q128 oracle)
    val df = SparkEntry.queries("q127_bmp_decode")(spark, "unused")
    val r = df.filter(col("asset_id") === 12).collect().head
    val (w, h) = (8 + 12 % 9, 6 + 12 % 7)
    val pix = for (x <- 0 until w; y <- 0 until h)
      yield (12 * 7 + x * 3 + y * 5) % 256
    val expected = math.rint(
      pix.sum.toDouble / pix.length * 1e6) / 1e6
    assert(r.getAs[Long]("n_pixels") == w.toLong * h)
    assert(math.abs(r.getAs[Double]("mean_r") - expected) < 1e-9)
  }

  test("image ANN IVF path holds a recall floor vs brute force") {
    // q196 (decode → resize → quantized tensor → IVF) against the
    // exhaustive cosine baseline over the SAME vectors: with 8
    // first-by-id cells and nprobe=2 the probed fraction is ~1/4 of
    // the corpus, yet recall@5 must stay high — pins the multimodal
    // vector plumbing end-to-end, not just "100 rows came back"
    import org.apache.spark.sql.functions._
    val vecs = graft.multimodal.MultimodalOps
      .imageTensorVectors(spark, 120, 4, 4)
    val queries = vecs.filter(col("asset_id") < 30)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("query_id").cast("long"),
        col("neighbor_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(graft.operators.SimilarityOps.bruteForceTopK(
      vecs, queries, "asset_id", "vec", "asset_id", k = 5))
    val ivf = pairs(graft.operators.SimilarityOps.ivfTopK(
      vecs, queries, "asset_id", "vec", "asset_id", k = 5,
      cells = 8, nprobe = 2, trainIters = 0))
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.70, f"image ANN recall@5 $recall%.3f < 0.70")
  }

  test("undecodable assets drop from the tensor table, never crash") {
    // every third synthetic asset is noise; the vector table must hold
    // exactly the decodable PNGs with 4x4x3 = 48-dim quantized vectors
    val vecs = graft.multimodal.MultimodalOps
      .imageTensorVectors(spark, 120, 4, 4)
    val rows = vecs.collect()
    assert(rows.length === 80)
    assert(rows.forall(_.getSeq[Double](1).length === 48))
    assert(rows.forall(r => !r.getSeq[Double](1).exists(_.isNaN)))
  }
}
