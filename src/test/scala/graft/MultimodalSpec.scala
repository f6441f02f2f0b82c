package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("synthesized media has the declared schema and binary payloads") {
    val m = Multimodal.synthesizeMedia(spark, sfDir)
    assert(m.schema.fieldNames.toSeq ==
      Seq("doc_id", "media", "format", "width", "height", "n_frames"))
    val row = m.orderBy("doc_id").first()
    assert(row.getAs[Array[Byte]]("media").length == 128) // 2 md5 × 4 reps
    assert(Set("jpeg", "png", "webm").contains(row.getAs[String]("format")))
  }

  test("decodeFeatures is deterministic and preserves row count") {
    val m = Multimodal.synthesizeMedia(spark, sfDir)
    val f1 = Multimodal.decodeFeatures(m).orderBy("doc_id").collect()
    val f2 = Multimodal.decodeFeatures(m).orderBy("doc_id").collect()
    assert(f1.length == m.count())
    def feats(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[Float]] =
      rows.map(_.getAs[scala.collection.Seq[Float]]("features").toSeq).toSeq
    assert(feats(f1) == feats(f2))
    // feature vectors are 8-dim normalized histograms
    val feats0 = feats(f1).head
    assert(feats0.length == 8)
    assert(math.abs(feats0.sum - 1.0f) < 1e-3)
  }

  test("frameSample yields ceil(n_frames/stride) frames per doc") {
    val m = Multimodal.synthesizeMedia(spark, sfDir)
    val sampled = Multimodal.frameSample(m, stride = 4)
      .groupBy("doc_id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = m.select("doc_id", "n_frames").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1) + 3) / 4).toLong).toMap
    assert(sampled == expected)
  }

  test("m01/m02 query entries run and return rows") {
    assert(Multimodal.m01_media_features(spark, sfDir).count() == 3)
    assert(Multimodal.m02_frame_sample(spark, sfDir).count() == 500)
  }

  /** PNG bytes of an 8×1 gradient where pixel i is gray i·32+16 —
    * every pixel's Rec.601 luma equals its gray value (R=G=B), so the
    * 8-bin histogram is exactly uniform. */
  private def gradientPng(): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(8, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (i <- 0 until 8) {
      val v = i * 32 + 16
      img.setRGB(i, 0, (v << 16) | (v << 8) | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  test("codec really decodes PNG/BMP pixels via javax.imageio") {
    val codec = operators.MediaCodec.open()
    // 8×1 gray gradient: one pixel per luma bin → uniform histogram
    val png = codec.decode(gradientPng(), -1, -1)
    assert(png.width == 8 && png.height == 1,
      "dimensions must come from the decoded image, not the metadata args")
    assert(png.features.toSeq == Seq.fill(8)(0.125f))
    // 2×1 BMP, black + white: luma 0 → bin 0, luma 255 → bin 7
    val bimg = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    bimg.setRGB(0, 0, 0x000000); bimg.setRGB(1, 0, 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bimg, "bmp", bos)
    val bmp = codec.decode(bos.toByteArray, -1, -1)
    assert(bmp.width == 2 && bmp.height == 1)
    assert(bmp.features.toSeq == Seq(0.5f, 0f, 0f, 0f, 0f, 0f, 0f, 0.5f))
    // undecodable bytes fall back to the stub byte histogram with the
    // caller-provided dimensions
    val junk = Array.tabulate[Byte](64)(i => (i * 4).toByte)
    val fb = codec.decode(junk, 33, 44)
    assert(fb.width == 33 && fb.height == 44)
    assert(fb.features.toSeq == codec.decodeStub(junk, 33, 44).features.toSeq)
  }

  test("decodeFeatures reports real dimensions for decodable payloads") {
    import spark.implicits._
    val rows = Seq(
      Multimodal.MediaRow(1L, gradientPng(), "png", 999, 999, 1),
      Multimodal.MediaRow(2L, Array.tabulate[Byte](32)(_.toByte), "webm", 30, 20, 2))
    val out = Multimodal.decodeFeatures(rows.toDF())
      .orderBy("doc_id").collect()
    // real decode overrides the (wrong) metadata dims; fallback keeps them
    assert(out(0).getAs[Int]("decoded_width") == 8 &&
      out(0).getAs[Int]("decoded_height") == 1)
    assert(out(0).getAs[scala.collection.Seq[Float]]("features").toSeq ==
      Seq.fill(8)(0.125f))
    assert(out(1).getAs[Int]("decoded_width") == 30 &&
      out(1).getAs[Int]("decoded_height") == 20)
  }

  test("aHash64: container-invariant on real images, content-derived fallback") {
    val codec = operators.MediaCodec.open()
    def img64(f: (Int, Int) => Int): java.awt.image.BufferedImage = {
      val im = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) im.setRGB(x, y, f(x, y))
      im
    }
    def enc(im: java.awt.image.BufferedImage, fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, fmt, bos); bos.toByteArray
    }
    def gray(v: Int) = (v << 16) | (v << 8) | v
    val grad = img64((x, _) => gray(x * 4))
    // the SAME pixels in two containers must collide exactly — that
    // is the point of a perceptual hash vs a byte hash
    val hPng = codec.aHash64(enc(grad, "png"))
    val hBmp = codec.aHash64(enc(grad, "bmp"))
    assert(hPng == hBmp)
    // a visually different image (inverted gradient) must not collide
    val inv = img64((x, _) => gray(255 - x * 4))
    assert(codec.aHash64(enc(inv, "png")) != hPng)
    // a one-pixel edit moves the hash at most a few hamming bits
    val edited = img64((x, _) => gray(x * 4))
    edited.setRGB(0, 0, 0xFFFFFF)
    val hEdit = codec.aHash64(enc(edited, "png"))
    assert(java.lang.Long.bitCount(hPng ^ hEdit) <= 8)
    // undecodable payloads: identical bytes collide, different differ
    val junkA = Array.tabulate[Byte](50)(i => (i * 7).toByte)
    val junkB = Array.tabulate[Byte](50)(i => (i * 7 + 1).toByte)
    assert(codec.aHash64(junkA) == codec.aHash64(junkA.clone()))
    assert(codec.aHash64(junkA) != codec.aHash64(junkB))
  }

  test("m05 groups every synthetic payload by its content hash") {
    val rows = Multimodal.m05_phash_groups(spark, sfDir).collect()
    // all 500 synthetic payloads are distinct (md5(text)||md5(doc_id))
    // → one group per doc; the query shape still proves the hash +
    // group plumbing (real collisions are spec'd above)
    assert(rows.length == 500)
    assert(rows.forall(_.getAs[Long]("n_media") == 1L))
  }

  test("m06 content-fp groups agree with d01's exact-text groups") {
    // the media fingerprint is the payload's content half, which the
    // synthesis derives from the text alone — so m06's dedup groups
    // must be EXACTLY d01's (same hubs, same member counts), proving
    // the media grouping core runs d01's semantics over the media
    // column rather than accidentally keying on anything doc-specific
    val sfDir = "/root/testdata/sf0.001"
    val m06 = operators.Multimodal.m06_media_dedup_groups(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_media")).toMap
    val d01 = operators.Dedup.d01_dedup_exact(spark, sfDir)
      .collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies")).toMap
    CacheScope.releaseAll()
    assert(m06.nonEmpty && m06 == d01,
      s"media groups diverged from exact-text truth (m06=${m06.size} " +
        s"groups, d01=${d01.size})")
  }

  test("m07 flags shared frames across videos; other formats excluded") {
    import spark.implicits._
    // webm ids (doc_id % 3 == 2) with planted duplicate content:
    //   2 (3 frames, samples {0}), 8 (9, {0,4,8}), 14 (15, {0,4,8,12})
    //   share TEXT — frames collide on every commonly-sampled index;
    //   5 and 20 are unique; 0/1 are jpeg/png copies of the dup text
    //   and must not enter at all
    val docs = Seq(
      (0L, "dup text"), (1L, "dup text"), (2L, "dup text"),
      (5L, "solo five"), (8L, "dup text"), (14L, "dup text"),
      (20L, "solo twenty")).toDF("doc_id", "text")
    val got = operators.Multimodal.videoFrameDedup(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    CacheScope.releaseAll()
    assert(got.keySet == Set(2L, 5L, 8L, 14L, 20L),
      "non-webm rows leaked into the frame audit")
    // doc 2 samples only frame 0, shared by 8 and 14 → fully duplicated
    assert(got(2L) == ((1L, 1L, 1.0, true)))
    // doc 8's {0,4,8} all collide with 14's samples → fully duplicated
    assert(got(8L) == ((3L, 3L, 1.0, true)))
    // doc 14's {0,4,8} collide but frame 12 exists in no other video
    assert(got(14L) == ((4L, 3L, 0.75, true)))
    // unique-content videos carry zero duplicate frames
    assert(got(5L) == ((2L, 0L, 0.0, false)))
    assert(got(20L) == ((2L, 0L, 0.0, false)))
  }
}
