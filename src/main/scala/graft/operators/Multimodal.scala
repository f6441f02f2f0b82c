package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing for a training-data pipeline: media as
  * opaque BINARY columns with typed metadata, decode / feature-extract
  * / resize / frame-sample as per-partition batch transforms.
  *
  * Image decode is REAL for the formats the JDK ships codecs for
  * (PNG/BMP/GIF/JPEG via `javax.imageio` — see [[MediaCodec]]);
  * payloads no JDK codec accepts (video containers, synthetic test
  * bytes) fall back to the deterministic [[MediaCodec.Codec.decodeStub]]
  * so the Spark-side contract — schema, partitioning, batch shape,
  * feature vector layout — holds for every record.
  *
  * Scale notes: media rows are wide (MBs at production size), so every
  * transform here is `mapPartitions`-shaped (one codec init per
  * partition, streamed rows, no per-row driver round-trips), feature
  * outputs are narrow, and metadata-only plans never touch the binary
  * column thanks to parquet column pruning.
  */
object Multimodal {

  type Q = (SparkSession, String) => DataFrame

  /** Deterministic fake media corpus derived from the documents table
    * (stand-in for media read from an object store): bytes =
    * repeated md5 of the text, dimensions from doc_id.
    */
  def synthesizeMedia(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select(
      col("doc_id"),
      MediaCodec.fakeBytesCol(col("text"), col("doc_id")).as("media"),
      element_at(array(lit("jpeg"), lit("png"), lit("webm")),
        (col("doc_id") % 3 + 1).cast(IntegerType)).as("format"),
      (col("doc_id") % 640 + 64).cast(IntegerType).as("width"),
      (col("doc_id") % 480 + 48).cast(IntegerType).as("height"),
      (col("doc_id") % 16 + 1).cast(IntegerType).as("n_frames"))
  }

  final case class MediaRow(doc_id: Long, media: Array[Byte], format: String,
      width: Int, height: Int, n_frames: Int)
  final case class MediaFeatures(doc_id: Long, format: String,
      decoded_width: Int, decoded_height: Int, features: Array[Float])

  /** Decode + feature-extract: one codec per partition, rows streamed
    * through it (the mapPartitions batch shape a real decoder needs).
    */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      val codec = MediaCodec.open() // once per partition, not per row
      rows.map { r =>
        val d = codec.decode(r.media, r.width, r.height)
        MediaFeatures(r.doc_id, r.format, d.width, d.height, d.features)
      }
    }.toDF()
  }

  /** Frame sampling: split the binary into n_frames slices and explode
    * one row per sampled frame (every `stride`-th frame). */
  def frameSample(media: DataFrame, stride: Int = 4): DataFrame = {
    val frameIdx = sequence(lit(0), col("n_frames") - 1)
    media
      .select(col("doc_id"), col("media"), col("n_frames"),
        explode(filter(frameIdx, i => i % stride === 0)).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        MediaCodec.frameSliceCol(col("media"), col("frame_idx"),
          col("n_frames")).as("frame_bytes"))
  }

  /** End-to-end multimodal query: synthesize → decode → per-format
    * feature statistics. Deterministic but hash-based → rows-only
    * driver check (no SQL oracle). */
  def m01_media_features: Q = (s, d) =>
    decodeFeatures(synthesizeMedia(s, d))
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
        round(avg(element_at(col("features"), 1)), 4).as("avg_f0"),
        max(col("decoded_width")).as("max_width"))
      .orderBy(col("format"))

  /** Frame-sampling query: frames per doc after stride sampling. */
  def m02_frame_sample: Q = (s, d) =>
    frameSample(synthesizeMedia(s, d))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(octet_length(col("frame_bytes")).cast(LongType)).as("bytes_sampled"))
      .orderBy(col("doc_id"))

  /** Media-catalog statistics per format. On a real binaryFile-backed
    * table the size would come from the file-source `length` metadata
    * column and parquet pruning would skip the payload entirely; over
    * the synthesized corpus octet_length stands in for it. Every value
    * is exact integer arithmetic over the synthesis formulas, so —
    * uniquely among the m-ops — this one carries a DuckDB oracle
    * derived from the same `documents` source.
    */
  def m03_media_stats: Q = (s, d) =>
    synthesizeMedia(s, d)
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
        sum(octet_length(col("media")).cast(LongType)).as("total_bytes"),
        sum((col("width").cast(LongType)) * col("height")).as("sum_pixels"),
        max(col("n_frames")).as("max_frames"))
      .orderBy(col("format"))

  /** Training-sample assembly — the join that materializes one
    * multimodal training example per document: text metadata + media
    * metadata + embedding stats as a single flat row. Scale shape:
    * all three sides key on doc_id, so a bucketed/co-partitioned
    * layout makes both joins shuffle-free; the binary payload is
    * projected to its length before the join, so the wide column
    * never moves through a shuffle (and on a real parquet-backed
    * media table would never leave the scan).
    */
  def m04_sample_assembly: Q = (s, d) => {
    import graft.functions.VectorFunctions.dot_product
    val media = synthesizeMedia(s, d)
      .select(col("doc_id"), col("format"),
        octet_length(col("media")).as("media_bytes"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"),
        size(col("embedding")).as("emb_dim"),
        round(sqrt(dot_product(col("embedding"), col("embedding"))), 4)
          .as("emb_norm"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .join(media, Seq("doc_id"))
      .join(emb, Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** m05 — perceptual-hash media dedup groups: every media payload
    * gets a 64-bit average-hash ([[MediaCodec.Codec.aHash64]] — real
    * 8×8 block-luma aHash for decodable images, content-derived
    * FNV-1a for everything else), then payloads group by hash — the
    * image-dedup primitive (re-encoded copies of the same picture
    * collide; the synthetic corpus exercises the fallback path, and
    * MultimodalSpec proves the real-image path on generated PNG/BMP
    * fixtures). Map-only decode + one uniform-key shuffle; rows-only
    * (hash values are engine-specific).
    */
  def m05_phash_groups: Q = (s, d) =>
    phashes(synthesizeMedia(s, d))
      .groupBy(col("phash"))
      .agg(count(lit(1)).as("n_media"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("keep_id"))

  /** m06 — the ORACLE TWIN of [[m05_phash_groups]]' grouping core
    * (the d32/d21 trick: drive the same relational machinery with a
    * deterministic fingerprint so it hash-checks cross-engine, while
    * the hash-specific op stays rows-only). The fingerprint is read
    * off the MEDIA COLUMN — the first 16 payload bytes, which
    * [[synthesizeMedia]] derives from the text content alone — so two
    * uploads of the same content under different doc_ids collide
    * exactly like re-encoded copies collide under m05's aHash. Per
    * group: member count, hub (min doc_id — the copy a dedup would
    * keep), distinct encodings seen, and payload bytes reclaimable.
    * Same plan shape as m05: map-only fingerprint, one group shuffle.
    */
  def m06_media_dedup_groups: Q = (s, d) =>
    synthesizeMedia(s, d)
      .select(col("doc_id"), col("format"),
        lower(hex(substring(col("media"), 1, 16))).as("content_fp"),
        octet_length(col("media")).as("media_bytes"))
      .groupBy(col("content_fp"))
      .agg(count(lit(1)).as("n_media"),
        min(col("doc_id")).as("keep_id"),
        countDistinct(col("format")).as("n_formats"),
        sum(col("media_bytes").cast(LongType)).as("total_bytes"))
      .orderBy(col("keep_id"))

  /** (doc_id, phash) per media row — the perceptual-hash column other
    * operators build on (m05's groups, Dedup's d17 cross-signal
    * clusters). One codec per partition, map-only. */
  private[graft] def phashes(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      val codec = MediaCodec.open()
      rows.map(r => (r.doc_id, codec.aHash64(r.media)))
    }.toDF("doc_id", "phash")
  }

  val queries: Map[String, Q] = Map(
    "m01_media_features" -> m01_media_features,
    "m02_frame_sample" -> m02_frame_sample,
    "m03_media_stats" -> m03_media_stats,
    "m04_sample_assembly" -> m04_sample_assembly,
    "m05_phash_groups" -> m05_phash_groups,
    "m06_media_dedup_groups" -> m06_media_dedup_groups,
    "m07_video_frame_dedup" -> m07_video_frame_dedup,
  )

  /** Frame-sampling stride for [[m07_video_frame_dedup]] — matches
    * [[frameSample]]'s default (every 4th frame). */
  private[graft] val M07Stride = 4

  /** m07 — cross-video duplicate-FRAME audit: [[Dedup.d24_line_dedup]]'s
    * sub-document idea lifted to video. Each webm's sampled frames get
    * a content-derived fingerprint (md5 of the payload's content
    * digest + frame index — the m06 trick: the deterministic identity
    * a real pipeline would get from a frame perceptual hash, here
    * SQL-mirrorable), a frame shared by ≥ 2 distinct videos is a
    * duplicate, and each video reports its sampled/duplicate frame
    * counts and duplicate fraction (≥ 0.5 flags the video a near-dup
    * candidate — re-uploads and edited re-cuts share most frames).
    * Within one video every sampled index yields a distinct
    * fingerprint, so "count ≥ 2 rows" IS "≥ 2 distinct videos" with
    * no count-distinct expand.
    *
    * Scale shape: frames explode ≤ 16/stride rows per video (linear),
    * the duplicate set is one map-side-combinable count on uniform
    * 16-byte keys, and the flag joins back fp-keyed — no pair join
    * ever forms (a hot boilerplate frame in V videos costs V rows,
    * never V²), which is the whole point vs a naive frame×frame
    * similarity join.
    */
  def m07_video_frame_dedup: Q = (s, d) =>
    videoFrameDedup(Tables.documents(s, d))

  private[graft] def videoFrameDedup(docs: DataFrame): DataFrame = {
    // the webm slice of the synthetic corpus (synthesizeMedia's
    // format rule); content_fp = the payload's text-derived half,
    // fp independent of n_frames so re-cuts at other frame counts
    // still collide on shared sampled indices
    val vids = docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id"), md5(col("text")).as("content_fp"),
        (col("doc_id") % 16 + 1).cast(IntegerType).as("n_frames"))
    val frames = graft.CacheScope.persisted(vids
      .select(col("doc_id"), col("content_fp"),
        explode(filter(sequence(lit(0), col("n_frames") - 1),
          i => i % M07Stride === 0)).as("frame_idx"))
      .select(col("doc_id"),
        md5(concat(col("content_fp"), lit("#"),
          col("frame_idx").cast(StringType))).as("fp")))
    val dup = frames.groupBy(col("fp"))
      .agg(count(lit(1)).as("nv")).filter(col("nv") >= 2)
      .select(col("fp"), lit(1).as("__dup"))
    frames.join(dup, Seq("fp"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sampled"), count(col("__dup")).as("n_dup"))
      .withColumn("dup_frac", graft.Tables.rhalfup(
        col("n_dup").cast(DoubleType) / col("n_sampled"), 4))
      .withColumn("is_neardup", col("dup_frac") >= 0.5)
      .orderBy(col("doc_id"))
  }

  val oracles: Map[String, String] = Map(
    // mirrors videoFrameDedup: webm slice, sampled frame indices via
    // generate_series, fp = md5(md5(text) || '#' || idx); a frame in
    // >= 2 rows is >= 2 videos (within-video fps are distinct). NULL
    // text -> NULL fp on both sides; NULL never equi-joins, so
    // null-payload frames count as never-duplicated on both engines.
    "m07_video_frame_dedup" ->
      s"""WITH v AS (
        |  SELECT doc_id, md5(text) AS content_fp,
        |    CAST(doc_id % 16 + 1 AS INT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS MATERIALIZED (
        |  SELECT doc_id,
        |    md5(content_fp || '#' || CAST(u.i AS VARCHAR)) AS fp
        |  FROM v, unnest(generate_series(0, n_frames - 1)) u(i)
        |  WHERE u.i % ${M07Stride} = 0),
        |dup AS (SELECT fp FROM f GROUP BY fp HAVING COUNT(*) >= 2)
        |SELECT f.doc_id, COUNT(*) AS n_sampled,
        |  COUNT(d.fp) AS n_dup,
        |  floor(CAST(COUNT(d.fp) AS DOUBLE) / COUNT(*) * 1e4 + 0.5) / 1e4
        |    AS dup_frac,
        |  floor(CAST(COUNT(d.fp) AS DOUBLE) / COUNT(*) * 1e4 + 0.5) / 1e4
        |    >= 0.5 AS is_neardup
        |FROM f LEFT JOIN dup d USING (fp)
        |GROUP BY f.doc_id ORDER BY doc_id""".stripMargin,
    // mirrors synthesizeMedia's formulas: media = (md5||md5) ×4 = 128
    // bytes, format/width/height/n_frames are doc_id arithmetic
    "m03_media_stats" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    ['jpeg','png','webm'][CAST(doc_id % 3 + 1 AS INT)] AS format,
        |    doc_id % 640 + 64 AS width,
        |    doc_id % 480 + 48 AS height,
        |    doc_id % 16 + 1 AS n_frames
        |  FROM documents)
        |SELECT format, COUNT(*) AS n_media,
        |  CAST(COUNT(*) * 128 AS BIGINT) AS total_bytes,
        |  CAST(SUM(width * height) AS BIGINT) AS sum_pixels,
        |  CAST(MAX(n_frames) AS INT) AS max_frames
        |FROM m GROUP BY format ORDER BY format""".stripMargin,
    // media_bytes: synthesizeMedia emits (md5||md5)×4 = 128 bytes/row;
    // emb_norm: sqrt of the same sequential double dot both engines run
    "m04_sample_assembly" ->
      """WITH med AS (
        |  SELECT doc_id,
        |    ['jpeg','png','webm'][CAST(doc_id % 3 + 1 AS INT)] AS format,
        |    CAST(128 AS INT) AS media_bytes
        |  FROM documents),
        |emb AS (
        |  SELECT vec_id AS doc_id,
        |    CAST(len(embedding) AS INT) AS emb_dim,
        |    round(sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
        |      CAST(embedding AS DOUBLE[]))), 4) AS emb_norm
        |  FROM embeddings)
        |SELECT d.doc_id, d.lang, d.n_chars, med.format, med.media_bytes,
        |  emb.emb_dim, emb.emb_norm
        |FROM documents d JOIN med USING (doc_id) JOIN emb USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // the engine fingerprints substring(media, 1, 16) = the synthesized
    // payload's content half = unhex(md5(text)); the oracle mirrors it
    // as md5(text) directly. format is the doc_id % 3 synthesis formula.
    // total_bytes mirrors the engine's SUM(octet_length(media)): a null
    // text yields a NULL payload (md5(NULL) poisons the concat), so the
    // null-fp group must sum NULLs, not COUNT(*)×128.
    "m06_media_dedup_groups" ->
      """SELECT md5(text) AS content_fp,
        |  COUNT(*) AS n_media,
        |  MIN(doc_id) AS keep_id,
        |  CAST(COUNT(DISTINCT
        |    ['jpeg','png','webm'][CAST(doc_id % 3 + 1 AS INT)])
        |    AS BIGINT) AS n_formats,
        |  CAST(SUM(CASE WHEN text IS NULL THEN NULL ELSE 128 END)
        |    AS BIGINT) AS total_bytes
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY keep_id""".stripMargin,
  )
}

/** The codec seam. Image formats the JDK decodes natively (PNG, BMP,
  * GIF, JPEG via `javax.imageio` — pure JDK, no external library) go
  * through a REAL decode: pixels → 8-bin luminance histogram.
  * Undecodable payloads (video containers, synthetic test bytes,
  * truncated files) fall back to [[Codec.decodeStub]], a deterministic
  * byte-histogram fake, so the pipeline never throws on a bad record —
  * the per-partition batch shape and feature layout are identical on
  * both paths, and a production video codec drops in at the same seam.
  */
object MediaCodec {
  import org.apache.spark.sql.Column

  final case class Decoded(width: Int, height: Int, features: Array[Float])

  final class Codec private[MediaCodec] () {
    /** Real decode via `javax.imageio` when the bytes are a supported
      * image; stub fallback otherwise. Feature layout is an 8-bin
      * normalized histogram on both paths (luminance bins for real
      * pixels, raw-byte bins for the fallback), so downstream schema
      * and consumers are path-agnostic. */
    def decode(bytes: Array[Byte], width: Int, height: Int): Decoded = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case _: Throwable => null } // corrupt header/payload → fallback
      if (img == null) decodeStub(bytes, width, height)
      else {
        val w = img.getWidth
        val h = img.getHeight
        val hist = new Array[Float](8)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            // integer Rec.601 luma (0..255), binned into 8 buckets
            val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            hist(lum >> 5) += 1f
            x += 1
          }
          y += 1
        }
        val n = math.max(w * h, 1).toFloat
        var j = 0
        while (j < 8) { hist(j) /= n; j += 1 }
        Decoded(w, h, hist)
      }
    }

    /** 64-bit average-hash (aHash): decode the image, partition it
      * into an 8×8 grid of pixel blocks, bit g set iff block-mean
      * luma ≥ whole-image mean luma. The classic perceptual hash:
      * the same picture re-encoded (PNG↔BMP, quality changes)
      * decodes to the same pixels and collides exactly; small edits
      * land within a few hamming bits. The comparison is exact
      * integer cross-multiplication (sum_g·totalCnt ≥ totalSum·cnt_g)
      * — no float mean, so the hash is bit-stable everywhere.
      * Undecodable payloads fall back to FNV-1a over the raw bytes
      * (content-derived: identical payloads still collide). */
    def aHash64(bytes: Array[Byte]): Long = {
      val img =
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        catch { case _: Throwable => null }
      if (img == null) fnv1a64(bytes)
      else {
        val w = img.getWidth
        val h = img.getHeight
        val sum = new Array[Long](64)
        val cnt = new Array[Long](64)
        var y = 0
        while (y < h) {
          val gy = (y.toLong * 8 / h).toInt
          var x = 0
          while (x < w) {
            val gx = (x.toLong * 8 / w).toInt
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            val g = gy * 8 + gx
            sum(g) += lum
            cnt(g) += 1
            x += 1
          }
          y += 1
        }
        var tSum = 0L; var tCnt = 0L
        var g = 0
        while (g < 64) { tSum += sum(g); tCnt += cnt(g); g += 1 }
        var hash = 0L
        g = 0
        while (g < 64) {
          // mean_g >= overall mean, exactly; empty cells (image
          // narrower than 8px) contribute a 0 bit
          if (cnt(g) > 0 && sum(g) * tCnt >= tSum * cnt(g)) hash |= (1L << g)
          g += 1
        }
        hash
      }
    }

    private def fnv1a64(bytes: Array[Byte]): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < bytes.length) {
        h ^= (bytes(i) & 0xFFL)
        h *= 0x100000001b3L
        i += 1
      }
      h
    }

    /** Fallback for payloads `javax.imageio` cannot decode (video
      * containers need a real codec library; a JNI decoder would slot
      * in here). Derives an 8-dim byte histogram so downstream feature
      * plumbing is exercised with stable values. */
    def decodeStub(bytes: Array[Byte], width: Int, height: Int): Decoded = {
      val hist = new Array[Float](8)
      var i = 0
      while (i < bytes.length) { hist((bytes(i) & 0xFF) >> 5) += 1f; i += 1 }
      val n = math.max(bytes.length, 1).toFloat
      var j = 0
      while (j < 8) { hist(j) /= n; j += 1 }
      Decoded(width, height, hist)
    }
  }

  def open(): Codec = new Codec()

  /** Fake media bytes: md5(text) || md5(doc_id) repeated 4×. */
  def fakeBytesCol(text: Column, docId: Column): Column = {
    val one = concat(unhex(md5(text)), unhex(md5(docId.cast(StringType))))
    concat(one, one, one, one)
  }

  /** Byte-range slice standing in for a container-aware frame seek. */
  def frameSliceCol(media: Column, frameIdx: Column, nFrames: Column): Column = {
    val len = octet_length(media)
    val frameLen = greatest(floor(len / nFrames).cast(IntegerType), lit(1))
    substring(media, (frameIdx * frameLen + 1).cast(IntegerType), frameLen)
  }
}
