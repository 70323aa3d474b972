package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{ImageDedup, JpegBuild, Multimodal, VideoDedup}

/** Round-11 queries: the gates for the round-10 surface that shipped
  * ungated (r10 judge directive #1) — order-sensitive video near-dup
  * (q108) and the media quarantine-reason census (q109) — plus the
  * gate for the round-11 baseline-JPEG pixel path (directive #8),
  * q110. */
object Round11 extends QueryModule {

  /** q108: ORDER-SENSITIVE video near-dup vs the order-insensitive
    * temporal-mean hash, on one planted population — the two forms'
    * DISAGREEMENT is the gate. Three video populations per doc_id
    * (q106's frame patterns): the base 5-frame clip; the SAME frames
    * REVERSED (+1M — a re-ordered cut); +16 brightness in the original
    * order (+2M — every per-frame dHash is bit-identical, gradient
    * signs survive a uniform shift); plus opaque text (+3M — no video
    * path, skipped by both forms).
    *
    * Expected (arithmetic, no read-back):
    *  - form='mean' ([[VideoDedup.nearDupPairs]], temporal-mean dHash):
    *    all three in-trio pairs at hamming 0 — the per-pixel mean over
    *    frames is invariant to frame order and shifts uniformly under
    *    brightness, so a re-ordered cut COLLIDES (the catch-more
    *    blocking direction);
    *  - form='ordered' ([[VideoDedup.orderedNearDupPairs]], Jaccard
    *    over positional 2-grams of the per-frame dHash sequence): ONLY
    *    (id, id+2M) at jaccard 1.0 — the reversed cut shares no
    *    2-gram with the original (grams hash CONSECUTIVE frame hashes
    *    in order), while the same-order brightness copy has the
    *    identical gram set.
    * A frame-hash bug, a gram that ignores order, a Jaccard
    * denominator error, or an undecodable payload leaking into either
    * join changes the pair set and fails the gate.
    *
    * r13: evaluated through the FUSED [[VideoDedup.bothFormsPairs]]
    * (one decode per payload, identical output — parity pinned in
    * VideoDedupSpec); the separate operators keep their own oracles
    * at q106 (mean) and q113 (ordered). */
  def q108VideoOrdered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    // plant served from the per-(sf, code-version) parquet cache
    // (r12 directive #4): the GIF encodes run once, not per evaluation
    val media = MediaPlantCache.cached(s, dir, "q108_video_ordered") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = Round9.guardMediaId(id0)
        def frame(f: Int, shift: Int)(x: Int, y: Int): Int =
          Round9.videoCell(id, f, (y / 2) * 9 + x / 2) + shift
        def gif(frameIds: Seq[Int], shift: Int): Array[Byte] =
          VideoDedup.GifBuild.animatedGray(Round9.imgW, Round9.imgH,
            frameIds.map(f => frame(f, shift) _))
        Seq(
          Multimodal.MediaRecord(id, "video", gif(0 until 5, 0)),
          Multimodal.MediaRecord(id + 1000000L, "video",
            gif((0 until 5).reverse, 0)),
          Multimodal.MediaRecord(id + 2000000L, "video",
            gif(0 until 5, 16)),
          Multimodal.MediaRecord(id + 3000000L, "video",
            text.getBytes("UTF-8")))
      }
      .toDF("media_id", "kind", "payload")
    }
    // r13: the FUSED both-forms operator — one decode per payload for
    // the two hash forms (this was the worst BENCH_SF1 ratio once the
    // plant cache landed: the gate deliberately ran both separate
    // operators and decoded twice). The separate operators keep their
    // own oracles — q106 (mean) and q113 (ordered) — and
    // VideoDedupSpec pins fused/separate bit-parity.
    VideoDedup.bothFormsPairs(media, "media_id", "payload",
        maxHamming = 3, bands = 4, q = 2, minJaccard = 0.5)
      .orderBy("form", "id_a", "id_b")
  }

  /** q109: media quarantine-reason CENSUS — every payload variant of
    * [[MediaCensusFixtures]] per doc, spanning every reason class of
    * [[Multimodal.contentReason]] ([[graft.functions.MediaReason]],
    * exercised through its whole-stage-codegen path), grouped to
    * (variant, reason, cnt). The oracle is arithmetic and RENDERED
    * FROM THE SAME TABLE as the plant
    * ([[MediaCensusFixtures.Expected]]): each variant maps to exactly
    * ONE reason with cnt = count(documents) — any variant that decodes
    * to a different reason (or splits across reasons) produces a row
    * the oracle does not have. The per-variant rationale (which
    * features are in scope, which route "unsupported" vs "corrupt")
    * lives with the fixtures; r12 adds the predictor-2 LZW/Deflate and
    * FillOrder-2 TIFF rows the r11 decoder routed out. */
  def q109MediaReasonCensus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    val media = MediaPlantCache.cached(s, dir, "q109_media_reason_census") {
      docs.select(col("doc_id"))
        .as[Long]
        .flatMap(id0 =>
          MediaCensusFixtures.variants(Round9.guardMediaId(id0)))
        .toDF("media_id", "variant", "payload")
    }
    media
      .select(col("variant"),
        Multimodal.contentReason(col("payload")).as("reason"))
      .groupBy("variant", "reason")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("variant", "reason")
  }

  /** q110: baseline-JPEG content near-dup — the r11 pixel path
    * ([[graft.operators.JpegPixels]]) feeding the same dHash +
    * Hamming-band machinery as q102, on a plant built for PROVABLE
    * lossy-codec exactness: 72×64 images whose value is constant
    * within each 8×8 JPEG block (the 9×8 hash grid = the block grid),
    * encoded with [[JpegBuild]]'s all-ones quantization table. A
    * constant block has only a DC coefficient — an exact integer under
    * the spec FDCT — so encode→decode reproduces every pixel
    * bit-exactly (JpegPixelsSpec pins this for all 256 values) and
    * the cross-format pairs below hold at Hamming 0 EXACTLY, not
    * approximately. Populations per doc_id: the BMP rendering; the
    * JPEG of the same pixels (+1M); the JPEG of +16 brightness (+2M —
    * DC-only change, dHash compares adjacent cells so the shift
    * cancels); opaque text (+3M, decodes nowhere, pairs never); and
    * the PROGRESSIVE encoding of the same pixels (+4M — two scans,
    * DC then AC band; same quantized coefficients, so the exactness
    * argument carries over unchanged and the progressive decode path
    * must land on the identical hash).
    * Expected pairs: the six in-quartet pairs per doc at hamming 0 —
    * any decoder drift (quantization, IDCT rounding, block placement,
    * EOBRUN bookkeeping, luma crop) flips a gradient sign somewhere
    * across the ~600-doc × 72-cell population and breaks the
    * arithmetic oracle. */
  def q110JpegNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    val media = MediaPlantCache.cached(s, dir, "q110_jpeg_neardup") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = Round9.guardMediaId(id0)
        def px(shift: Int)(x: Int, y: Int): Int =
          Round9.cellValue(id, (y / 8) * 9 + x / 8) + shift
        Seq(
          Multimodal.MediaRecord(id, "image",
            ImageDedup.ImageBuild.bmp24Gray(72, 64)(px(0))),
          Multimodal.MediaRecord(id + 1000000L, "image",
            JpegBuild.gray(72, 64)(px(0))),
          Multimodal.MediaRecord(id + 2000000L, "image",
            JpegBuild.gray(72, 64)(px(16))),
          Multimodal.MediaRecord(id + 3000000L, "image",
            text.getBytes("UTF-8")),
          Multimodal.MediaRecord(id + 4000000L, "image",
            JpegBuild.grayProgressive(72, 64)(px(0))))
      }
      .toDF("media_id", "kind", "payload")
    }
    ImageDedup.nearDupPairs(media, "media_id", "payload",
        maxHamming = 3, bands = 4)
      .orderBy("id_a", "id_b")
  }

  /** q111: CROSS-CONTAINER video near-dup — the same clip rendered as
    * an animated GIF and as MJPEG-AVI ([[graft.operators.MotionJpeg]],
    * r11) must fingerprint identically under BOTH hash forms. The
    * plant reuses q110's provable-exactness discipline: 72×64 frames
    * constant within each 8×8 block, encoded with the all-ones quant
    * table, so the JPEG frames decode bit-exactly to the GIF's gray
    * values and the oracle is arithmetic, not tolerance-based.
    * Populations per doc_id: the 5-frame GIF (base); the MJPEG-AVI of
    * the same frames (+1M, custom per-frame DHT); the SAME AVI with
    * DHT-LESS standard-table frames (+2M — the de-facto MJPEG wire
    * shape, exercising the Annex-K implied-table path end to end);
    * opaque text (+3M); and the AVI with the frame ORDER REVERSED
    * (+4M).
    * Expected (arithmetic):
    *  - form='mean': all six pairs among {0,+1M,+2M,+4M} at hamming 0
    *    (the temporal mean is frame-order-insensitive);
    *  - form='ordered': exactly the three pairs among {0,+1M,+2M} at
    *    jaccard 1 — the reversed cut shares no positional 2-gram.
    * Any drift between the GIF compositor and the per-frame JPEG
    * decode (or a wrong Annex-K constant) breaks a pair somewhere
    * across the ~500-doc × 72-cell population. */
  def q111CrossContainerVideo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.MotionJpeg
    val docs = Tables.parallel(s, dir, "documents")
    val media = MediaPlantCache.cached(s, dir, "q111_cross_container_video") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = Round9.guardMediaId(id0)
        def px(f: Int)(x: Int, y: Int): Int =
          Round9.videoCell(id, f, (y / 8) * 9 + x / 8)
        def jpegs(order: Seq[Int], std: Boolean): Seq[Array[Byte]] =
          order.map(f => JpegBuild.gray(72, 64, standardTables = std,
            writeDht = !std)(px(f)))
        Seq(
          Multimodal.MediaRecord(id, "video",
            VideoDedup.GifBuild.animatedGray(72, 64,
              (0 until 5).map(px))),
          Multimodal.MediaRecord(id + 1000000L, "video",
            MotionJpeg.AviBuild.mjpeg(72, 64,
              jpegs(0 until 5, std = false))),
          Multimodal.MediaRecord(id + 2000000L, "video",
            MotionJpeg.AviBuild.mjpeg(72, 64,
              jpegs(0 until 5, std = true))),
          Multimodal.MediaRecord(id + 3000000L, "video",
            text.getBytes("UTF-8")),
          Multimodal.MediaRecord(id + 4000000L, "video",
            MotionJpeg.AviBuild.mjpeg(72, 64,
              jpegs((0 until 5).reverse, std = false))))
      }
      .toDF("media_id", "kind", "payload")
    }
    // the parquet cache replaces r11's localCheckpoint pin; r13: the
    // FUSED both-forms operator decodes each payload ONCE for the two
    // hash forms (q108 keeps gating the two separate operators, so
    // all three surfaces stay oracle-covered; VideoDedupSpec pins the
    // fused/separate parity)
    VideoDedup.bothFormsPairs(media, "media_id", "payload",
        maxHamming = 3, bands = 4, q = 2, minJaccard = 0.5)
      .orderBy("form", "id_a", "id_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q108_video_ordered" -> q108VideoOrdered _,
    "q109_media_reason_census" -> q109MediaReasonCensus _,
    "q110_jpeg_neardup" -> q110JpegNearDup _,
    "q111_cross_container_video" -> q111CrossContainerVideo _)

  val oracles: Map[String, String] = Map(
    "q108_video_ordered" ->
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |m(a_k, b_k) AS (VALUES (0, 1000000), (0, 2000000),
        |                       (1000000, 2000000))
        |SELECT t.id + m.a_k AS id_a, t.id + m.b_k AS id_b,
        |  'mean' AS form, CAST(0 AS DOUBLE) AS score
        |FROM t, m
        |UNION ALL
        |SELECT id, id + 2000000, 'ordered', CAST(1 AS DOUBLE) FROM t
        |ORDER BY form, id_a, id_b""".stripMargin,
    "q109_media_reason_census" -> MediaCensusFixtures.oracleSql,
    "q110_jpeg_neardup" ->
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |m(a_k, b_k) AS (VALUES (0, 1000000), (0, 2000000),
        |                       (0, 4000000), (1000000, 2000000),
        |                       (1000000, 4000000), (2000000, 4000000))
        |SELECT t.id + m.a_k AS id_a, t.id + m.b_k AS id_b,
        |  CAST(0 AS INTEGER) AS hamming
        |FROM t, m
        |ORDER BY id_a, id_b""".stripMargin,
    "q111_cross_container_video" ->
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |mm(a_k, b_k) AS (VALUES (0, 1000000), (0, 2000000),
        |                        (0, 4000000), (1000000, 2000000),
        |                        (1000000, 4000000), (2000000, 4000000)),
        |mo(a_k, b_k) AS (VALUES (0, 1000000), (0, 2000000),
        |                        (1000000, 2000000))
        |SELECT t.id + mm.a_k AS id_a, t.id + mm.b_k AS id_b,
        |  'mean' AS form, CAST(0 AS DOUBLE) AS score
        |FROM t, mm
        |UNION ALL
        |SELECT t.id + mo.a_k, t.id + mo.b_k, 'ordered', CAST(1 AS DOUBLE)
        |FROM t, mo
        |ORDER BY form, id_a, id_b""".stripMargin)
}
