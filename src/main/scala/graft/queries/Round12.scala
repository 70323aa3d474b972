package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{ImageDedup, Multimodal}
import graft.operators.WebpPixels.WebpBuild

/** Round-12 gate: the VP8L (lossless WEBP) pixel path — the one
  * remaining slice of the COVERAGE.md media-scope decision. */
object Round12 extends QueryModule {

  /** q112: VP8L content near-dup — the [[graft.operators.WebpPixels]]
    * decode feeding the same dHash + Hamming-band machinery as
    * q102/q110. VP8L is LOSSLESS, so the oracle needs no
    * constant-block construction: every encoding of the same pixels
    * must land on the bit-identical hash. Populations per doc_id,
    * each a different wire shape of the SAME image (the q102 18×16
    * cell plant): the BMP rendering (base); plain VP8L literals
    * (+1M); subtract-green + LZ77 runs + a 6-bit color cache (+2M —
    * the transform, backward-reference and cache decode paths all in
    * the gate); the predictor transform, Select mode (+3M); the
    * color-indexing (palette) transform (+4M); meta-Huffman entropy
    * groups with runs + cache (+5M, r13 — the indirection real
    * encoders emit by default); the cross-color transform composed
    * with subtract-green + predictor (+6M, r13); opaque text
    * (+7M, decodes nowhere, pairs never); the VP8X extended
    * container wrapping the subtract-green encoding with an EXIF
    * chunk (+8M, r13 — the metadata-carrying still shape); and the
    * color-indexing transform COMPOSED with the predictor (+9M, r14
    * — palette read first, predictor tiled over the post-palette
    * width; the plant's ~72 distinct colors leave the width
    * unpacked, and the packed-width regime is pinned in
    * WebpPixelsSpec + the q109 census rows).
    * Expected: the 36 in-nonet pairs per doc at hamming 0 — any
    * drift in a transform inverse, the canonical Huffman
    * reconstruction, the group indirection, the cache hash, or the
    * distance map flips a gradient sign somewhere across the
    * ~500-doc × 72-cell population and breaks the arithmetic
    * oracle. */
  def q112WebpNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    val media = MediaPlantCache.cached(s, dir, "q112_webp_neardup") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = Round9.guardMediaId(id0)
        def px(x: Int, y: Int): Int =
          Round9.cellValue(id, (y / 2) * 9 + x / 2)
        val w = Round9.imgW; val h = Round9.imgH
        Seq(
          Multimodal.MediaRecord(id, "image",
            ImageDedup.ImageBuild.bmp24Gray(w, h)(px)),
          Multimodal.MediaRecord(id + 1000000L, "image",
            WebpBuild.vp8lGray(w, h)(px)),
          Multimodal.MediaRecord(id + 2000000L, "image",
            WebpBuild.vp8lGray(w, h, subtractGreen = true,
              backrefs = true, cacheBits = 6, mapDistances = true)(px)),
          Multimodal.MediaRecord(id + 3000000L, "image",
            WebpBuild.vp8lGray(w, h, predictorMode = 11)(px)),
          Multimodal.MediaRecord(id + 4000000L, "image",
            WebpBuild.vp8lGray(w, h, paletted = true)(px)),
          Multimodal.MediaRecord(id + 5000000L, "image",
            WebpBuild.vp8lGray(w, h, metaGroups = 3, metaBits = 2,
              backrefs = true, cacheBits = 4)(px)),
          Multimodal.MediaRecord(id + 6000000L, "image",
            WebpBuild.vp8lGray(w, h, crossColor = true,
              subtractGreen = true, predictorMode = 11)(px)),
          Multimodal.MediaRecord(id + 7000000L, "image",
            text.getBytes("UTF-8")),
          Multimodal.MediaRecord(id + 8000000L, "image",
            WebpBuild.vp8x(
              WebpBuild.vp8lGray(w, h, subtractGreen = true)(px))),
          Multimodal.MediaRecord(id + 9000000L, "image",
            WebpBuild.vp8lGray(w, h, paletted = true,
              predictorMode = 11)(px)))
      }
      .toDF("media_id", "kind", "payload")
    }
    ImageDedup.nearDupPairs(media, "media_id", "payload",
        maxHamming = 3, bands = 4)
      .orderBy("id_a", "id_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q112_webp_neardup" -> q112WebpNearDup _)

  val oracles: Map[String, String] = Map(
    "q112_webp_neardup" ->
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |k(v) AS (VALUES (0), (1000000), (2000000), (3000000), (4000000),
        |                (5000000), (6000000), (8000000), (9000000)),
        |m AS (SELECT a.v AS a_k, b.v AS b_k FROM k a, k b WHERE a.v < b.v)
        |SELECT t.id + m.a_k AS id_a, t.id + m.b_k AS id_b,
        |  CAST(0 AS INTEGER) AS hamming
        |FROM t, m
        |ORDER BY id_a, id_b""".stripMargin)
}
