package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{ImageDedup, Multimodal}

/** Round-9 queries: content-level image near-duplicate detection — the
  * pixel-level companion to q26's container-header plumbing. */
object Round9 extends QueryModule {

  /** q102 plant geometry: base images are 18×16 px (2×2-px cells on the
    * 9×8 dHash grid), scaled copies 36×32 (4×4 cells) — grid-aligned,
    * so box-average downscale reproduces the identical cell grid and
    * the planted transforms land at Hamming distance EXACTLY 0. */
  val imgW = 18
  val imgH = 16

  /** The q102/q104/q106 plants derive copy populations at doc_id +1M/
    * +2M/+3M; that arithmetic (and the oracles built on it) is only
    * sound while base ids stay below 1,000,000. Guarded PER ROW inside
    * the flatMaps so a scale factor whose doc ids reach 1M fails
    * loudly instead of silently colliding the populations and
    * corrupting the gate (r9 ADVICE: the constraint used to live only
    * in a ScaleBench comment). */
  private[queries] def guardMediaId(id: Long): Long = {
    require(id >= 0 && id < 1000000L,
      s"media-plant id space exhausted: doc_id $id outside [0, 1e6) " +
        "collides with the +1M/+2M/+3M derived copy populations — " +
        "derive the offsets from max(doc_id) before running this SF")
    id
  }

  /** Per-(doc, cell) gray value in [1, 200]: pseudo-random via
    * splitmix64 so distinct docs get independent gradient-sign
    * patterns (expected cross-doc Hamming ≈ 32 ≫ the ≤3 cut), and
    * capped at 200 so the +16 brightness plant never clamps. */
  private[queries] def cellValue(id: Long, cell: Int): Int = {
    var z = id * 72L + cell + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= z >>> 31
    1 + java.lang.Math.floorMod(z, 200L).toInt
  }

  /** q102: content-level image near-dup via perceptual dHash over
    * DECODED 24-bit BMP pixels + exact Hamming-band blocking
    * ([[graft.operators.ImageDedup]]). Four payload populations per
    * doc_id: the base image; a 2× pixel-replication upscale (+1M ids);
    * a +16 uniform brightness shift (+2M ids) — both transforms leave
    * the dHash bit-identical BY CONSTRUCTION (gradient signs survive
    * scaling and uniform shifts), so the expected pair set is exactly
    * the three in-trio pairs per doc at hamming 0, which the oracle
    * re-derives arithmetically from doc_id with no read-back; plus the
    * doc's text lifted into opaque binary (+3M ids) — no pixel path,
    * hash NULL, and the operator must SKIP it, not throw or pair it.
    * A decode/endianness/row-order bug, a hash bit error, a broken
    * band, or an undecodable payload leaking into the join all change
    * the pair set and fail the gate. Cross-doc false pairs are
    * excluded by the ≤3 Hamming cut on ~32-expected-bit-distance
    * independent patterns.
    *
    * r10 adds a FIFTH population (+4M ids): the base pixels re-encoded
    * as a real RGB PNG with all five scanline filters cycling by row —
    * decoded through the independent Inflater/unfilter path
    * ([[ImageDedup.PngPixels]]), it must land bit-identical to the BMP
    * decode. r11 adds a SIXTH (+5M ids): the same pixels as an
    * Adam7-INTERLACED PALETTE PNG (identity-ramp PLTE, filters cycling
    * per image row inside each pass), covering the r11 decode
    * completion — PLTE lookup, per-pass filtering, and the 7-pass
    * deinterlace scatter must all reproduce the exact luma; and a
    * SEVENTH (+6M ids): a PackBits-compressed BIG-ENDIAN multi-strip
    * TIFF of the same pixels ([[graft.operators.TiffPixels]]) — IFD
    * walk, strip assembly, and RLE expansion join the collision group,
    * making the expected set C(6,2)=15 hamming-0 pairs per doc. */
  def q102ImageNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    // plant served from the per-(sf, code-version) parquet cache (r15:
    // the r12-directive-#4 treatment extended to the r9 media gates —
    // q102/q104/q106 still re-encoded their fixtures every evaluation,
    // burying the decoder under test exactly as q108-q112 once did)
    val media = MediaPlantCache.cached(s, dir, "q102_image_neardup") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = guardMediaId(id0)
        def px(scale: Int, shift: Int)(x: Int, y: Int): Int =
          cellValue(id, (y / (2 * scale)) * 9 + x / (2 * scale)) + shift
        Seq(
          Multimodal.MediaRecord(id, "image",
            ImageDedup.ImageBuild.bmp24Gray(imgW, imgH)(px(1, 0))),
          Multimodal.MediaRecord(id + 1000000L, "image",
            ImageDedup.ImageBuild.bmp24Gray(2 * imgW, 2 * imgH)(px(2, 0))),
          Multimodal.MediaRecord(id + 2000000L, "image",
            ImageDedup.ImageBuild.bmp24Gray(imgW, imgH)(px(1, 16))),
          Multimodal.MediaRecord(id + 3000000L, "image",
            text.getBytes("UTF-8")),
          Multimodal.MediaRecord(id + 4000000L, "image",
            ImageDedup.ImageBuild.pngGray(imgW, imgH, colorType = 2,
              filterOf = y => y % 5)(px(1, 0))),
          Multimodal.MediaRecord(id + 5000000L, "image",
            ImageDedup.ImageBuild.pngGray(imgW, imgH, colorType = 3,
              interlace = true, filterOf = y => (y + 2) % 5)(px(1, 0))),
          // +6M (r11): the same pixels as a PackBits big-endian TIFF —
          // the fourth still container joins the collision sextet
          Multimodal.MediaRecord(id + 6000000L, "image",
            graft.operators.TiffPixels.TiffBuild.build(imgW, imgH,
              le = false, compression = 32773, rowsPerStrip = 5)(px(1, 0))))
      }
      .toDF("media_id", "kind", "payload")
    }
    ImageDedup.nearDupPairs(media, "media_id", "payload",
        maxHamming = 3, bands = 4)
      .orderBy("id_a", "id_b")
  }

  /** q103: the round-9 SQL-surface widening (r8 judge directive #7) —
    * every remaining aggregate family reached through its injected SQL
    * name in ONE statement over the events view: `graft_delta_sum`
    * (explicit (ts, tie) fold order), `graft_retention` (flag slots
    * flattened to columns), `graft_window_funnel` in BOTH default and
    * 'strict_increase' modes (equal to the chained-window DP on the
    * tie-free events table — the q94 oracle argument), `graft_sum_map`
    * (the purchase slot of the per-type value map), and
    * `graft_histogram` under capacity (hours-of-day ≤ 24 < 32 bins, so
    * centroids are exactly the distinct values and both the bin count
    * and the peak weight are oracle-exact).
    *
    * r11 (judge directive #4, carried from r9 #6): the events table is
    * tie-free per user, so default and strict_increase funnels used to
    * coincide and the oracle leaned on `dp.lvl AS lvl_si`. The view now
    * UNIONs a planted TIE-FUL slice — for every user with
    * user_id % 7 = 3, a shadow user (+10M) whose four funnel events
    * carry colliding timestamps: cohort A (even base id) has all four
    * at one instant (default chains in step order → lvl 4;
    * strict_increase stops at the anchor → lvl_si 1), cohort B (odd)
    * has view+click tied one hour after signup, purchase one hour
    * later (lvl 4 vs lvl_si 2). The oracle now derives lvl and lvl_si
    * from two INDEPENDENT window-DP chains (CURRENT ROW vs 1 PRECEDING
    * frames), so the two modes are proven to disagree exactly where
    * ties demand it. */
  def q103SqlSurface2(s: SparkSession, dir: String): DataFrame = {
    Tables.parallel(s, dir, "events")
      .createOrReplaceTempView("graft_events_base_r11")
    s.sql("""
      CREATE OR REPLACE TEMPORARY VIEW graft_events_r9 AS
      SELECT user_id, ts, event_id, event_type, value
      FROM graft_events_base_r11
      UNION ALL
      SELECT u.user_id + 10000000 AS user_id,
        TIMESTAMP'2001-06-01 09:00:00' + make_interval(0, 0, 0, 0,
          CASE WHEN u.user_id % 2 = 0 THEN 0
            ELSE CASE s.s WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 3 THEN 1
              ELSE 2 END END, 0, 0) AS ts,
        CAST(s.s AS BIGINT) AS event_id,
        CASE s.s WHEN 1 THEN 'signup' WHEN 2 THEN 'view'
          WHEN 3 THEN 'click' ELSE 'purchase' END AS event_type,
        CAST(s.s AS DOUBLE) AS value
      FROM (SELECT DISTINCT user_id FROM graft_events_base_r11
            WHERE user_id % 7 = 3) u
      CROSS JOIN (SELECT explode(array(1, 2, 3, 4)) AS s) s""")
    s.sql("""
      SELECT user_id,
        graft_delta_sum(unix_micros(ts), event_id, value) AS dsum,
        graft_retention(event_type = 'signup', event_type = 'view',
          event_type = 'purchase')[0] AS r1,
        graft_retention(event_type = 'signup', event_type = 'view',
          event_type = 'purchase')[1] AS r2,
        graft_retention(event_type = 'signup', event_type = 'view',
          event_type = 'purchase')[2] AS r3,
        graft_window_funnel(86400000000L, unix_micros(ts),
          event_type = 'signup', event_type = 'view',
          event_type = 'click', event_type = 'purchase') AS lvl,
        graft_window_funnel(86400000000L, 'strict_increase',
          unix_micros(ts),
          event_type = 'signup', event_type = 'view',
          event_type = 'click', event_type = 'purchase') AS lvl_si,
        CAST(element_at(
          graft_sum_map(array(event_type),
            array(CAST(value AS DECIMAL(18,4)))), 'purchase')
          AS DOUBLE) AS purchase_total,
        size(graft_histogram(CAST(hour(ts) AS DOUBLE), 32)) AS hist_bins,
        CAST(array_max(transform(
          graft_histogram(CAST(hour(ts) AS DOUBLE), 32), x -> x.w))
          AS BIGINT) AS hist_peak
      FROM graft_events_r9 GROUP BY user_id ORDER BY user_id""")
  }

  /** q104 plant geometry: 65 frames × 8 samples — the stretch copy
    * repeats each sample ×2 (1040 samples), so the proportional frame
    * boundaries cover the same content and every RMS is bit-equal. */
  val audioFrameSamples = 8

  /** Per-(doc, frame) amplitude in [1, 10000] (splitmix64, q102's
    * discipline with a different salt): independent gradient-sign
    * patterns across docs, and ×2 volume stays below int16 range. */
  private[queries] def frameAmp(id: Long, frame: Int): Int = {
    var z = id * 131L + frame + 0x6a09e667f3bcc909L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= z >>> 31
    1 + java.lang.Math.floorMod(z, 10000L).toInt
  }

  /** q104: content-level AUDIO near-dup via the energy-envelope
    * difference hash over DECODED WAV samples + the shared
    * Hamming-band blocking ([[graft.operators.AudioDedup]]) — the
    * audio twin of q102. Ten populations per doc_id in two collision
    * groups plus an opaque control:
    *  - the PCM16 base clip; ×2 volume (+1M); ×2 duration by sample
    *    repetition (+2M) — both transforms leave the envelope
    *    gradient signs bit-identical BY CONSTRUCTION (RMS scales
    *    uniformly / is unchanged per aligned frame); and (r11) the
    *    SAME samples re-encoded as IEEE float32 (+4M, stores s/32768 —
    *    exact in a 24-bit mantissa) and PCM24 (+5M, stores s<<8) —
    *    the cross-FORMAT decode paths must land on bit-identical
    *    envelopes, so the quintet pairs completely (10 pairs/doc);
    *  - (r11) the G.711 quartet: one (seg, man) code sequence rendered
    *    as µ-law wire bytes (+6M), its CCITT expansion as PCM16 (+7M,
    *    closed form inlined HERE — the independent derivation the
    *    engine's decode must reproduce), the a-law rendering (+8M),
    *    and ITS expansion (+9M). Both expansions are strictly monotone
    *    in (seg, man), so the two codecs' envelopes carry the same
    *    gradient signs and all four collide (6 pairs/doc) — the
    *    loudness-ORDER invariance of the sign hash, asserted exactly;
    *  - (r11) the IMA ADPCM pair: one planted mono block of raw
    *    (predictor, index, nibbles) wire state (+10M) and its
    *    expansion by the IMA reference recurrence computed INLINE
    *    (+11M) — the engine's block decode must reproduce it sample
    *    for sample (1 more pair/doc);
    *  - (r11) cross-CONTAINER twins: the base samples as big-endian
    *    AIFF PCM16 (+12M) and Sun .au PCM16 (+13M), which join the
    *    base collision group — the quintet becomes a septet
    *    (21 pairs/doc);
    *  - (r11) the MS-ADPCM pair (+14M/+15M): the IMA discipline for
    *    format 2 — planted (predictor, delta, seeds, nibbles) wire
    *    state and its inline format-2 expansion (1 more pair/doc);
    *  - the doc's text as an opaque payload (+3M): skipped, never
    *    paired or thrown on. */
  def q104AudioNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    // r15: plant cached per (sf, code version) — see q102
    val media = MediaPlantCache.cached(s, dir, "q104_audio_neardup") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = guardMediaId(id0)
        import graft.operators.AudioDedup.WavBuild
        def rawSamples(gain: Int, stretch: Int): Array[Int] =
          Array.tabulate(65 * audioFrameSamples * stretch)(i =>
            gain * frameAmp(id, i / (audioFrameSamples * stretch)))
        def clip(gain: Int, stretch: Int): Array[Byte] =
          WavBuild.pcm16(rawSamples(gain, stretch))
        val base = rawSamples(1, 1)
        // r11 cross-format populations. +4M/+5M re-encode the SAME
        // samples: float32 stores s/32768 (exact in a 24-bit mantissa,
        // decodes back to s exactly), PCM24 stores s<<8 (decode
        // arithmetic-shifts back down) — bit-identical envelopes, so
        // they join the base quintet at hamming 0.
        val f32 = WavBuild.float32(base.map(v => v / 32768.0f))
        val p24 = WavBuild.pcm(base.map(_ << 8), bits = 24)
        // +6M..+9M: the G.711 quartet. Per frame, a (segment, mantissa)
        // code pair drives both codecs' wire bytes; the PCM16 twins
        // (+7M/+9M) store each codec's expansion computed by the
        // CCITT closed forms INLINE here — an independent derivation
        // the engine's decode tables must reproduce. Both expansions
        // are strictly monotone in the lexicographic (seg, man) order,
        // so the a-law and µ-law envelopes carry the SAME gradient
        // signs and all four populations collide at hamming 0 — the
        // loudness-order invariance, asserted by the oracle.
        val segMan = Array.tabulate(65) { f =>
          var z = id * 499L + f + 0x9e3779b97f4a7c15L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
          z ^= z >>> 31
          val v = java.lang.Math.floorMod(z, 128L).toInt
          (v >> 4, v & 0xf) // (seg 0-7, man 0-15)
        }
        def perSample[T](f: ((Int, Int)) => T)(
            implicit t: scala.reflect.ClassTag[T]): Array[T] =
          Array.tabulate(65 * audioFrameSamples)(i =>
            f(segMan(i / audioFrameSamples)))
        val ulawBytes = perSample { case (seg, man) =>
          (~((seg << 4) | man)).toByte } // sign bit clear: positive
        val ulawLinear = perSample { case (seg, man) =>
          ((((man << 3) + 0x84) << seg) - 0x84) }
        val alawBytes = perSample { case (seg, man) =>
          ((0x80 | (seg << 4) | man) ^ 0x55).toByte } // sign SET: positive
        val alawLinear = perSample { case (seg, man) =>
          if (seg == 0) (man << 4) + 8 else ((man << 4) + 0x108) << (seg - 1) }
        // +10M/+11M: IMA ADPCM pair (r11). One mono block: planted
        // predictor/index/nibble wire state, with the expected
        // expansion computed INLINE by the IMA reference recurrence —
        // an independent derivation of the engine's block decode.
        val adpcmNibbles = Array.tabulate(260) { i =>
          var z = id * 613L + i + 0xd1b54a32d192ed03L
          z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
          z ^= z >>> 31
          (z & 0xff).toInt.toByte
        }
        val adpcmPred0 = (java.lang.Math.floorMod(id * 31L, 4001L) - 2000L).toInt
        val adpcmIdx0 = java.lang.Math.floorMod(id * 7L, 89L).toInt
        val adpcmLinear = {
          val step = graft.operators.AudioDedup.WavPcm.ImaStep
          val out = new Array[Int](1 + 520)
          out(0) = adpcmPred0
          var pred = adpcmPred0
          var idx = adpcmIdx0
          var k = 0
          while (k < 520) {
            val byte = adpcmNibbles(k / 2) & 0xff
            val nib = if ((k & 1) == 0) byte & 0x0f else byte >> 4
            var diff = step(idx) >> 3
            if ((nib & 1) != 0) diff += step(idx) >> 2
            if ((nib & 2) != 0) diff += step(idx) >> 1
            if ((nib & 4) != 0) diff += step(idx)
            pred = math.max(-32768,
              math.min(32767, if ((nib & 8) != 0) pred - diff else pred + diff))
            idx = math.max(0, math.min(88,
              idx + Array(-1, -1, -1, -1, 2, 4, 6, 8)(nib & 7)))
            out(1 + k) = pred
            k += 1
          }
          out
        }
        // MS-ADPCM wire state + the inline format-2 expansion (reuses
        // the IMA nibble stream; the recurrences differ entirely)
        val msPred = java.lang.Math.floorMod(id * 13L, 7L).toInt
        val msDelta0 = 16 + java.lang.Math.floorMod(id * 17L, 400L).toInt
        val msSamp1 = (java.lang.Math.floorMod(id * 19L, 4001L) - 2000L).toInt
        val msSamp2 = (java.lang.Math.floorMod(id * 23L, 4001L) - 2000L).toInt
        val msLinear = {
          val coefs = graft.operators.AudioDedup.WavBuild.MsCoefs
          val adapt = Array(230, 230, 230, 230, 307, 409, 512, 614,
            768, 614, 512, 409, 307, 230, 230, 230)
          val out = new Array[Int](2 + 520)
          out(0) = msSamp2; out(1) = msSamp1
          var samp1 = msSamp1; var samp2 = msSamp2; var delta = msDelta0
          val (c1v, c2v) = coefs(msPred)
          var k = 0
          while (k < 520) {
            val b = adpcmNibbles(k / 2) & 0xff
            val nib = if ((k & 1) == 0) b >> 4 else b & 0x0f // HIGH first
            val signed = (nib << 28) >> 28
            val predicted =
              (samp1.toLong * c1v + samp2.toLong * c2v) / 256 +
                signed.toLong * delta
            val samp = math.max(-32768L, math.min(32767L, predicted)).toInt
            samp2 = samp1; samp1 = samp
            delta = math.max(16, adapt(nib) * delta / 256)
            out(2 + k) = samp
            k += 1
          }
          out
        }
        Seq(
          Multimodal.MediaRecord(id, "audio", clip(1, 1)),
          Multimodal.MediaRecord(id + 1000000L, "audio", clip(2, 1)),
          Multimodal.MediaRecord(id + 2000000L, "audio", clip(1, 2)),
          Multimodal.MediaRecord(id + 3000000L, "audio",
            text.getBytes("UTF-8")),
          Multimodal.MediaRecord(id + 4000000L, "audio", f32),
          Multimodal.MediaRecord(id + 5000000L, "audio", p24),
          Multimodal.MediaRecord(id + 6000000L, "audio",
            WavBuild.g711(ulawBytes, alaw = false)),
          Multimodal.MediaRecord(id + 7000000L, "audio",
            WavBuild.pcm16(ulawLinear)),
          Multimodal.MediaRecord(id + 8000000L, "audio",
            WavBuild.g711(alawBytes, alaw = true)),
          Multimodal.MediaRecord(id + 9000000L, "audio",
            WavBuild.pcm16(alawLinear)),
          Multimodal.MediaRecord(id + 10000000L, "audio",
            WavBuild.imaAdpcmMono(
              Seq((adpcmPred0, adpcmIdx0, adpcmNibbles)))),
          Multimodal.MediaRecord(id + 11000000L, "audio",
            WavBuild.pcm16(adpcmLinear)),
          // +12M/+13M (r11): the same base samples under the OTHER two
          // audio containers — big-endian AIFF and Sun .au PCM16 —
          // joining the base collision group (cross-CONTAINER parity,
          // the audio twin of q111)
          Multimodal.MediaRecord(id + 12000000L, "audio",
            graft.operators.AudioDedup.AiffBuild.pcm16(base)),
          Multimodal.MediaRecord(id + 13000000L, "audio",
            graft.operators.AudioDedup.AuBuild.pcm16(base)),
          // +14M/+15M (r11): the MS-ADPCM pair — same discipline as
          // the IMA pair, with the format-2 recurrence inlined
          Multimodal.MediaRecord(id + 14000000L, "audio",
            WavBuild.msAdpcmMono(Seq((msPred, msDelta0, msSamp1,
              msSamp2, adpcmNibbles)))),
          Multimodal.MediaRecord(id + 15000000L, "audio",
            WavBuild.pcm16(msLinear)))
      }
      .toDF("media_id", "kind", "payload")
    }
    graft.operators.AudioDedup.nearDupPairs(media, "media_id", "payload",
        maxHamming = 3, bands = 4)
      .orderBy("id_a", "id_b")
  }

  /** q105: quality-aware cluster dedup — keep, per q18/q32 near-dup
    * component, the LONGEST member (priority = strlen(text), ties to
    * the smallest id) instead of q32's min-id representative
    * ([[graft.operators.ClusterDedup.dedupKeepBest]]). The oracle
    * recomputes the exhaustive pair graph, the exact transitive
    * closure (q32's recursive CTE), and the per-component argmax —
    * a fully independent check that the right member of every cluster
    * survives. Output: the surviving docs (id, n_chars). Gate note:
    * the exhaustive all-pairs + closure oracle is DuckDB-expensive —
    * compare runs at the driver's sf0.01 (green); at sf0.1 the engine
    * side is sanity-pinned by the survivor ratio (4756 of ~9.9 K aug
    * docs, matching sf0.01's 476 of ~990) — the q32 oracle class. */
  def q105KeepBestDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = LlmPipeline.augmentedDocs(s, dir)
      .select(col("doc_id"), length(col("text")).as("n"))
    val pairs = LlmPipeline.q18MinhashNearDup(s, dir).select("id_a", "id_b")
    graft.operators.ClusterDedup.dedupKeepBest(docs, pairs, "doc_id",
        col("n"))
      .select(col("doc_id"), col("n").cast("long").as("n"))
      .orderBy("doc_id")
  }

  /** Per-(doc, frame, cell) gray value in [1, 200] (the q102/q104
    * splitmix64 discipline, third salt): independent per-frame
    * patterns, +16 brightness never clamps at 8-bit. */
  private[queries] def videoCell(id: Long, f: Int, cell: Int): Int = {
    var z = id * 977L + f * 72L + cell + 0x2545f4914f6cdd1dL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^= z >>> 31
    1 + java.lang.Math.floorMod(z, 200L).toInt
  }

  /** q106: content-level VIDEO near-dup — animated GIFs decoded
    * frame-by-frame through a real LZW decoder, fingerprinted by the
    * temporal-mean-image dHash, blocked by the shared Hamming bands
    * ([[graft.operators.VideoDedup]]). Four populations per doc_id:
    * a 5-frame base clip; the same frames each repeated twice (+1M —
    * time stretch, identical integer mean); +16 brightness on every
    * frame (+2M — the mean shifts uniformly, gradient signs survive);
    * and opaque text (+3M — no video path, skipped). Both transforms
    * are EXACT, so the oracle is the same arithmetic in-trio pair set
    * at hamming 0 as q102/q104. */
  def q106VideoNearDup(s: SparkSession, dir: String): DataFrame =
    graft.operators.VideoDedup.nearDupPairs(q106Media(s, dir),
        "media_id", "payload", maxHamming = 3, bands = 4)
      .orderBy("id_a", "id_b")

  /** q106's planted GIF corpus (cache-served after the first build) —
    * factored out so the ScaleBench stage probes ([[StageProbes]]) can
    * time the plant read and the decode map against the full row. */
  private[queries] def q106Media(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables.parallel(s, dir, "documents")
    // r15: plant cached per (sf, code version) — see q102
    MediaPlantCache.cached(s, dir, "q106_video_neardup") {
      docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id0, text) =>
        val id = guardMediaId(id0)
        def frame(f: Int, shift: Int)(x: Int, y: Int): Int =
          videoCell(id, f, (y / 2) * 9 + x / 2) + shift
        def gif(frameIds: Seq[Int], shift: Int): Array[Byte] =
          graft.operators.VideoDedup.GifBuild.animatedGray(imgW, imgH,
            frameIds.map(f => frame(f, shift) _))
        Seq(
          Multimodal.MediaRecord(id, "video", gif(0 until 5, 0)),
          Multimodal.MediaRecord(id + 1000000L, "video",
            gif((0 until 5).flatMap(f => Seq(f, f)), 0)),
          Multimodal.MediaRecord(id + 2000000L, "video",
            gif(0 until 5, 16)),
          Multimodal.MediaRecord(id + 3000000L, "video",
            text.getBytes("UTF-8")))
      }
      .toDF("media_id", "kind", "payload")
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q102_image_neardup" -> q102ImageNearDup _,
    "q103_sql_surface2" -> q103SqlSurface2 _,
    "q104_audio_neardup" -> q104AudioNearDup _,
    "q105_keepbest_dedup" -> q105KeepBestDedup _,
    "q106_video_neardup" -> q106VideoNearDup _)

  val oracles: Map[String, String] = Map(
    "q102_image_neardup" ->
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |o(k) AS (VALUES (0), (1000000), (2000000), (4000000),
        |                (5000000), (6000000))
        |SELECT t.id + a.k AS id_a, t.id + b.k AS id_b,
        |  CAST(0 AS INTEGER) AS hamming
        |FROM t, o a, o b WHERE a.k < b.k
        |ORDER BY id_a, id_b""".stripMargin,
    "q105_keepbest_dedup" ->
      s"""WITH RECURSIVE ${LlmPipeline.augmentedSql},
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, len(string_split(text, ' ')) - 2),
        |      i -> string_split(text, ' ')[i] || ' ' ||
        |           string_split(text, ' ')[i+1] || ' ' ||
        |           string_split(text, ' ')[i+2])) AS s
        |  FROM aug),
        |sh2 AS (SELECT * FROM sh WHERE len(s) > 0),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
        |      len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
        |e AS (SELECT id_a AS s, id_b AS d FROM p
        |      UNION ALL SELECT id_b, id_a FROM p),
        |reach(s, d) AS (
        |  SELECT s, d FROM e
        |  UNION
        |  SELECT r.s, e2.d FROM reach r JOIN e e2 ON r.d = e2.s),
        |comp AS (SELECT s AS doc_id, least(s, min(d)) AS rep
        |         FROM reach GROUP BY s),
        |mem AS (SELECT c.doc_id, c.rep, strlen(a.text) AS n
        |        FROM comp c JOIN aug a ON a.doc_id = c.doc_id),
        |rk AS (SELECT doc_id,
        |         row_number() OVER (PARTITION BY rep
        |           ORDER BY n DESC, doc_id) AS r
        |       FROM mem),
        |losers AS (SELECT doc_id FROM rk WHERE r > 1)
        |SELECT CAST(a.doc_id AS BIGINT) AS doc_id,
        |  CAST(strlen(a.text) AS BIGINT) AS n
        |FROM aug a
        |WHERE NOT EXISTS (SELECT 1 FROM losers l
        |                  WHERE l.doc_id = a.doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q104_audio_neardup" ->
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents),
        |base(k) AS (VALUES (0), (1000000), (2000000), (4000000),
        |                   (5000000), (12000000), (13000000)),
        |g711(k) AS (VALUES (6000000), (7000000), (8000000), (9000000))
        |SELECT t.id + a.k AS id_a, t.id + b.k AS id_b,
        |  CAST(0 AS INTEGER) AS hamming
        |FROM t, base a, base b WHERE a.k < b.k
        |UNION ALL
        |SELECT t.id + a.k, t.id + b.k, CAST(0 AS INTEGER)
        |FROM t, g711 a, g711 b WHERE a.k < b.k
        |UNION ALL
        |SELECT t.id + 10000000, t.id + 11000000, CAST(0 AS INTEGER) FROM t
        |UNION ALL
        |SELECT t.id + 14000000, t.id + 15000000, CAST(0 AS INTEGER) FROM t
        |ORDER BY id_a, id_b""".stripMargin,
    "q106_video_neardup" ->
      """WITH t AS (SELECT CAST(doc_id AS BIGINT) AS id FROM documents)
        |SELECT id AS id_a, id + 1000000 AS id_b,
        |  CAST(0 AS INTEGER) AS hamming FROM t
        |UNION ALL
        |SELECT id, id + 2000000, CAST(0 AS INTEGER) FROM t
        |UNION ALL
        |SELECT id + 1000000, id + 2000000, CAST(0 AS INTEGER) FROM t
        |ORDER BY id_a, id_b""".stripMargin,
    "q103_sql_surface2" ->
      """WITH tie AS (
        |  SELECT u.user_id + 10000000 AS user_id,
        |    TIMESTAMP '2001-06-01 09:00:00'
        |      + (CASE WHEN u.user_id % 2 = 0 THEN 0
        |         ELSE CASE s.s WHEN 1 THEN 0 WHEN 2 THEN 1 WHEN 3 THEN 1
        |           ELSE 2 END END) * INTERVAL 1 HOUR AS ts,
        |    CAST(s.s AS BIGINT) AS event_id,
        |    CASE s.s WHEN 1 THEN 'signup' WHEN 2 THEN 'view'
        |      WHEN 3 THEN 'click' ELSE 'purchase' END AS event_type,
        |    CAST(s.s AS DOUBLE) AS value
        |  FROM (SELECT DISTINCT user_id FROM events
        |        WHERE user_id % 7 = 3) u
        |  CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS s) s),
        |ev AS (SELECT user_id, epoch_us(ts) AS t, event_id, event_type,
        |         value, hour(ts) AS hr FROM events
        |       UNION ALL
        |       SELECT user_id, epoch_us(ts), event_id, event_type,
        |         value, hour(ts) FROM tie),
        |dd AS (SELECT user_id,
        |         CAST(value AS DECIMAL(18,4))
        |           - lag(CAST(value AS DECIMAL(18,4)))
        |             OVER (PARTITION BY user_id ORDER BY t, event_id)
        |           AS dv
        |       FROM ev WHERE value IS NOT NULL),
        |ds AS (SELECT user_id,
        |         CAST(coalesce(sum(CASE WHEN dv > 0 THEN dv END),
        |           0) AS DOUBLE) AS dsum
        |       FROM dd GROUP BY user_id),
        |ret AS (SELECT user_id,
        |         max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |           AS a1,
        |         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |           AS a2,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS a3
        |       FROM ev GROUP BY user_id),
        |s1 AS (SELECT *, max(CASE WHEN event_type = 'signup' THEN t END)
        |         OVER w1 AS b1 FROM ev
        |       WINDOW w1 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s2 AS (SELECT *, max(CASE WHEN event_type = 'view' THEN b1 END)
        |         OVER w2 AS b2 FROM s1
        |       WINDOW w2 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |s3 AS (SELECT *, max(CASE WHEN event_type = 'click' THEN b2 END)
        |         OVER w3 AS b3 FROM s2
        |       WINDOW w3 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |dp AS (SELECT user_id, CAST(max(CASE
        |    WHEN event_type = 'purchase' AND b3 IS NOT NULL
        |      AND t - b3 <= 86400000000 THEN 4
        |    WHEN event_type = 'click' AND b2 IS NOT NULL
        |      AND t - b2 <= 86400000000 THEN 3
        |    WHEN event_type = 'view' AND b1 IS NOT NULL
        |      AND t - b1 <= 86400000000 THEN 2
        |    WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INTEGER)
        |  AS lvl FROM s3 GROUP BY user_id),
        |u1 AS (SELECT *, max(CASE WHEN event_type = 'signup' THEN t END)
        |         OVER w1 AS c1 FROM ev
        |       WINDOW w1 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u2 AS (SELECT *, max(CASE WHEN event_type = 'view' THEN c1 END)
        |         OVER w2 AS c2 FROM u1
        |       WINDOW w2 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |u3 AS (SELECT *, max(CASE WHEN event_type = 'click' THEN c2 END)
        |         OVER w3 AS c3 FROM u2
        |       WINDOW w3 AS (PARTITION BY user_id ORDER BY t
        |         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |dq AS (SELECT user_id, CAST(max(CASE
        |    WHEN event_type = 'purchase' AND c3 IS NOT NULL
        |      AND t - c3 <= 86400000000 THEN 4
        |    WHEN event_type = 'click' AND c2 IS NOT NULL
        |      AND t - c2 <= 86400000000 THEN 3
        |    WHEN event_type = 'view' AND c1 IS NOT NULL
        |      AND t - c1 <= 86400000000 THEN 2
        |    WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INTEGER)
        |  AS lvl_si FROM u3 GROUP BY user_id),
        |pt AS (SELECT user_id,
        |         CAST(CAST(sum(CASE WHEN event_type = 'purchase'
        |           THEN CAST(value AS DECIMAL(18,4)) END)
        |           AS DECIMAL(38,4)) AS DOUBLE) AS purchase_total
        |       FROM ev GROUP BY user_id),
        |hh AS (SELECT user_id, hr, count(*) AS c FROM ev GROUP BY 1, 2),
        |hs AS (SELECT user_id, CAST(count(*) AS INTEGER) AS hist_bins,
        |         CAST(max(c) AS BIGINT) AS hist_peak
        |       FROM hh GROUP BY user_id)
        |SELECT ret.user_id,
        |  CAST(coalesce(ds.dsum, 0) AS DOUBLE) AS dsum,
        |  CAST(ret.a1 AS INTEGER) AS r1,
        |  CAST(least(ret.a1, ret.a2) AS INTEGER) AS r2,
        |  CAST(least(ret.a1, ret.a3) AS INTEGER) AS r3,
        |  dp.lvl, dq.lvl_si, pt.purchase_total,
        |  hs.hist_bins, hs.hist_peak
        |FROM ret
        |LEFT JOIN ds ON ds.user_id = ret.user_id
        |JOIN dp ON dp.user_id = ret.user_id
        |JOIN dq ON dq.user_id = ret.user_id
        |JOIN pt ON pt.user_id = ret.user_id
        |JOIN hs ON hs.user_id = ret.user_id
        |ORDER BY ret.user_id""".stripMargin)
}
