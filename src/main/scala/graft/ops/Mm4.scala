package graft.ops

import graft.Tables._
import graft.functions.ArrayMath.round6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 multimodal widening beyond still images: the first video op
  * a training pipeline runs (shot-boundary detection — the unit of
  * video-level dedup and keyframe extraction is the SHOT, not the
  * frame: L279 frame sampling assumes boundaries are known) and the
  * first audio-segmentation op (energy voice-activity detection — the
  * silence-trim / speech-ratio gate every ASR-pretraining corpus runs
  * before any model pass). Both follow the established multimodal
  * contract: payloads are genuine containers (BMP frames via
  * `javax.imageio`, RIFF/WAVE via `javax.sound.sampled`) synthesized
  * closed-form and round-tripped through the REAL JDK codecs, every
  * decision is exact integer arithmetic, and the oracle predicts the
  * output independently from the synthesis formula — so a codec, frame
  * indexing, or windowing regression fails the gate. */
object Mm4 {

  /** L366 — video shot-boundary (scene-cut) detection: decode each
    * document's 16-frame sequence (32×24 real BMPs), compute the
    * sum-of-absolute-differences between consecutive frames (the
    * classic pixel-domain cut detector), report frames whose SAD
    * crosses the mean-|Δ|≥8 threshold (8·768 = 6144). Planted
    * structure: family = doc_id % 40; cut positions are the
    * deterministic rule (t·31 + f·17) mod 16 < 4 (3-4 cuts per
    * family), scenes re-key the pixel field's spatial frequencies, so
    * a cut's SAD is ≥ 49884 while intra-scene SAD is EXACTLY 0 — the
    * detector's two classes are cleanly separable and the threshold
    * choice is not load-bearing. Row-local: one task decodes one
    * document's whole frame sequence (the sequential SAD chain is
    * intra-doc by nature — decode parallelism = scan parallelism, no
    * shuffle at all until the final sort); at 100 TB the cost is the
    * frame-decode scan, exactly like batch image hashing. */
  def videoSceneCut(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.flatMap(MmVideo.cutsOf))
      .toDF()
      .orderBy("doc_id", "frame_no")
  }

  /** L367 — energy voice-activity detection over real WAV payloads:
    * decode the RIFF/PCM16 container (the [[MmAudio]] reader
    * convention), frame into 160-sample windows, window energy =
    * Σ s² (exact i64), speech ⟺ energy ≥ 160·10⁴, merge consecutive
    * speech windows into segments (the VAD form of gaps-and-islands),
    * report per-doc window/segment counts and speech ratio. Planted:
    * family = doc_id % 30; window w is speech iff (w·13 + f·7) mod 8
    * < 3, speech is a ±A square wave (A = 500 + 100·(f%10) — energy
    * exactly 160·A² ≥ 4·10⁷, an order above the threshold), silence
    * is exactly 0 — again two cleanly separated classes. The oracle
    * predicts counts from the window rule alone; the engine must
    * recover them through the real codec + energy path. Entirely
    * row-local (a doc's windows live in its own payload). */
  def audioVad(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map(MmVad.vadOf))
      .toDF()
      .orderBy("doc_id")
  }

  /** L368 — keyframe extraction: the composition step right after
    * L366 (shot boundaries → one representative frame per shot — the
    * unit video-level dedup, captioning, and contrastive pretraining
    * actually operate on). Shots are the segments the cut rule
    * delimits; the keyframe is the shot's FIRST frame (the
    * deterministic convention — "first frame after the cut" — that
    * needs no quality model); each row carries the shot's frame count
    * and the keyframe's exact pixel sum as a content witness, so the
    * oracle cross-checks WHICH frame was picked, not just how many.
    * Same row-local decode shape as L366. */
  def videoKeyframes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.flatMap(MmVideo.keyframesOf))
      .toDF()
      .orderBy("doc_id", "shot_no")
  }

  /** Oracle CTEs of the planted video: per family `f` the 16 frames'
    * cuts and shot index `sc(f, t, is_cut, s)`, and every frame's pixel
    * field `grid(f, t, is_cut, x, y, v)`, with `cls(doc_id, f)` in scope. */
  private val framesSql =
    """cls AS (SELECT doc_id, doc_id % 40 AS f FROM documents),
         fam AS (SELECT DISTINCT f FROM cls),
         fr AS (SELECT f, t FROM fam, (SELECT unnest(range(0, 16)) AS t)),
         c AS (SELECT f, t,
             CASE WHEN t >= 1 AND (t * 31 + f * 17) % 16 < 4
               THEN 1 ELSE 0 END AS is_cut
           FROM fr),
         sc AS (SELECT f, t, is_cut,
             SUM(is_cut) OVER (PARTITION BY f ORDER BY t) AS s
           FROM c),
         grid AS (SELECT sc.f, sc.t, sc.is_cut, x, y,
             CAST(16 + (x * (2 + s % 5) + y * (3 + s % 7)
               + s * 37 + f * 13) % 200 AS BIGINT) AS v
           FROM sc,
             (SELECT unnest(range(0, 32)) AS x) gx,
             (SELECT unnest(range(0, 24)) AS y) gy)"""

  val entries: Map[String, Op] = Map(
    "mm_video_scene_cut" -> Op(videoSceneCut,
      s"""WITH $framesSql,
         sad AS (SELECT a.f, a.t, CAST(SUM(ABS(a.v - b.v)) AS BIGINT) AS sad
           FROM grid a JOIN grid b
           ON a.f = b.f AND b.t = a.t - 1 AND a.x = b.x AND a.y = b.y
           GROUP BY 1, 2),
         cuts AS (SELECT f, t, sad FROM sad WHERE sad >= 6144)
         SELECT d.doc_id, c2.t AS frame_no, c2.sad
         FROM cls d JOIN cuts c2 USING (f)
         ORDER BY d.doc_id, c2.t"""),
    "mm_video_keyframes" -> Op(videoKeyframes,
      s"""WITH $framesSql,
         psum AS (SELECT f, t, CAST(SUM(v) AS BIGINT) AS pix
           FROM grid GROUP BY 1, 2),
         shots AS (SELECT f, CAST(s AS BIGINT) AS shot_no, t AS start_frame
           FROM sc WHERE t = 0 OR is_cut = 1),
         len AS (SELECT f, shot_no, start_frame,
             COALESCE(LEAD(start_frame) OVER
               (PARTITION BY f ORDER BY start_frame), 16) - start_frame
               AS n_frames
           FROM shots)
         SELECT d.doc_id, l.shot_no, l.start_frame, l.n_frames,
           p.pix AS key_pixel_sum
         FROM cls d JOIN len l USING (f)
           JOIN psum p ON l.f = p.f AND l.start_frame = p.t
         ORDER BY d.doc_id, l.shot_no"""),
    "mm_audio_vad" -> Op(audioVad,
      s"""WITH ${MmVad.speechWindowsSql},
         seg AS (SELECT f, wn, s,
             CASE WHEN s = 1 AND COALESCE(LAG(s) OVER
                 (PARTITION BY f ORDER BY wn), 0) = 0
               THEN 1 ELSE 0 END AS st
           FROM sp),
         agg AS (SELECT f, CAST(SUM(s) AS BIGINT) AS n_speech,
             CAST(SUM(st) AS BIGINT) AS n_segments
           FROM seg GROUP BY 1)
         SELECT doc_id, CAST(50 AS BIGINT) AS n_windows, n_speech,
           n_segments, round(n_speech / 50.0, 6) AS speech_ratio
         FROM cls JOIN agg USING (f) ORDER BY doc_id"""),
  )
}

/** Real frame codec for [[Mm4.videoSceneCut]]: 16 frames per document,
  * each a genuine 32×24 grayscale BMP through `javax.imageio` (the
  * [[MmDHash.writeBmp]]-style round trip with a per-frame pixel
  * field). A "video" here is the frame sequence keyed by (doc, t) —
  * the decode-side shape of an extracted-frames layout, which is how
  * production pipelines actually land video before per-frame ops. */
object MmVideo {
  javax.imageio.ImageIO.setUseCache(false)

  private val W = 32
  private val H = 24
  private val T = 16
  /** mean-|Δ| ≥ 8 over the 768-pixel frame. */
  private val SadThreshold = 8L * W * H
  /** The cut threshold, shared with the streaming twin. */
  def sadThreshold: Long = SadThreshold

  /** Real decode of one frame to its flattened grayscale bytes
    * (row-major) — the unit the streaming twin stores per video. */
  def decodeFramePixels(docId: Long, t: Int): Array[Byte] = {
    val raster = MmDHash.readRaster(docId, synthesizeFrame(docId, t), W, H)
    val out = new Array[Byte](W * H)
    var y = 0
    while (y < H) {
      var x = 0
      while (x < W) {
        out(y * W + x) = raster.getSample(x, y, 0).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  private def isCut(t: Int, f: Int): Boolean =
    t >= 1 && (t * 31 + f * 17) % 16 < 4

  /** Scene-s pixel field (spatial frequencies re-key per scene, so a
    * cut changes the whole field while intra-scene frames repeat
    * exactly). */
  private def px(f: Int, s: Int)(x: Int, y: Int): Int =
    16 + (x * (2 + s % 5) + y * (3 + s % 7) + s * 37 + f * 13) % 200

  /** Genuine BMP of frame t of doc's video. */
  def synthesizeFrame(docId: Long, t: Int): Array[Byte] = {
    val f = (docId % 40).toInt
    var s = 0
    var j = 1
    while (j <= t) { if (isCut(j, f)) s += 1; j += 1 }
    // direct BMP bytes (byte-identical to the ImageIO round trip —
    // FastCodec doc + Round17OptSpec); the DECODE side stays ImageIO
    FastCodec.bmpGray(W, H, px(f, s))
  }

  case class CutRow(doc_id: Long, frame_no: Long, sad: Long)
  case class KeyframeRow(doc_id: Long, shot_no: Long, start_frame: Long,
    n_frames: Long, key_pixel_sum: Long)

  /** Decode all 16 frames through the real reader, SAD each consecutive
    * pair, keep threshold crossings. */
  def cutsOf(docId: Long): Iterator[CutRow] = {
    val frames = Array.tabulate(T) { t =>
      val raster = MmDHash.readRaster(docId, synthesizeFrame(docId, t), W, H)
      Array.tabulate(H, W)((y, x) => raster.getSample(x, y, 0))
    }
    (1 until T).iterator.flatMap { t =>
      var sad = 0L
      var y = 0
      while (y < H) {
        var x = 0
        while (x < W) {
          sad += math.abs(frames(t)(y)(x) - frames(t - 1)(y)(x))
          x += 1
        }
        y += 1
      }
      if (sad >= SadThreshold) Iterator.single(CutRow(docId, t.toLong, sad))
      else Iterator.empty
    }
  }

  /** Shots from the DETECTED cut chain (not the planted rule — the
    * extractor composes with the detector, so a detector regression
    * surfaces here too), keyframe = each shot's first frame, content
    * witness = that frame's exact pixel sum. */
  def keyframesOf(docId: Long): Iterator[KeyframeRow] = {
    val frames = Array.tabulate(T) { t =>
      val raster = MmDHash.readRaster(docId, synthesizeFrame(docId, t), W, H)
      Array.tabulate(H, W)((y, x) => raster.getSample(x, y, 0))
    }
    val starts = 0 +: (1 until T).filter { t =>
      var sad = 0L
      var y = 0
      while (y < H) {
        var x = 0
        while (x < W) {
          sad += math.abs(frames(t)(y)(x) - frames(t - 1)(y)(x))
          x += 1
        }
        y += 1
      }
      sad >= SadThreshold
    }
    starts.iterator.zipWithIndex.map { case (start, shotNo) =>
      val end = if (shotNo + 1 < starts.length) starts(shotNo + 1) else T
      var pix = 0L
      var y = 0
      while (y < H) {
        var x = 0
        while (x < W) { pix += frames(start)(y)(x); x += 1 }
        y += 1
      }
      KeyframeRow(docId, shotNo.toLong, start.toLong,
        (end - start).toLong, pix)
    }
  }
}

/** Real WAV round-trip for [[Mm4.audioVad]]: 50 windows × 160 samples
  * of PCM16 mono through `javax.sound.sampled`'s own WAVE
  * writer+reader (the [[MmAudio]] convention). */
object MmVad {

  /** Oracle CTEs of the L367 planting rule: per family `f` of
    * `cls(doc_id, f)` its 50 windows `sp(f, wn, s)`, s = 1 for speech. */
  private[ops] val speechWindowsSql =
    """cls AS (SELECT doc_id, doc_id % 30 AS f FROM documents),
         fam AS (SELECT DISTINCT f FROM cls),
         w AS (SELECT f, wn FROM fam, (SELECT unnest(range(0, 50)) AS wn)),
         sp AS (SELECT f, wn,
             CASE WHEN (wn * 13 + f * 7) % 8 < 3 THEN 1 ELSE 0 END AS s
           FROM w)"""

  private val WinLen = 160
  private val NWin = 50
  /** speech ⟺ window energy ≥ 160·10⁴ (mean-square ≥ 10⁴). */
  private val EnergyThreshold = 160L * 10000L

  private def isSpeech(w: Int, f: Int): Boolean = (w * 13 + f * 7) % 8 < 3

  /** ±A square wave (period 16 samples) in speech windows, exact
    * silence elsewhere. */
  def synthesize(docId: Long): Array[Byte] = {
    val f = (docId % 30).toInt
    val amp = 500 + 100 * (f % 10)
    val n = NWin * WinLen
    val pcm = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      val s = if (!isSpeech(i / WinLen, f)) 0
        else if ((i / 8) % 2 == 0) amp else -amp
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    // direct RIFF/WAVE bytes (byte-identical to AudioSystem.write —
    // FastCodec doc + Round17OptSpec); the DECODE side stays javax.sound
    FastCodec.wavPcm16Mono(8000, pcm)
  }

  case class VadRow(doc_id: Long, n_windows: Long, n_speech: Long,
    n_segments: Long, speech_ratio: Double)

  /** Real decode via the shared [[MmAudio.samplesOf]] RIFF reader, then
    * exact-integer window energies and the island merge. */
  def vadOf(docId: Long): VadRow = {
    val samples = MmAudio.samplesOf(MmAudio.Wav(docId, synthesize(docId)))
    require(samples.length == NWin * WinLen, s"short decode for doc $docId")
    var nSpeech = 0L
    var nSeg = 0L
    var prev = false
    var w = 0
    while (w < NWin) {
      var e = 0L
      var i = w * WinLen
      val end = i + WinLen
      while (i < end) {
        e += samples(i).toLong * samples(i)
        i += 1
      }
      val sp = e >= EnergyThreshold
      if (sp) {
        nSpeech += 1
        if (!prev) nSeg += 1
      }
      prev = sp
      w += 1
    }
    VadRow(docId, NWin.toLong, nSpeech, nSeg,
      round6(nSpeech.toDouble / NWin))
  }
}
