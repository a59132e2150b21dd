package graft.ops

import graft.Tables._
import graft.functions.ArrayMath.round6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 multimodal widening: frequency-domain audio features — the
  * family's first spectral op (VERDICT r15 #4: energy, ZCR, resample,
  * decimation are all time-domain). Single-bin DFT energies at three
  * fixed analysis frequencies plus the spectral centroid — the
  * Goertzel-style per-bin readout (Goertzel 1958) every audio pipeline
  * computes before any model pass, evaluated here in the direct
  * correlation form: Goertzel's recurrence needs the IRRATIONAL
  * coefficient 2·cos(ω) whose rounding compounds over 160 steps, while
  * the direct form S_c = Σ x·cosQ, S_s = Σ x·sinQ applies quantization
  * ONCE per sample — so with one FIXED-POINT integer cosine table
  * (the L360 pHash convention) every decision is exact int/decimal and
  * the oracle shares the table verbatim. */
object Mm7 {

  def audioSpectral(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map(MmSpectral.spectralOf))
      .toDF()
      .orderBy("doc_id")
  }

  def imageSsim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map(MmSsim.ssimOf))
      .toDF()
      .orderBy("doc_id")
  }

  val entries: Map[String, Op] = Map(
    "mm_audio_spectral" -> Op(audioSpectral, MmSpectral.oracleSql),
    "mm_image_ssim" -> Op(imageSsim, MmSsim.oracleSql),
  )
}

/** L395 kernel — single-bin DFT over the SHARED L367 RIFF/PCM16
  * payloads (50 windows × 160 samples at 8 kHz; speech = ±A square
  * wave of period 16, silence exactly 0). Analysis bins k ∈ {10, 20,
  * 30} of the 160-point DFT = 500 / 1000 / 1500 Hz — chosen for the
  * physics the ZCR twin already pinned: 19 interior flips per speech
  * window ⟺ period 16 ⟺ fundamental at exactly bin 10, so the
  * fundamental bin must carry the energy (the cross-pin), the THIRD
  * harmonic (bin 30) carries ≈ 1/9 of it (square-wave 1/k amplitude
  * law), and the EVEN harmonic (bin 20) is EXACTLY zero — x has
  * half-period antiperiodicity x[n+8] = −x[n] while the bin-20 basis
  * has period 8, so contributions cancel pairwise even under table
  * quantization.
  *
  * Exactness: ONE 16-entry table CosQ[m] = round(4096·cos(πm/8))
  * serves all three bins (index k·i mod 16) and both phases
  * (sin θ = cos(θ − π/2) → index +12 mod 16). The table is computed
  * once in the JVM and interpolated VERBATIM into the oracle SQL (the
  * L384 BhCrit shared-literal convention — no cross-libm cos
  * anywhere). Window energy e_k = (S_c² + S_s²) div (4096·160)², the
  * squares in 128-bit (BigInt ⋄ HUGEINT, the L389 Otsu pairing) so
  * full-scale PCM16 cannot overflow; e_k ≤ 32767² always fits i64.
  * Per-doc sums, fundamental-energy ratio and spectral centroid
  * follow as exact-integer-fed round-6 doubles. Row-local decode —
  * scan parallelism, zero shuffle. */
object MmSpectral {

  private val WinLen = 160
  private val NWin = 50
  private val Q = 4096L
  /** (Q·WinLen)² — the per-window energy normalizer. */
  private val Norm = Q * WinLen * Q * WinLen
  /** Analysis bins of the 160-point DFT as table strides: the basis at
    * bin k = 10·kp has angle step 2πk/160 = kp·π/8, i.e. table index
    * kp·i mod 16 — strides 1/2/3 are bins 10/20/30 = 500/1000/1500 Hz. */
  private val Bins = Seq(1, 2, 3)
  private def hz(kp: Int): Int = kp * 10 * 8000 / WinLen

  /** round(4096·cos(πm/8)), m = 0..15 — the one quantized basis table. */
  private[graft] val CosQ: IndexedSeq[Long] =
    (0 until 16).map(m => Math.round(Q * Math.cos(Math.PI * m / 8)))

  case class SpectralRow(doc_id: Long, n_speech: Long, e_fund: Long,
    e_h2: Long, e_h3: Long, fund_ratio: Double, centroid_hz: Double)

  /** Real decode via the shared [[MmAudio.samplesOf]] RIFF reader, then
    * the exact-integer correlation sums: `e(w)(b)` is window w's energy
    * at table stride `bins(b)`. */
  private[ops] def windowEnergies(docId: Long, bins: Seq[Int]): Array[Array[Long]] = {
    val samples = MmAudio.samplesOf(MmAudio.Wav(docId, MmVad.synthesize(docId)))
    require(samples.length == NWin * WinLen, s"short decode for doc $docId")
    Array.tabulate(NWin, bins.length) { (w, b) =>
      val kp = bins(b)
      var sc = 0L
      var ss = 0L
      var i = w * WinLen
      val end = i + WinLen
      while (i < end) {
        val x = samples(i).toLong
        sc += x * CosQ((kp * i) % 16)
        ss += x * CosQ((kp * i + 12) % 16)
        i += 1
      }
      ((BigInt(sc) * sc + BigInt(ss) * ss) / Norm).toLong
    }
  }

  /** Per-doc bin energies summed over windows, the speech-window count
    * (fundamental energy > 0), fundamental ratio and spectral centroid. */
  def spectralOf(docId: Long): SpectralRow = {
    val we = windowEnergies(docId, Bins)
    val nSpeech = we.count(_(0) > 0).toLong
    val e = Bins.indices.map(b => we.map(_(b)).sum)
    val tot = e.sum
    SpectralRow(docId, nSpeech, e(0), e(1), e(2),
      round6(e(0).toDouble / tot),
      round6(Bins.indices.map(b => hz(Bins(b)).toDouble * e(b)).sum / tot))
  }

  /** Closed-form oracle: re-synthesize the sample values from the L367
    * planting rule, evaluate the SAME table/sums/normalizer in SQL.
    * Division by a zero total cannot occur: (w·13 + f·7) mod 8 sweeps
    * all residues as w varies (13 is odd), so every family has speech
    * windows and e_fund > 0. */
  private[graft] def oracleSql: String =
    s"""WITH ${windowEnergiesSql(Bins)},
       agg AS (SELECT f,
           CAST(SUM(CASE WHEN e1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_speech,
           CAST(SUM(e1) AS BIGINT) AS e_fund,
           CAST(SUM(e2) AS BIGINT) AS e_h2,
           CAST(SUM(e3) AS BIGINT) AS e_h3
         FROM we GROUP BY 1)
       SELECT doc_id, n_speech, e_fund, e_h2, e_h3,
         round(e_fund / CAST(e_fund + e_h2 + e_h3 AS DOUBLE), 6) AS fund_ratio,
         round((${hz(1)} * e_fund + ${hz(2)} * e_h2 + ${hz(3)} * e_h3)
           / CAST(e_fund + e_h2 + e_h3 AS DOUBLE), 6) AS centroid_hz
       FROM cls JOIN agg USING (f) ORDER BY doc_id"""

  /** Oracle twin of [[windowEnergies]]: the planted samples re-synthesized
    * per family, then `we(f, w, e<kp>...)` for each stride in `bins`, with
    * `cls(doc_id, f)` in scope. */
  private[ops] def windowEnergiesSql(bins: Seq[Int]): String = {
    val lst = CosQ.mkString("[", ", ", "]")
    def sumTerm(kp: Int, phase: Int, as: String): String =
      s"CAST(SUM(x * ($lst)[((($kp * i + $phase) % 16)) + 1]) AS BIGINT) AS $as"
    def energy(kp: Int): String =
      s"CAST((CAST(sc$kp AS HUGEINT) * sc$kp + CAST(ss$kp AS HUGEINT) * ss$kp) // $Norm AS BIGINT) AS e$kp"
    s"""cls AS (SELECT doc_id, doc_id % 30 AS f FROM documents),
       fam AS (SELECT DISTINCT f FROM cls),
       smp AS (SELECT f, i,
           CASE WHEN ((i // $WinLen) * 13 + f * 7) % 8 < 3
             THEN (CASE WHEN (i // 8) % 2 = 0 THEN 500 + 100 * (f % 10)
                   ELSE -(500 + 100 * (f % 10)) END)
             ELSE 0 END AS x
         FROM fam, (SELECT unnest(range(0, ${NWin * WinLen})) AS i)),
       win AS (SELECT f, i // $WinLen AS w,
           ${bins.map(k => sumTerm(k, 0, s"sc$k") + ",\n            " +
             sumTerm(k, 12, s"ss$k")).mkString(",\n           ")}
         FROM smp GROUP BY 1, 2),
       we AS (SELECT f, w,
           ${bins.map(energy).mkString(",\n           ")}
         FROM win)"""
  }
}

/** L396 kernel — SSIM (structural similarity; Wang, Bovik, Sheikh &
  * Simoncelli, IEEE TIP 2004) as the GRADED image-similarity score the
  * L354/L360/L361 hash triad cannot express: the hashes give a binary
  * near-dup verdict, SSIM gives the quality-aware threshold number an
  * image-dedup pipeline tunes on. Computed per document against two
  * planted twins with IDENTICAL per-pixel |Δ| = 16 — a pure +16
  * brightness shift and a ±16 checkerboard — so both twins have
  * EXACTLY the same MSE while SSIM must rank brightness ≫ noise: the
  * textbook SSIM-vs-MSE separation, and the ordering the spec pins.
  *
  * Exactness: over each 8×8 window (n = 64 pixels), SSIM's l·cs
  * product is evaluated as ONE exact rational of integer moments —
  * with C1 = (0.01·255)² = 2601/400 and C2 = (0.03·255)² = 23409/400,
  * multiplying each factor by 400 clears every denominator:
  *   F1 = 800·sx·sy + 2601·n²      F2 = 800·(n·sxy − sx·sy) + 23409·n²
  *   G1 = 400·(sx² + sy²) + 2601·n²
  *   G2 = 400·(n·sxx − sx² + n·syy − sy²) + 23409·n²
  *   ssim_w = (F1·F2) / (G1·G2)
  * The products need 128 bits (BigInt ⋄ HUGEINT, the L389 pairing);
  * x = y gives F1 = G1 and F2 = G2, so the self-score is EXACTLY 1
  * before any floating point. Per-window scores are round-6 doubles,
  * the per-image mean goes through an exact DECIMAL(18,6) sum (the
  * dsum convention) — cross-engine stable end to end. Payloads are
  * genuine 64×64 BMPs with headroom (v ∈ [32, 223]) so the +16 shift
  * never clamps; all three images round-trip the real javax.imageio
  * codec. Row-local — scan parallelism, zero shuffle. */
object MmSsim {
  javax.imageio.ImageIO.setUseCache(false)

  private[ops] val Size = 64
  private[ops] val Win = 8
  private[ops] val N = Win * Win // pixels per window
  private[ops] val Shift = 16L

  /** Base pixel: vS(x,y) = 32 + (7x + 13y + 31·(doc%50)) mod 192. */
  private def base(f: Int)(x: Int, y: Int): Long =
    32L + (x * 7 + y * 13 + f * 31) % 192

  /** kind 0 = base, 1 = brightness twin (+16), 2 = checkerboard twin
    * (±16 by (x+y) parity — same |Δ| as the shift, pure structure),
    * 3 = ±16 2×2-block stripe (the [[MmMsSsim]] coarse-scale twin). */
  private def pixel(f: Int, kind: Int)(x: Int, y: Int): Long = kind match {
    case 0 => base(f)(x, y)
    case 1 => base(f)(x, y) + Shift
    case 2 => base(f)(x, y) + (if ((x + y) % 2 == 0) Shift else -Shift)
    case _ => base(f)(x, y) +
      (if ((x / 2 + y / 2) % 2 == 0) Shift else -Shift)
  }

  /** Oracle CTEs: the families `cls(doc_id, f)` and every family's pixel
    * coordinates `px(f, x, y)`. */
  private[ops] val pixelGridSql =
    s"""cls AS (SELECT doc_id, doc_id % 50 AS f FROM documents),
       px AS (SELECT f, x, y
         FROM (SELECT DISTINCT f FROM cls),
           (SELECT unnest(range(0, $Size)) AS x),
           (SELECT unnest(range(0, $Size)) AS y))"""

  /** Oracle twin of [[pixel]]. */
  private[ops] def pixelSql(kind: Int): String = kind match {
    case 0 => "32 + (x * 7 + y * 13 + f * 31) % 192"
    case 1 => s"32 + (x * 7 + y * 13 + f * 31) % 192 + $Shift"
    case 2 => s"32 + (x * 7 + y * 13 + f * 31) % 192 + " +
      s"(CASE WHEN (x + y) % 2 = 0 THEN $Shift ELSE -$Shift END)"
    case _ => s"32 + (x * 7 + y * 13 + f * 31) % 192 + " +
      s"(CASE WHEN ((x // 2) + (y // 2)) % 2 = 0 THEN $Shift ELSE -$Shift END)"
  }

  private[ops] def synthesize(f: Int, kind: Int): Array[Byte] =
    // direct BMP bytes (byte-identical to the ImageIO round trip —
    // FastCodec doc + Round17OptSpec); the DECODE side stays ImageIO
    FastCodec.bmpGray(Size, Size, (x, y) => pixel(f, kind)(x, y).toInt)

  private[graft] def decode(payload: Array[Byte]): Array[Array[Long]] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null && img.getWidth == Size && img.getHeight == Size,
      "bad ssim payload")
    val raster = img.getRaster
    Array.tabulate(Size, Size)((y, x) => raster.getSample(x, y, 0).toLong)
  }

  /** Mean windowed SSIM between two decoded rasters — the exact-rational
    * per-window form above, then a decimal mean of round-6 scores. */
  private[graft] def ssim(a: Array[Array[Long]], b: Array[Array[Long]]): Double =
    meanScore(a, b, Size, withL = true, 2601L, 23409L)

  /** Mean windowed score over `size`² pixels: full l·cs SSIM when
    * `withL`, contrast-structure only otherwise; `c1n`/`c2n` are the
    * 400-scaled stability constants (16× at a 2×2-pooled scale). */
  private[ops] def meanScore(a: Array[Array[Long]], b: Array[Array[Long]],
      size: Int, withL: Boolean, c1n: Long, c2n: Long): Double = {
    var acc = BigDecimal(0)
    val nw = size / Win
    var by = 0
    while (by < nw) {
      var bx = 0
      while (bx < nw) {
        var sx, sy, sxx, syy, sxy = 0L
        var y = by * Win
        while (y < (by + 1) * Win) {
          var x = bx * Win
          while (x < (bx + 1) * Win) {
            val u = a(y)(x); val v = b(y)(x)
            sx += u; sy += v; sxx += u * u; syy += v * v; sxy += u * v
            x += 1
          }
          y += 1
        }
        val n2 = N.toLong * N
        val f2 = BigInt(800L * (N * sxy - sx * sy) + c2n * n2)
        val g2 = BigInt(400L * (N * sxx - sx * sx + N * syy - sy * sy) + c2n * n2)
        val sw =
          if (withL) {
            val f1 = BigInt(800L * sx * sy + c1n * n2)
            val g1 = BigInt(400L * (sx * sx + sy * sy) + c1n * n2)
            round6((f1 * f2).toDouble / (g1 * g2).toDouble)
          } else round6(f2.toDouble / g2.toDouble)
        acc += BigDecimal(sw).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        bx += 1
      }
      by += 1
    }
    round6((acc / (nw * nw)).toDouble)
  }

  case class SsimRow(doc_id: Long, ssim_self: Double, ssim_bright: Double,
    ssim_noise: Double)

  def ssimOf(docId: Long): SsimRow = {
    val f = (docId % 50).toInt
    val b = decode(synthesize(f, 0))
    SsimRow(docId, ssim(b, b),
      ssim(b, decode(synthesize(f, 1))),
      ssim(b, decode(synthesize(f, 2))))
  }

  // ---- oracle SQL pieces, shared with MmMsSsim ----
  private[ops] val n2 = N.toLong * N // scale of the SSIM constants

  /** Windowed moments of (base a, kind b) from a source of (x, y, a, b). */
  private[ops] def momentsSql(src: String): String =
    s"""SELECT CAST(SUM(a) AS BIGINT) AS sx, CAST(SUM(b) AS BIGINT) AS sy,
           CAST(SUM(a * a) AS BIGINT) AS sxx, CAST(SUM(b * b) AS BIGINT) AS syy,
           CAST(SUM(a * b) AS BIGINT) AS sxy
         FROM $src GROUP BY x // $Win, y // $Win"""

  /** The exact decimal mean of `inner`'s window scores `sw` over an
    * `nw`×`nw` window grid, rounded to 6 dp. */
  private[ops] def meanSql(inner: String, nw: Int): String =
    s"""(SELECT round(CAST(SUM(CAST(sw AS DECIMAL(18,6))) AS DOUBLE)
             / ${nw * nw}, 6) FROM ($inner))"""

  /** The 400-scaled full SSIM rational per window, HUGEINT products,
    * rounded to 6 dp, with the n²-scaled constants `c1n`, `c2n`. */
  private[ops] def fullSwSql(c1n: Long, c2n: Long): String =
    s"""SELECT round(
           CAST((CAST(800 * sx * sy + $c1n * $n2 AS HUGEINT)
               * (800 * ($N * sxy - sx * sy) + $c2n * $n2)) AS DOUBLE)
           / CAST((CAST(400 * (sx * sx + sy * sy) + $c1n * $n2 AS HUGEINT)
               * (400 * ($N * sxx - sx * sx + $N * syy - sy * sy)
                 + $c2n * $n2)) AS DOUBLE), 6) AS sw"""

  /** The (x, y, base, kind) pixels of the current family `fam.f`. */
  private[ops] def pxSql(kind: Int): String =
    s"""(SELECT x, y, CAST(${pixelSql(0)} AS BIGINT) AS a,
           CAST(${pixelSql(kind)} AS BIGINT) AS b
         FROM px WHERE px.f = fam.f)"""

  /** Full-scale SSIM of base vs `kind` as column `as`. */
  private[ops] def ssimColSql(kind: Int, as: String): String =
    meanSql(s"${fullSwSql(2601L, 23409L)} FROM (${momentsSql(pxSql(kind))})",
      Size / Win) + s" AS $as"

  /** Closed-form oracle: pixel formulas per (family, kind), the same
    * 400-scaled rational per window, HUGEINT products, round-6 window
    * scores, exact decimal mean. */
  private[graft] def oracleSql: String =
    s"""WITH $pixelGridSql,
       scores AS (SELECT fam.f,
           ${ssimColSql(0, "ssim_self")},
           ${ssimColSql(1, "ssim_bright")},
           ${ssimColSql(2, "ssim_noise")}
         FROM (SELECT DISTINCT f FROM cls) fam)
       SELECT doc_id, ssim_self, ssim_bright, ssim_noise
       FROM cls JOIN scores USING (f) ORDER BY doc_id"""
}
