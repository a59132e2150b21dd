package graft.ops

import graft.Tables._
import graft.functions.ArrayMath.round6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-17 multimodal widening: the two standard next stops after
  * L395/L396 —
  *
  *   - `mm_audio_mel` (L403): triangular MEL FILTERBANK energies
  *     (Stevens–Volkmann–Newman 1937 scale; the Davis & Mermelstein
  *     1980 MFCC front half) over the SAME fixed-point cosine table
  *     and PCM16 windows as the L395 single-bin DFT, widened to all
  *     seven in-band bins; the square-wave fixture makes every band
  *     energy closed-form and the band holding the fundamental must
  *     dominate (the L395 cross-pin).
  *   - `mm_image_mssim` (L404): TWO-SCALE structural similarity
  *     (Wang, Simoncelli & Bovik, Asilomar 2003) — one integer-exact
  *     2×2 mean-pool level under the L396 rational-moments kernel,
  *     with a third planted distortion (a 2×2 BLOCK stripe) whose
  *     frequency content single-scale SSIM cannot separate from the
  *     pixel checkerboard: pooling annihilates the period-1 checker
  *     (every 2×2 block sums to the base) but preserves the period-2
  *     stripe as a full-strength coarse checker, so the multi-scale
  *     score splits what the single-scale score compresses.
  *
  * Both are row-local behind the real codecs (javax.sound WAV,
  * javax.imageio BMP) — scan parallelism, zero shuffle, the honest
  * codec price the family already pays. */
object Mm8 {

  def audioMel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map(MmMel.melOf))
      .toDF()
      .orderBy("doc_id")
  }

  def imageMssim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map(MmMsSsim.mssimOf))
      .toDF()
      .orderBy("doc_id")
  }

  def audioMfcc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map(MmMfcc.mfccOf))
      .toDF()
      .orderBy("doc_id")
  }

  val entries: Map[String, Op] = Map(
    "mm_audio_mel" -> Op(audioMel, MmMel.oracleSql),
    "mm_audio_mfcc" -> Op(audioMfcc, MmMfcc.oracleSql),
    "mm_image_mssim" -> Op(imageMssim, MmMsSsim.oracleSql),
  )
}

/** L403 kernel — 5-band mel filterbank over the 160-point DFT bins
  * 10·kp (kp = 1..7, i.e. 500..3500 Hz; bin 80 is Nyquist and bin 0 is
  * DC, both excluded). Bin energies use the SAME 16-entry CosQ table
  * and exact int/BigInt arithmetic as [[MmSpectral]]; the mel
  * triangle weights are quantized ONCE in the JVM
  * (round(1024·tri_j(f))) and interpolated VERBATIM into the oracle —
  * the CosQ shared-literal convention, so no cross-engine log10/pow
  * ever runs. Band energies are then pure int64 dot products
  * (≤ 7·1024·50·32767² < 2⁶³), and the dominant band is an integer
  * argmax with smallest-index tie-break. */
object MmMel {

  /** Table strides = bins 10·kp = 500·kp Hz. */
  private val Bins = 1 to 7
  private[ops] val NMel = 5
  /** Weight quantization scale. */
  private val WQScale = 1024L

  /** Triangular mel weights at the seven bin frequencies:
    * WQ(j)(kp) = round(1024·tri_{j+1}(500·(kp+1))), with the NMel+2
    * mel-equispaced edge points over [0, 4000] Hz. Computed once here
    * (the only place the irrational mel map is evaluated) and shared
    * with the oracle as literals. */
  private[graft] val WQ: IndexedSeq[IndexedSeq[Long]] = {
    def mel(f: Double) = 2595.0 * math.log10(1 + f / 700.0)
    def melInv(m: Double) = 700.0 * (math.pow(10, m / 2595.0) - 1)
    val hi = mel(4000.0)
    val pts = (0 to NMel + 1).map(j => melInv(hi * j / (NMel + 1)))
    (1 to NMel).map { j =>
      Bins.map { kp =>
        val f = 500.0 * kp
        val (c0, c1, c2) = (pts(j - 1), pts(j), pts(j + 1))
        val t =
          if (f <= c0 || f >= c2) 0.0
          else if (f <= c1) (f - c0) / (c1 - c0)
          else (c2 - f) / (c2 - c1)
        Math.round(WQScale * t)
      }
    }
  }

  case class MelRow(doc_id: Long, e_fund: Long, mel1: Long, mel2: Long,
    mel3: Long, mel4: Long, mel5: Long, dom_band: Long)

  /** Per-doc bin energies at strides 1..7 (real decode via the shared
    * RIFF reader, the [[MmSpectral]] exact correlation sums) — shared
    * with [[MmMfcc]]. */
  private[ops] def binEnergies(docId: Long): Array[Long] = {
    val we = MmSpectral.windowEnergies(docId, Bins)
    Array.tabulate(Bins.length)(b => we.map(_(b)).sum)
  }

  /** Band energies from bin energies — the integer filterbank. */
  private[ops] def melBands(e: Array[Long]): IndexedSeq[Long] =
    (0 until NMel).map(j => Bins.indices.map(b => WQ(j)(b) * e(b)).sum)

  def melOf(docId: Long): MelRow = {
    val e = binEnergies(docId)
    val mels = melBands(e)
    // integer argmax, smallest band wins ties — mirrored in the oracle
    val dom = mels.indices.minBy(j => (-mels(j), j)) + 1L
    MelRow(docId, e(0), mels(0), mels(1), mels(2), mels(3), mels(4), dom)
  }

  /** Closed-form oracle: the L395 re-synthesis (same planting rule),
    * correlation sums at strides 1..7, the interpolated weight table,
    * and the same smallest-first argmax. */
  /** Shared oracle chain ending in `bands(f, e_fund, mel1..mel5)` (plus
    * `cls(doc_id, f)` in scope) — [[MmMfcc]] appends its cepstral CTEs. */
  private[ops] def bandsChainSql: String = {
    def melCol(j: Int): String =
      Bins.map(kp => s"${WQ(j - 1)(kp - 1)} * e$kp").mkString(" + ")
    s"""${MmSpectral.windowEnergiesSql(Bins)},
       agg AS (SELECT f,
           ${Bins.map(k => s"CAST(SUM(e$k) AS BIGINT) AS e$k")
             .mkString(",\n           ")}
         FROM we GROUP BY 1),
       bands AS (SELECT f, e1 AS e_fund,
           ${(1 to NMel).map(j => s"CAST(${melCol(j)} AS BIGINT) AS mel$j")
             .mkString(",\n           ")}
         FROM agg)"""
  }

  private[graft] def oracleSql: String = {
    val domCase = (1 to NMel).map { j =>
      val geAll = (1 to NMel).filter(_ != j)
        .map(o => s"mel$j >= mel$o").mkString(" AND ")
      s"WHEN $geAll THEN $j"
    }.mkString(" ")
    s"""WITH $bandsChainSql
       SELECT doc_id, e_fund, mel1, mel2, mel3, mel4, mel5,
         CAST(CASE $domCase END AS BIGINT) AS dom_band
       FROM cls JOIN bands USING (f) ORDER BY doc_id"""
  }
}

/** L404 kernel — two-scale MS-SSIM under the L396 exact-rational
  * window kernel. Scale 1 is the 64×64 raster; scale 2 is the 2×2
  * SUM-pool (integer-exact — SSIM is invariant under the 4× value
  * scaling once C1/C2 scale by 16: 2601→41616, 23409→374544, the same
  * denominator-clearing trick at dynamic range 4·255). Per Wang et
  * al. 2003 the coarsest scale carries luminance and every scale
  * carries contrast-structure; the published geometric exponents are
  * QUANTIZED to the rational arithmetic weighting (cs₁ + 2·l₂cs₂)/3 —
  * engine-portable where cross-libm pow() is not, and order-preserving
  * on [0,1] scores.
  *
  * Planted distortions (all |Δ| = 16, so single-scale MSE ties):
  * brightness (+16), pixel checkerboard (±16 by (x+y) parity), and
  * 2×2 BLOCK stripe (±16 by (⌊x/2⌋+⌊y/2⌋) parity). The pool kills the
  * checker exactly (each block holds two +16 and two −16) and keeps
  * the stripe at full coarse strength, so mssim ranks
  * checker > bright-vs-stripe structure the single scale cannot see —
  * Round17Spec pins the orderings. */
object MmMsSsim {
  javax.imageio.ImageIO.setUseCache(false)

  import MmSsim.{N, Size, Win, meanScore, synthesize}

  // the planted kinds are MmSsim's: 0 = base, 1 = +16 brightness,
  // 2 = ±16 pixel checker, 3 = ±16 2×2-block stripe

  /** 2×2 sum-pool — integer-exact downsample to 32×32. */
  private def pool(a: Array[Array[Long]]): Array[Array[Long]] =
    Array.tabulate(Size / 2, Size / 2)((y, x) =>
      a(2 * y)(2 * x) + a(2 * y)(2 * x + 1) +
        a(2 * y + 1)(2 * x) + a(2 * y + 1)(2 * x + 1))

  case class MsSsimRow(doc_id: Long,
    ssim_bright: Double, ssim_checker: Double, ssim_stripe: Double,
    mssim_bright: Double, mssim_checker: Double, mssim_stripe: Double)

  def mssimOf(docId: Long): MsSsimRow = {
    val f = (docId % 50).toInt
    val b1 = MmSsim.decode(synthesize(f, 0))
    val b2 = pool(b1)
    def scores(kind: Int): (Double, Double) = {
      val a1 = MmSsim.decode(synthesize(f, kind))
      val a2 = pool(a1)
      val s1 = meanScore(b1, a1, Size, withL = true, 2601L, 23409L)
      val cs1 = meanScore(b1, a1, Size, withL = false, 2601L, 23409L)
      val s2 = meanScore(b2, a2, Size / 2, withL = true, 41616L, 374544L)
      (s1, round6((cs1 + 2 * s2) / 3))
    }
    val (sb, mb) = scores(1)
    val (sc, mc) = scores(2)
    val (ss, ms) = scores(3)
    MsSsimRow(docId, sb, sc, ss, mb, mc, ms)
  }

  /** Closed-form oracle: the per-kind pixel formulas, scale-1 full and
    * cs-only rationals, the 2×2 sum-pool CTE, scale-2 rational with the
    * 16×-scaled constants, and the same (cs₁ + 2·s₂)/3 combine. */
  private[graft] def oracleSql: String = {
    import MmSsim.{fullSwSql, meanSql, momentsSql, n2, pxSql, ssimColSql}
    def v(kind: Int): String = MmSsim.pixelSql(kind)
    def csSw(c2n: Long): String =
      s"""SELECT round(
           CAST(800 * ($N * sxy - sx * sy) + $c2n * $n2 AS DOUBLE)
           / CAST(400 * ($N * sxx - sx * sx + $N * syy - sy * sy)
               + $c2n * $n2 AS DOUBLE), 6) AS sw"""
    def px2(kind: Int): String =
      s"""(SELECT x // 2 AS x, y // 2 AS y, CAST(SUM(${v(0)}) AS BIGINT) AS a,
           CAST(SUM(${v(kind)}) AS BIGINT) AS b
         FROM px WHERE px.f = fam.f GROUP BY 1, 2)"""
    def cs1(kind: Int): String =
      meanSql(s"${csSw(23409L)} FROM (${momentsSql(pxSql(kind))})", Size / Win)
    def s2(kind: Int): String =
      meanSql(s"${fullSwSql(41616L, 374544L)} FROM (${momentsSql(px2(kind))})",
        Size / 2 / Win)
    def ms(kind: Int, as: String): String =
      s"round((${cs1(kind)} + 2 * ${s2(kind)}) / 3, 6) AS $as"
    s"""WITH ${MmSsim.pixelGridSql},
       scores AS (SELECT fam.f,
           ${ssimColSql(1, "ssim_bright")},
           ${ssimColSql(2, "ssim_checker")},
           ${ssimColSql(3, "ssim_stripe")},
           ${ms(1, "mssim_bright")},
           ${ms(2, "mssim_checker")},
           ${ms(3, "mssim_stripe")}
         FROM (SELECT DISTINCT f FROM cls) fam)
       SELECT doc_id, ssim_bright, ssim_checker, ssim_stripe,
         mssim_bright, mssim_checker, mssim_stripe
       FROM cls JOIN scores USING (f) ORDER BY doc_id"""
  }
}

/** L407 kernel — MFCC coefficients (Davis & Mermelstein IEEE TASSP
  * 1980: DCT-II of the log mel-band energies — the back half of the
  * front-end whose filterbank is [[MmMel]]; together they are THE
  * classic audio feature every speech pipeline computed before learned
  * encoders, and the decorrelation step that turns correlated band
  * energies into the compact cepstral vector). Exactness: the log is
  * [[Llm14.qlogJvm]] — the 1/64-unit integer log₂ the tokenizer family
  * already shares across engines — and the DCT basis is one quantized
  * table CosD[m][j] = round(1024·cos(π·m·(2j+1)/10)) computed once in
  * the JVM and interpolated VERBATIM into the oracle (the CosQ
  * convention), so every coefficient is a pure int64 dot product:
  * c_m = Σ_j CosD[m][j] · qlog(mel_j). c₀ collapses to 1024·Σ qlog
  * (cos 0 = 1 — the spec's closed-form pin). Row-local decode, zero
  * data shuffle. */
object MmMfcc {

  /** Quantized DCT-II basis over [[MmMel.NMel]] bands. */
  private[graft] val CosD: IndexedSeq[IndexedSeq[Long]] =
    (0 until MmMel.NMel).map { m =>
      (0 until MmMel.NMel).map { j =>
        Math.round(1024.0 *
          math.cos(math.Pi * m * (2 * j + 1) / (2.0 * MmMel.NMel)))
      }
    }

  case class MfccRow(doc_id: Long, lq1: Long, lq2: Long, lq3: Long,
    lq4: Long, lq5: Long, c0: Long, c1: Long, c2: Long, c3: Long, c4: Long)

  def mfccOf(docId: Long): MfccRow = {
    val lq = MmMel.melBands(MmMel.binEnergies(docId))
      .map(Llm14.qlogJvm)
    val c = (0 until MmMel.NMel).map(m =>
      (0 until MmMel.NMel).map(j => CosD(m)(j) * lq(j)).sum)
    MfccRow(docId, lq(0), lq(1), lq(2), lq(3), lq(4),
      c(0), c(1), c(2), c(3), c(4))
  }

  /** Oracle: the [[MmMel]] chain through `bands`, then qlogDuck +
    * the interpolated DCT literals. */
  private[graft] def oracleSql: String = {
    val lqCols = (1 to MmMel.NMel).map(j =>
      s"CAST(${Llm14.qlogDuck(s"mel$j")} AS BIGINT) AS lq$j")
      .mkString(",\n           ")
    val cCols = (0 until MmMel.NMel).map { m =>
      val terms = (1 to MmMel.NMel)
        .map(j => s"${CosD(m)(j - 1)} * lq$j").mkString(" + ")
      s"CAST($terms AS BIGINT) AS c${m}"
    }.mkString(",\n           ")
    s"""WITH ${MmMel.bandsChainSql},
       lq AS (SELECT f,
           $lqCols
         FROM bands),
       co AS (SELECT f, lq1, lq2, lq3, lq4, lq5,
           $cCols
         FROM lq)
       SELECT doc_id, lq1, lq2, lq3, lq4, lq5, c0, c1, c2, c3, c4
       FROM cls JOIN co USING (f) ORDER BY doc_id"""
  }
}
