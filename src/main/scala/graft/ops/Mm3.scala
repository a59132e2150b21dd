package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 multimodal widening: the two perceptual-hash siblings the
  * r14 VERDICT asked for beside L354's aHash — DCT pHash (the
  * frequency-domain refinement: hash bits come from low-frequency DCT
  * coefficients thresholded at their median, so a substantial
  * pixel-level edit whose energy is high-frequency leaves the hash
  * untouched) and dHash (Krawetz's gradient hash: bits are
  * horizontal block-mean comparisons, exactly invariant to any
  * zero-mean-per-block perturbation). Together with aHash these are
  * the standard triad CLIP-style multimodal dedup pipelines run.
  *
  * Shared contract with L354: payloads are genuine BMP containers
  * round-tripped through the real `javax.imageio` encoder+decoder (the
  * container ships no image fixtures — the MmDecode round-9
  * convention); every hash-bit decision is EXACT INTEGER arithmetic so
  * cross-engine parity is by construction; the 64 bits band 4×16 and
  * the band value is the shuffle key (pair volume ∝ collisions, never
  * all-pairs); candidates verify by exact Hamming; output is the
  * per-Hamming pair histogram — scale-stable where a pair dump is not.
  *
  * Planted structure (both keys): doc_id % 50 keys the image family
  * with FAMILY-DEPENDENT spatial frequencies (x·(3+f%7) + y·(5+f%11) —
  * a family-constant phase shift alone would leave low-frequency
  * structure degenerate across families), and every third doc carries
  * a ±8 full-field CHECKERBOARD edit — every pixel changes, yet the
  * edit is pure high-frequency and zero-mean over any aligned
  * even-sided block, so pHash (measured: Hamming 0 for all 50
  * families) and dHash (provably Hamming 0) both see through it while
  * a raw-byte hash sees a completely different image. Round15bSpec
  * pins the invariance, the substantial-edit premise (all pixels
  * differ), and the real-decode round trip.
  */
object Mm3 {

  /** Shared band-join + exact-Hamming histogram over a 64-bit hash
    * packed as four 16-bit bands (the L354 shape): bucket-join on band
    * equality, distinct candidate pairs, verify by `bit_count` of the
    * four band XORs, keep Hamming ≤ maxHam, return the per-Hamming
    * pair histogram. The hash frame is localCheckpointed — it feeds
    * the band join and both verify legs. */
  private[ops] def pairHistogram(hashes0: DataFrame, maxHam: Int): DataFrame = {
    val hashes = hashes0.localCheckpoint(true)
    val bands = hashes.select(col("doc_id"),
      posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
        .as(Seq("band_no", "bv")))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_no") === col("y.band_no") &&
          col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    def side(tag: String) = hashes.select(col("doc_id").as(tag),
      col("b0").as(s"${tag}_b0"), col("b1").as(s"${tag}_b1"),
      col("b2").as(s"${tag}_b2"), col("b3").as(s"${tag}_b3"))
    val ham = (0 to 3).map(i => expr(
      s"bit_count(cast(d1_b$i as int) ^ cast(d2_b$i as int))"))
      .reduce(_ + _)
    cand.join(side("d1"), "d1").join(side("d2"), "d2")
      .select(col("d1"), col("d2"), ham.cast("int").as("hamming"))
      .where(col("hamming") <= maxHam)
      .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
      .orderBy("hamming")
  }

  /** L360 — DCT perceptual-hash (pHash) image near-duplicate
    * detection: decode the 32×32 BMP, take the 2-D DCT-II (separable,
    * FIXED-POINT: the 8×32 cosine table is `round(cos·2¹⁴)` as
    * integers, so every coefficient is an exact i64 — and the SAME
    * Scala-computed table is inlined into the DuckDB oracle as a
    * VALUES literal, removing even the cross-libm cos question), keep
    * the 63 low-frequency AC coefficients (u,v < 8, DC dropped —
    * which is what makes the hash brightness-invariant), threshold
    * each at the exact order-statistic median (32nd smallest — a
    * multiset order statistic, tie-order-invariant), band, bucket-join,
    * verify Hamming ≤ 10. Row-local decode+DCT (a 32×32 fixed-point
    * DCT is ~16k multiply-adds — decode parallelism = scan
    * parallelism); the only shuffle is the band key. */
  def imagePHashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pairHistogram(
      fanout(documents(spark, dir)
          .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
        .mapPartitions(_.map(id =>
          MmPHash.decodeHash(id, MmPHash.synthesize(id))))
        .toDF(),
      maxHam = 10)
  }

  /** L361 — difference-hash (dHash) image near-duplicate detection:
    * decode the 36×32 BMP, 4×4 block sums → a 9×8 grid, bit(r,c) ⟺
    * sum(r,c+1) > sum(r,c) (equal-sized blocks, so the mean compare is
    * an exact integer sum compare) — the horizontal-gradient hash,
    * EXACTLY invariant to any perturbation that is zero-mean over
    * every aligned 4×4 block (the planted checkerboard: 8 pixels at
    * +8, 8 at −8 per block). Same banding/verify/histogram contract
    * as L354/L360. */
  def imageDHashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pairHistogram(
      fanout(documents(spark, dir)
          .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
        .mapPartitions(_.map(id =>
          MmDHash.decodeHash(id, MmDHash.synthesize(id))))
        .toDF(),
      maxHam = 10)
  }

  /** The closed-form pixel field both oracles predict hashes from
    * (WxH supplied per hash): v(x,y) = 16 + (x·(3+f%7) + y·(5+f%11)
    * + 31f) mod 200, ±8 checkerboard for every third doc — range
    * [8, 223], no clamping anywhere. */
  private def gridSql(w: Int, h: Int): String =
    s"""cls AS (SELECT doc_id, doc_id % 50 AS f,
           CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS p
         FROM documents),
       img AS (SELECT DISTINCT f, p FROM cls),
       grid AS (SELECT f, p, x, y,
           CAST(16 + (x * (3 + f % 7) + y * (5 + f % 11) + f * 31) % 200
             + CASE WHEN p = 1 THEN
                 CASE WHEN (x + y) % 2 = 0 THEN 8 ELSE -8 END
               ELSE 0 END AS BIGINT) AS v
         FROM img,
           (SELECT unnest(range(0, $w)) AS x) gx,
           (SELECT unnest(range(0, $h)) AS y) gy)"""

  /** Shared band→candidate→Hamming-histogram oracle tail over a
    * `bits(f, p, b, bit)` CTE (the L354 shape). */
  private[ops] def histogramSql(maxHam: Int): String =
    s"""band AS (SELECT f, p, b // 16 AS band_no,
             CAST(SUM(bit * (CAST(1 AS BIGINT) << (b % 16))) AS INT) AS bv
           FROM bits GROUP BY 1, 2, 3),
         db AS (SELECT doc_id, band_no, bv
           FROM cls JOIN band USING (f, p)),
       cand AS (SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
           FROM db x JOIN db y
           ON x.band_no = y.band_no AND x.bv = y.bv
             AND x.doc_id < y.doc_id),
       hb AS (SELECT doc_id,
             MAX(CASE WHEN band_no = 0 THEN bv END) AS b0,
             MAX(CASE WHEN band_no = 1 THEN bv END) AS b1,
             MAX(CASE WHEN band_no = 2 THEN bv END) AS b2,
             MAX(CASE WHEN band_no = 3 THEN bv END) AS b3
           FROM db GROUP BY 1),
       h AS (SELECT d1, d2,
             CAST(bit_count(xor(h1.b0, h2.b0)) + bit_count(xor(h1.b1, h2.b1))
               + bit_count(xor(h1.b2, h2.b2)) + bit_count(xor(h1.b3, h2.b3))
               AS INT) AS hamming
           FROM cand JOIN hb h1 ON cand.d1 = h1.doc_id
             JOIN hb h2 ON cand.d2 = h2.doc_id)
       SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
       FROM h WHERE hamming <= $maxHam GROUP BY 1 ORDER BY 1"""

  val entries: Map[String, Op] = Map(
    "mm_image_phash_dedup" -> Op(imagePHashDedup,
      s"""WITH ${gridSql(32, 32)},
         ct AS (SELECT * FROM (VALUES ${MmPHash.cosTableValues}) t(u, i, c)),
         s1 AS (SELECT g.f, g.p, g.x, ct.u AS vv,
             CAST(SUM(g.v * ct.c) AS BIGINT) AS s
           FROM grid g JOIN ct ON ct.i = g.y GROUP BY 1, 2, 3, 4),
         coef AS (SELECT s1.f, s1.p, ct.u AS u, s1.vv,
             CAST(SUM(s1.s * ct.c) AS BIGINT) AS cf
           FROM s1 JOIN ct ON ct.i = s1.x GROUP BY 1, 2, 3, 4),
         ac AS (SELECT f, p, u * 8 + vv AS b, cf FROM coef
           WHERE NOT (u = 0 AND vv = 0)),
         med AS (SELECT f, p, cf AS md FROM
             (SELECT f, p, cf, ROW_NUMBER() OVER
               (PARTITION BY f, p ORDER BY cf) AS rn FROM ac)
           WHERE rn = 32),
         bits AS (SELECT ac.f, ac.p, ac.b,
             CASE WHEN ac.cf > med.md THEN 1 ELSE 0 END AS bit
           FROM ac JOIN med USING (f, p)),
         ${histogramSql(10)}"""),
    "mm_image_dhash_dedup" -> Op(imageDHashDedup,
      s"""WITH ${gridSql(36, 32)},
         blk AS (SELECT f, p, y // 4 AS r, x // 4 AS c,
             CAST(SUM(v) AS BIGINT) AS s
           FROM grid GROUP BY 1, 2, 3, 4),
         bits AS (SELECT a.f, a.p, a.r * 8 + a.c AS b,
             CASE WHEN b2.s > a.s THEN 1 ELSE 0 END AS bit
           FROM blk a JOIN blk b2
           ON a.f = b2.f AND a.p = b2.p AND a.r = b2.r AND b2.c = a.c + 1
           WHERE a.c < 8),
         ${histogramSql(10)}"""),
  )
}

/** 64-bit hash packed as four 16-bit bands — the frame both Mm3 hash
  * mappers return (band 0 of the pHash leaves bit 0 — the dropped DC
  * slot — always clear). */
case class Mm3HashRow(doc_id: Long, b0: Int, b1: Int, b2: Int, b3: Int)

/** Fixed-point DCT pHash over a REAL 32×32 BMP round-trip (the
  * [[MmAHash]] convention: payloads are genuine BMP containers written
  * through `javax.imageio`'s own encoder from the closed-form pixel
  * field, read back with the real reader before hashing — not
  * circular, because the oracle predicts every bit independently from
  * the pixel formula and the shared integer cosine table). */
object MmPHash {
  javax.imageio.ImageIO.setUseCache(false)

  private val Size = 32

  /** C(u)(x) = round(cos(π(2x+1)u/64)·2¹⁴) — the 8×32 fixed-point
    * DCT-II basis. Every entry sits ≥ 0.0104 from a rounding boundary
    * (Round15bSpec pins it), so the table is libm-stable; the oracle
    * nonetheless inlines THESE integers verbatim ([[cosTableValues]]),
    * making parity unconditional. */
  val cosT: Array[Array[Int]] = Array.tabulate(8, Size)((u, x) =>
    math.round(math.cos(math.Pi * (2 * x + 1) * u / 64) * 16384).toInt)

  /** The table as a DuckDB VALUES literal `(u, i, c)`. */
  val cosTableValues: String =
    (for (u <- 0 until 8; x <- 0 until Size)
      yield s"($u,$x,${cosT(u)(x)})").mkString(",")

  private[ops] def pixel(f: Int, pert: Boolean, x: Int, y: Int): Int = {
    var v = 16 + (x * (3 + f % 7) + y * (5 + f % 11) + f * 31) % 200
    if (pert) v += (if ((x + y) % 2 == 0) 8 else -8)
    v
  }

  /** Genuine grayscale BMP of the family field (family = doc%50,
    * checkerboard ±8 for every third doc; range [8, 223] — no
    * clamping, the perturbation stays exactly zero-mean). */
  def synthesize(docId: Long): Array[Byte] =
    MmDHash.writeBmp(Size, Size, (docId % 50).toInt, docId % 3 == 0)

  /** Real decode + exact fixed-point pHash: separable DCT-II
    * (t(v)(x) = Σ_y px·C(v)(y); coef(u·8+v) = Σ_x t·C(u)(x) — max
    * |coef| ≈ 7·10¹³, exact in i64), median = 32nd smallest of the 63
    * AC values, bit(b) ⟺ coef(b) > median, bands 4×16. */
  def decodeHash(docId: Long, payload: Array[Byte]): Mm3HashRow = {
    val raster = MmDHash.readRaster(docId, payload, Size, Size)
    val t = Array.ofDim[Long](8, Size)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < Size) {
        var s = 0L
        var y = 0
        while (y < Size) {
          s += raster.getSample(x, y, 0).toLong * cosT(v)(y)
          y += 1
        }
        t(v)(x) = s
        x += 1
      }
      v += 1
    }
    val coef = new Array[Long](64)
    var u = 0
    while (u < 8) {
      var vv = 0
      while (vv < 8) {
        var s = 0L
        var x = 0
        while (x < Size) {
          s += t(vv)(x) * cosT(u)(x)
          x += 1
        }
        coef(u * 8 + vv) = s
        vv += 1
      }
      u += 1
    }
    val med = coef.drop(1).sorted.apply(31)
    val bands = new Array[Int](4)
    var b = 1
    while (b < 64) {
      if (coef(b) > med) bands(b / 16) |= 1 << (b % 16)
      b += 1
    }
    Mm3HashRow(docId, bands(0), bands(1), bands(2), bands(3))
  }
}

/** Difference-hash (dHash) over a REAL 36×32 BMP round-trip; also
  * hosts the BMP write/read helpers both Mm3 hashes share. */
object MmDHash {
  javax.imageio.ImageIO.setUseCache(false)

  private val W = 36
  private val H = 32

  /** Write the closed-form field as a genuine grayscale BMP through
    * the real `javax.imageio` encoder. */
  private[ops] def writeBmp(w: Int, h: Int, f: Int, pert: Boolean): Array[Byte] =
    // direct BMP bytes (byte-identical to the ImageIO round trip —
    // FastCodec doc + Round17OptSpec); the DECODE side stays ImageIO
    FastCodec.bmpGray(w, h, (x, y) => MmPHash.pixel(f, pert, x, y))

  /** Real decode; rejects a wrong-shaped or unparseable payload. */
  private[graft] def readRaster(docId: Long, payload: Array[Byte],
      w: Int, h: Int): java.awt.image.Raster = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null && img.getWidth == w && img.getHeight == h,
      s"bad image payload for doc $docId")
    img.getRaster
  }

  def synthesize(docId: Long): Array[Byte] =
    writeBmp(W, H, (docId % 50).toInt, docId % 3 == 0)

  /** Real decode + exact dHash: 4×4 block sums → 9×8 grid,
    * bit(r·8+c) ⟺ blockSum(r,c+1) > blockSum(r,c), bands 4×16. */
  def decodeHash(docId: Long, payload: Array[Byte]): Mm3HashRow = {
    val raster = readRaster(docId, payload, W, H)
    val sums = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < H) {
      var x = 0
      while (x < W) {
        sums(y / 4)(x / 4) += raster.getSample(x, y, 0).toLong
        x += 1
      }
      y += 1
    }
    val bands = new Array[Int](4)
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (sums(r)(c + 1) > sums(r)(c)) {
          val b = r * 8 + c
          bands(b / 16) |= 1 << (b % 16)
        }
        c += 1
      }
      r += 1
    }
    Mm3HashRow(docId, bands(0), bands(1), bands(2), bands(3))
  }
}
