package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-14 multimodal widening: perceptual-hash image near-dedup —
  * the image-side analogue of the text pipeline's SimHash banding, and
  * the op real multimodal training sets run before contrastive
  * pretraining (CLIP-style pipelines dedup by pHash/aHash exactly so a
  * downscaled or lightly-edited copy of an image can't leak across a
  * train/eval split). */
object Mm2 {

  /** L354 — average-hash (aHash) image near-duplicate detection. The
    * classic 64-bit perceptual hash (Krawetz's aHash — the cheap
    * baseline the pHash family refines): downscale to an 8×8 grid of
    * block means, threshold each block at the global mean, band the 64
    * bits 4×16 and bucket-join on band equality (the L23 SimHash
    * convention: banding is the shuffle key, pair volume ∝ actual
    * collisions, never all-pairs), then verify candidates by exact
    * Hamming ≤ 8. Payloads are genuine BMP containers synthesized
    * per document ([[MmAHash.synthesize]] — the container ships no
    * image fixtures; the MmDecode round-9 convention) and DECODED with
    * the real `javax.imageio` reader; the oracle predicts every hash
    * bit closed-form from the pixel formula, so a codec or raster
    * regression fails the gate. Planted structure: doc_id % 50 keys
    * the image family (replicas hash identically → Hamming 0) and
    * every third doc carries a +1 diagonal perturbation (a near-dup
    * whose block means shift without necessarily flipping bits).
    * All block decisions are EXACT integer comparisons
    * (blockSum·64 ≥ totalSum ⟺ blockMean ≥ globalMean — no division),
    * so cross-engine parity is by construction. Row-local decode+hash
    * (decode parallelism = scan parallelism); output is the
    * per-Hamming pair histogram — scale-stable where a pair dump is
    * not. */
  def imageAHashDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hashes = fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map(id =>
        MmAHash.decodeHash(id, MmAHash.synthesize(id))))
      .toDF()
    Mm3.pairHistogram(hashes, maxHam = 8)
  }

  val entries: Map[String, Op] = Map(
    "mm_image_ahash_dedup" -> Op(imageAHashDedup,
      s"""WITH cls AS (SELECT doc_id, doc_id % 50 AS f,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS p
           FROM documents),
         img AS (SELECT DISTINCT f, p FROM cls),
         grid AS (SELECT f, p, x, y,
             (x * 7 + y * 13 + f * 31) % 255
               + CASE WHEN p = 1 AND x = y THEN 1 ELSE 0 END AS v
           FROM img,
             (SELECT unnest(range(0, 64)) AS x) gx,
             (SELECT unnest(range(0, 64)) AS y) gy),
         tot AS (SELECT f, p, CAST(SUM(v) AS BIGINT) AS total
           FROM grid GROUP BY 1, 2),
         blk AS (SELECT f, p, y // 8 AS by, x // 8 AS bx,
             CAST(SUM(v) AS BIGINT) AS bs
           FROM grid GROUP BY 1, 2, 3, 4),
         bits AS (SELECT blk.f, blk.p, by * 8 + bx AS b,
             CASE WHEN bs * 64 >= total THEN 1 ELSE 0 END AS bit
           FROM blk JOIN tot ON blk.f = tot.f AND blk.p = tot.p),
         ${Mm3.histogramSql(8)}"""),
  )
}

/** REAL image round-trip for [[Mm2.imageAHashDedup]] (the MmDecode /
  * MmAudio convention — see `Llm.scala`): payloads are genuine 64×64
  * grayscale BMPs written through `javax.imageio`'s own encoder from a
  * closed-form pixel field, then read back with the real reader before
  * hashing. Not circular: the reader parses the actual BMP container
  * and raster, and the oracle predicts the hash independently from the
  * pixel formula. */
object MmAHash {
  javax.imageio.ImageIO.setUseCache(false)

  private val Size = 64

  /** v(x,y) = (7x + 13y + 31·(doc%50)) mod 255, +1 on the diagonal for
    * every third doc (mod 255 keeps headroom so the perturbation never
    * wraps). Grayscale = equal RGB channels. */
  def synthesize(docId: Long): Array[Byte] = {
    val f = (docId % 50).toInt
    val diag = docId % 3 == 0
    // direct BMP bytes (byte-identical to the ImageIO round trip —
    // FastCodec doc + Round17OptSpec); the DECODE side stays ImageIO
    FastCodec.bmpGray(Size, Size, (x, y) => {
      var v = (x * 7 + y * 13 + f * 31) % 255
      if (diag && x == y) v += 1
      v
    })
  }

  case class HashRow(doc_id: Long, n_bits: Int,
    b0: Int, b1: Int, b2: Int, b3: Int)

  /** Real decode + exact-integer aHash: 8×8 block sums of band 0,
    * bit(b) ⟺ blockSum·64 ≥ totalSum, bits packed into four 16-bit
    * bands (bit index b = 8·by + bx, band = b/16). */
  def decodeHash(docId: Long, payload: Array[Byte]): HashRow = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null && img.getWidth == Size && img.getHeight == Size,
      s"bad aHash payload for doc $docId")
    val raster = img.getRaster
    val sums = Array.ofDim[Long](8, 8)
    var total = 0L
    var y = 0
    while (y < Size) {
      var x = 0
      while (x < Size) {
        val v = raster.getSample(x, y, 0).toLong
        sums(y / 8)(x / 8) += v
        total += v
        x += 1
      }
      y += 1
    }
    val bands = new Array[Int](4)
    var nBits = 0
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        if (sums(by)(bx) * 64 >= total) {
          val b = by * 8 + bx
          bands(b / 16) |= 1 << (b % 16)
          nBits += 1
        }
        bx += 1
      }
      by += 1
    }
    HashRow(docId, nBits, bands(0), bands(1), bands(2), bands(3))
  }
}
