package graft.ops

import graft.Tables._
import graft.functions.ArrayMath.round6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 continuation of the multimodal family: the second audio
  * FEATURE (zero-crossing rate — the amplitude-invariant frequency
  * proxy read beside L367's energy VAD) and the first image
  * PREPROCESSING op (histogram equalization — the contrast
  * normalization vision pipelines apply before any model pass; the
  * ops so far only MEASURED images, this one transforms them). Both
  * keep the established contract: genuine containers through the real
  * JDK codecs, exact integer decisions, oracle predicting the output
  * independently from the synthesis formula. */
object Mm5 {

  /** L374 — zero-crossing rate over the L367 WAV fixtures (Rabiner &
    * Schafer 1978 — the classic cheap voicing/frequency feature; being
    * SIGN-based it is invariant to the per-family amplitude that
    * energy VAD keys on, so the two features cross-validate: a gain
    * change moves L367's energies but cannot move a single crossing
    * here). Engine path: real RIFF/PCM16 decode via the shared
    * [[MmAudio.samplesOf]] reader, then one pass counting strict sign
    * flips (s·prev < 0 — zero samples never cross, so silence windows
    * contribute nothing) and the windows containing ≥1 crossing. The
    * oracle predicts crossings from the planted square-wave rule alone
    * (19 interior flips per speech window + 1 boundary flip per
    * adjacent speech-speech pair — the engine must recover that count
    * through the actual codec). zcr = crossings/(n−1), a single
    * division of exact integers. Row-local end to end: decode
    * parallelism = scan parallelism, no shuffle before the final sort. */
  def audioZcr(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map(MmZcr.zcrOf))
      .toDF()
      .orderBy("doc_id")
  }

  /** L375 — histogram equalization (Gonzalez & Woods §3.3 — the
    * standard contrast-normalization transform; the preprocessing
    * analogue of L42's resize). Fixture: LOW-CONTRAST 64×64 BMPs
    * (intensities squeezed into [60,100)) with every 4th document a
    * HIGH-CONTRAST control (span [0,250)) — equalization stretches the
    * squeezed class to full range while the control moves far less, so
    * the transform's effect is visible and hash-gated, not asserted
    * (the L194/L197 fire-the-alarm principle). Integer transfer
    * function (the OpenCV convention made divisionless):
    * eq(v) = ((cdf(v) − cdf_min)·255) div (N − cdf_min) — exact in
    * both engines. Output audits levels/range before and after, the
    * equalized pixel sum as the content witness, and the stretch
    * factor. Row-local: one task decodes + equalizes one image. */
  def imageEqualize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map(MmEq.equalizeOf))
      .toDF()
      .orderBy("doc_id")
  }

  /** L387 — connected-component blob labeling (Rosenfeld & Pfaltz
    * JACM 1966 two-pass labeling — the first step of any classical
    * blob/region detector, and the image-side connected-components
    * beside the graph family's L67/L231: same algorithm, pixel
    * lattice instead of an edge list). Fixture: dark background with
    * 1–5 DISJOINT planted bright rectangles per family (row strips,
    * ≥3-px gaps, so 4-connectivity recovers exactly the rectangles);
    * the ENGINE must find them generically — real BMP decode,
    * threshold at 128, union-find over the pixel lattice, per-blob
    * area + bbox — while the oracle simply enumerates the planted
    * rectangles in closed form. Blobs ordered by (min_y, min_x);
    * every output an exact integer. Row-local: one task labels one
    * image — at 100 TB the cost is the decode scan, like all the
    * Mm ops. */
  def imageBlobs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.flatMap(MmBlobs.blobsOf))
      .toDF()
      .orderBy("doc_id", "blob_no")
  }

  val entries: Map[String, Op] = Map(
    // Predicted from the planted window rule (w·13 + f·7) mod 8 < 3 of
    // the L367 fixture: a speech window contributes 19 interior sign
    // flips (±A square wave, period 16, window = 160 samples = 20
    // half-periods); the boundary sample flips iff the PREVIOUS window
    // is also speech (the wave's parity at 160w is +, at 160w−1 is −).
    "mm_audio_zcr" -> Op(audioZcr,
      s"""WITH ${MmVad.speechWindowsSql},
         x AS (SELECT f, wn, s,
             COALESCE(LAG(s) OVER (PARTITION BY f ORDER BY wn), 0) AS ps
           FROM sp),
         agg AS (SELECT f,
             CAST(SUM(s * 19 + s * ps) AS BIGINT) AS n_crossings,
             CAST(SUM(s) AS BIGINT) AS n_active_windows
           FROM x GROUP BY 1)
         SELECT doc_id, CAST(8000 AS BIGINT) AS n_samples, n_crossings,
           round(n_crossings / 7999.0, 6) AS zcr, n_active_windows
         FROM cls JOIN agg USING (f) ORDER BY doc_id"""),
    // Predicted from the pixel formulas: low-contrast class
    // v = 60 + (3x + 5y + 17f) mod 40, high-contrast control (doc%4=0)
    // v = (9x + 11y + 23f) mod 250; histogram/CDF over the 4096-pixel
    // grid, then the integer transfer function.
    "mm_image_equalize" -> Op(imageEqualize,
      """WITH cls AS (SELECT doc_id, CAST(doc_id % 20 AS INTEGER) AS f,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS hi
           FROM documents),
         fam AS (SELECT DISTINCT f, hi FROM cls),
         grid AS (SELECT f, hi, x, y,
             CASE WHEN hi = 1 THEN (9 * x + 11 * y + 23 * f) % 250
               ELSE 60 + (3 * x + 5 * y + 17 * f) % 40 END AS v
           FROM fam,
             (SELECT unnest(range(0, 64)) AS x) gx,
             (SELECT unnest(range(0, 64)) AS y) gy),
         hist AS (SELECT f, hi, v, COUNT(*) AS n FROM grid GROUP BY 1,2,3),
         cum AS (SELECT f, hi, v, n,
             SUM(n) OVER (PARTITION BY f, hi ORDER BY v) AS c
           FROM hist),
         cdf AS (SELECT f, hi, v, n, c,
             MIN(c) OVER (PARTITION BY f, hi) AS cmin
           FROM cum),
         eqv AS (SELECT f, hi, v, n, c, cmin,
             CAST(((c - cmin) * 255) // (4096 - cmin) AS BIGINT) AS ev
           FROM cdf),
         agg AS (SELECT f, hi,
             CAST(COUNT(*) AS BIGINT) AS n_levels_before,
             CAST(MIN(v) AS BIGINT) AS lvl_min_before,
             CAST(MAX(v) AS BIGINT) AS lvl_max_before,
             CAST(COUNT(DISTINCT ev) AS BIGINT) AS n_levels_after,
             CAST(MIN(ev) AS BIGINT) AS lvl_min_after,
             CAST(MAX(ev) AS BIGINT) AS lvl_max_after,
             CAST(SUM(n * ev) AS BIGINT) AS eq_pixel_sum
           FROM eqv GROUP BY 1, 2)
         SELECT doc_id, n_levels_before, lvl_min_before, lvl_max_before,
           n_levels_after, lvl_min_after, lvl_max_after, eq_pixel_sum
         FROM cls JOIN agg USING (f, hi) ORDER BY doc_id"""),
    // the planted rectangles in closed form: k = f%5+1 strips at
    // y0 = 2+9r, x0 = 3+2((f+3r)%10), w = 6+((3f+r)%5), h = 4+((f+r)%3)
    "mm_image_blobs" -> Op(imageBlobs,
      """WITH cls AS (SELECT doc_id, CAST(doc_id % 20 AS INTEGER) AS f
           FROM documents),
         fam AS (SELECT DISTINCT f FROM cls),
         rects AS (SELECT f, CAST(r AS BIGINT) AS blob_no,
             CAST(3 + 2 * ((f + 3 * r) % 10) AS BIGINT) AS x0,
             CAST(2 + 9 * r AS BIGINT) AS y0,
             CAST(6 + (3 * f + r) % 5 AS BIGINT) AS w,
             CAST(4 + (f + r) % 3 AS BIGINT) AS h
           FROM fam, (SELECT unnest(range(0, 5)) AS r)
           WHERE r < f % 5 + 1)
         SELECT d.doc_id, rc.blob_no,
           CAST(rc.w * rc.h AS BIGINT) AS area,
           rc.x0, rc.y0,
           CAST(rc.x0 + rc.w - 1 AS BIGINT) AS x1,
           CAST(rc.y0 + rc.h - 1 AS BIGINT) AS y1
         FROM cls d JOIN rects rc USING (f)
         ORDER BY d.doc_id, rc.blob_no"""),
  )
}

/** Blob-labeling kernel: genuine 48×48 BMPs with planted bright
  * rectangles; real decode → threshold → union-find 4-connected
  * labeling (generic — the kernel knows nothing about rectangles). */
object MmBlobs {
  javax.imageio.ImageIO.setUseCache(false)

  private val Size = 48

  def synthesize(docId: Long): Array[Byte] = {
    val f = (docId % 20).toInt
    val k = f % 5 + 1
    // the planted rectangles, painted into a pixel buffer once; the BMP
    // bytes come from the direct writer (byte-identical to the ImageIO
    // round trip — FastCodec doc + Round17OptSpec); DECODE stays ImageIO
    val buf = Array.fill(Size * Size)(30)
    var r = 0
    while (r < k) {
      val x0 = 3 + 2 * ((f + 3 * r) % 10)
      val y0 = 2 + 9 * r
      val w = 6 + (3 * f + r) % 5
      val h = 4 + (f + r) % 3
      var yy = y0
      while (yy < y0 + h) {
        var xx = x0
        while (xx < x0 + w) { buf(yy * Size + xx) = 200; xx += 1 }
        yy += 1
      }
      r += 1
    }
    FastCodec.bmpGray(Size, Size, (x, y) => buf(y * Size + x))
  }

  case class BlobRow(doc_id: Long, blob_no: Long, area: Long,
    x0: Long, y0: Long, x1: Long, y1: Long)

  /** Generic 4-connected two-pass labeling via union-find over the
    * thresholded raster. */
  def blobsOf(docId: Long): Iterator[BlobRow] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(synthesize(docId)))
    require(img != null && img.getWidth == Size && img.getHeight == Size,
      s"bad blob payload for doc $docId")
    val raster = img.getRaster
    val fg = Array.tabulate(Size, Size)((y, x) =>
      raster.getSample(x, y, 0) >= 128)
    labelRaster(fg).zipWithIndex.iterator
      .map { case ((area, x0, y0, x1, y1), i) =>
        BlobRow(docId, i.toLong, area, x0, y0, x1, y1)
      }
  }

  /** Generic 4-connected labeling over any boolean raster — shared by
    * [[blobsOf]] and the Round15hSpec genericity legs (diagonal,
    * L-shape). Returns (area, x0, y0, x1, y1) per blob ordered by
    * (min_y, min_x). */
  def labelRaster(fg: Array[Array[Boolean]]): Seq[(Long, Long, Long, Long, Long)] = {
    val h = fg.length
    val w = if (h == 0) 0 else fg(0).length
    val parent = Array.tabulate(h * w)(identity)
    def find(a: Int): Int = {
      var x = a
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    for (y <- 0 until h; x <- 0 until w if fg(y)(x)) {
      if (x > 0 && fg(y)(x - 1)) union(y * w + x, y * w + x - 1)
      if (y > 0 && fg(y - 1)(x)) union(y * w + x, (y - 1) * w + x)
    }
    val blobs = collection.mutable.HashMap
      .empty[Int, (Long, Long, Long, Long, Long)] // area, x0, y0, x1, y1
    for (y <- 0 until h; x <- 0 until w if fg(y)(x)) {
      val root = find(y * w + x)
      val (a, minx, miny, maxx, maxy) = blobs.getOrElse(root,
        (0L, Long.MaxValue, Long.MaxValue, -1L, -1L))
      blobs(root) = (a + 1, math.min(minx, x), math.min(miny, y),
        math.max(maxx, x), math.max(maxy, y))
    }
    blobs.values.toSeq.sortBy(b => (b._3, b._2))
  }
}

/** ZCR kernel over the [[MmVad]] fixture (SHARED payloads — two ops,
  * two orthogonal features of one corpus, the energy/frequency split
  * real audio pipelines compute together). */
object MmZcr {
  private val WinLen = 160
  private val NWin = 50

  case class ZcrRow(doc_id: Long, n_samples: Long, n_crossings: Long,
    zcr: Double, n_active_windows: Long)

  def zcrOf(docId: Long): ZcrRow = {
    val samples = MmAudio.samplesOf(MmAudio.Wav(docId, MmVad.synthesize(docId)))
    require(samples.length == NWin * WinLen, s"short decode for doc $docId")
    var crossings = 0L
    var active = 0L
    var winHas = false
    var i = 1
    while (i < samples.length) {
      if (i % WinLen == 0) { if (winHas) active += 1; winHas = false }
      if (samples(i - 1) * samples(i) < 0) { crossings += 1; winHas = true }
      i += 1
    }
    if (winHas) active += 1
    ZcrRow(docId, samples.length.toLong, crossings,
      round6(crossings.toDouble / (samples.length - 1)),
      active)
  }
}

/** Histogram-equalization kernel: genuine 64×64 grayscale BMPs through
  * `javax.imageio` (the [[MmAHash]] round-trip convention) over a
  * deliberately LOW-CONTRAST pixel field. */
object MmEq {
  javax.imageio.ImageIO.setUseCache(false)

  private val Size = 64
  private val N = Size * Size

  /** Low-contrast field 60 + (3x+5y+17f) mod 40 (f = doc%20); every
    * 4th doc is a high-contrast control (9x+11y+23f) mod 250. */
  def synthesize(docId: Long): Array[Byte] = {
    val f = (docId % 20).toInt
    val hi = docId % 4 == 0
    // direct BMP bytes (byte-identical to the ImageIO round trip —
    // FastCodec doc + Round17OptSpec); the DECODE side stays ImageIO
    FastCodec.bmpGray(Size, Size, (x, y) =>
      if (hi) (9 * x + 11 * y + 23 * f) % 250
      else 60 + (3 * x + 5 * y + 17 * f) % 40)
  }

  /** Real decode of doc `docId`'s payload to its raster; `what` names
    * the kernel in the error. */
  private[ops] def decodeRaster(docId: Long, what: String): java.awt.image.Raster = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(synthesize(docId)))
    require(img != null && img.getWidth == Size && img.getHeight == Size,
      s"bad $what payload for doc $docId")
    img.getRaster
  }

  /** 256-bin gray-level histogram of a decoded raster. */
  private[ops] def histogram(raster: java.awt.image.Raster): Array[Long] = {
    val hist = new Array[Long](256)
    var y = 0
    while (y < Size) {
      var x = 0
      while (x < Size) { hist(raster.getSample(x, y, 0)) += 1; x += 1 }
      y += 1
    }
    hist
  }

  case class EqRow(doc_id: Long, n_levels_before: Long,
    lvl_min_before: Long, lvl_max_before: Long, n_levels_after: Long,
    lvl_min_after: Long, lvl_max_after: Long, eq_pixel_sum: Long)

  /** Real decode → 256-bin histogram → integer transfer function
    * eq(v) = ((cdf(v) − cdf_min)·255) div (N − cdf_min). A constant
    * image (N == cdf_min) maps to 0 by convention (guarded; the
    * fixtures never produce one). */
  def equalizeOf(docId: Long): EqRow = {
    val hist = histogram(decodeRaster(docId, "equalize"))
    val cdf = new Array[Long](256)
    var c = 0L
    var cmin = -1L
    var v = 0
    while (v < 256) {
      c += hist(v)
      cdf(v) = c
      if (cmin < 0 && hist(v) > 0) cmin = c
      v += 1
    }
    val denom = N - cmin
    def eq(lvl: Int): Long =
      if (denom <= 0) 0L else (cdf(lvl) - cmin) * 255 / denom
    var nBefore = 0L; var minB = -1L; var maxB = -1L
    var eqSum = 0L
    val afterLevels = collection.mutable.SortedSet.empty[Long]
    v = 0
    while (v < 256) {
      if (hist(v) > 0) {
        nBefore += 1
        if (minB < 0) minB = v
        maxB = v
        val e = eq(v)
        afterLevels += e
        eqSum += hist(v) * e
      }
      v += 1
    }
    EqRow(docId, nBefore, minB, maxB, afterLevels.size.toLong,
      afterLevels.head, afterLevels.last, eqSum)
  }
}
