package graft.ops

import graft.Tables._
import graft.functions.ArrayMath.round6
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 continuation: classical image analysis over the SHARED
  * L375 payloads (one fixture, three orthogonal readings — the
  * equalization transform, Otsu's automatic threshold, Sobel edge
  * structure; the VAD/ZCR sharing discipline applied to images). */
object Mm6 {

  /** L389 — Otsu's automatic threshold selection (Otsu TSMC 1979 —
    * maximize between-class variance over the histogram; the
    * auto-threshold every classical binarization pipeline runs where
    * L387's blob stage assumed a FIXED 128). Exactness: σ²_B(t) ∝
    * (S₀w₁ − S₁w₀)²/(w₀w₁) is a ratio of exact integers; both engines
    * rank the QUANTIZED score ⌊A·10⁶/B⌋ computed in arbitrary-precision
    * integers (JVM BigInt ⋄ DuckDB HUGEINT — A reaches ~10¹⁹, past
    * i64) with ties broken toward the smaller threshold — the argmax
    * is bit-deterministic with no floating point anywhere. Row-local:
    * one task decodes and sweeps one image's 256-bin histogram. */
  def imageOtsu(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map(MmOtsu.otsuOf))
      .toDF()
      .orderBy("doc_id")
  }

  /** L390 — Sobel gradient edge density (Sobel & Feldman 1968; the
    * edge-structure statistic beside L354/L360's global hashes — a
    * texture/sharpness audit multimodal pipelines run to drop
    * blurred or flat crawled images). |G| = |Gx|+|Gy| (the integer L1
    * form) over interior pixels through the REAL decode; the planted
    * modular-gradient fields make edges the mod-wrap stripe lines, so
    * the count is nontrivial and closed-form predictable; edge ⟺
    * |G| ≥ 80 (between the smooth-field response ≤ ~64 and the
    * wrap-line response ≥ ~160 — both classes exercised). All exact
    * integers. Row-local.
    *
    * Load sensitivity (VERDICT r16 `weak`, closed r17 with a pinned
    * measurement, SURVEY §8r): the driver's loaded run showed 16.8 s vs
    * 1.1 s idle with ZERO shuffle — the key is pure row-local integer
    * compute after a real BMP decode, so the swing is ambient-load CPU
    * contention plus HotSpot tier-up time, not a plan property. The
    * round-17 A/B/C experiment pinned that code-cache sizing flags do
    * not move it (pool peaks never reach the default caps) and that
    * the codegen-cache enlargement removes only regeneration churn;
    * per-key `jit_ms` in BENCH_full.json now makes the attribution
    * visible per run. */
  def imageSobel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map(MmSobel.sobelOf))
      .toDF()
      .orderBy("doc_id")
  }

  /** The L375 pixel field in SQL at an (x, y) offset — shared by both
    * oracles (low-contrast 60 + (3x+5y+17f) mod 40; every 4th doc the
    * high-contrast control (9x+11y+23f) mod 250). */
  private def vSql(x: String, y: String): String =
    s"(CASE WHEN hi = 1 THEN (9 * ($x) + 11 * ($y) + 23 * f) % 250 " +
      s"ELSE 60 + (3 * ($x) + 5 * ($y) + 17 * f) % 40 END)"

  val entries: Map[String, Op] = Map(
    "mm_image_otsu" -> Op(imageOtsu,
      s"""WITH cls AS (SELECT doc_id, CAST(doc_id % 20 AS INTEGER) AS f,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS hi
           FROM documents),
         fam AS (SELECT DISTINCT f, hi FROM cls),
         grid AS (SELECT f, hi, ${vSql("x", "y")} AS v
           FROM fam,
             (SELECT unnest(range(0, 64)) AS x) gx,
             (SELECT unnest(range(0, 64)) AS y) gy),
         hist AS (SELECT f, hi, v, CAST(COUNT(*) AS BIGINT) AS n
           FROM grid GROUP BY 1, 2, 3),
         cum AS (SELECT f, hi, v AS t,
             SUM(n) OVER (PARTITION BY f, hi ORDER BY v) AS w0,
             SUM(v * n) OVER (PARTITION BY f, hi ORDER BY v) AS s0,
             SUM(n) OVER (PARTITION BY f, hi) AS nn,
             SUM(v * n) OVER (PARTITION BY f, hi) AS stot
           FROM hist),
         sc AS (SELECT f, hi, t, w0, nn - w0 AS w1, s0, stot - s0 AS s1,
             (CAST(s0 AS HUGEINT) * (nn - w0)
               - CAST(stot - s0 AS HUGEINT) * w0) AS num
           FROM cum WHERE w0 > 0 AND nn - w0 > 0),
         scored AS (SELECT f, hi, t, w0, w1, s0, s1,
             (num * num * 1000000) // (CAST(w0 AS HUGEINT) * w1) AS score
           FROM sc),
         best AS (SELECT f, hi, t, w0, w1, s0, s1,
             ROW_NUMBER() OVER (PARTITION BY f, hi
               ORDER BY score DESC, t ASC) AS rr
           FROM scored)
         SELECT d.doc_id, CAST(b.t AS BIGINT) AS otsu_threshold,
           CAST(b.w0 AS BIGINT) AS n_below, CAST(b.w1 AS BIGINT) AS n_above,
           round(CAST(b.s0 AS DOUBLE) / b.w0, 6) AS mean_below,
           round(CAST(b.s1 AS DOUBLE) / b.w1, 6) AS mean_above
         FROM cls d JOIN best b USING (f, hi) WHERE b.rr = 1
         ORDER BY d.doc_id"""),
    "mm_image_sobel" -> Op(imageSobel,
      s"""WITH cls AS (SELECT doc_id, CAST(doc_id % 20 AS INTEGER) AS f,
             CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS hi
           FROM documents),
         fam AS (SELECT DISTINCT f, hi FROM cls),
         pix AS (SELECT f, hi, x, y,
             (${vSql("x+1", "y-1")} + 2 * ${vSql("x+1", "y")}
               + ${vSql("x+1", "y+1")})
               - (${vSql("x-1", "y-1")} + 2 * ${vSql("x-1", "y")}
               + ${vSql("x-1", "y+1")}) AS gx,
             (${vSql("x-1", "y+1")} + 2 * ${vSql("x", "y+1")}
               + ${vSql("x+1", "y+1")})
               - (${vSql("x-1", "y-1")} + 2 * ${vSql("x", "y-1")}
               + ${vSql("x+1", "y-1")}) AS gy
           FROM fam,
             (SELECT unnest(range(1, 63)) AS x) gx0,
             (SELECT unnest(range(1, 63)) AS y) gy0),
         mag AS (SELECT f, hi, abs(gx) + abs(gy) AS m FROM pix),
         agg AS (SELECT f, hi,
             CAST(COUNT(*) AS BIGINT) AS n_interior,
             CAST(SUM(CASE WHEN m >= 80 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_edges,
             CAST(MAX(m) AS BIGINT) AS max_mag,
             CAST(SUM(m) AS BIGINT) AS sum_mag
           FROM mag GROUP BY 1, 2)
         SELECT doc_id, n_interior, n_edges,
           round(CAST(n_edges AS DOUBLE) / n_interior, 6) AS edge_density,
           max_mag, sum_mag
         FROM cls JOIN agg USING (f, hi) ORDER BY doc_id"""),
  )
}

/** Otsu kernel over the shared [[MmEq]] payloads. */
object MmOtsu {
  private val Size = 64
  private val N = Size * Size

  case class OtsuRow(doc_id: Long, otsu_threshold: Long, n_below: Long,
    n_above: Long, mean_below: Double, mean_above: Double)

  def otsuOf(docId: Long): OtsuRow = {
    val hist = MmEq.histogram(MmEq.decodeRaster(docId, "otsu"))
    val sTot = (0 until 256).map(v => v.toLong * hist(v)).sum
    var bestT = -1
    var bestScore = BigInt(-1)
    var bestStats = (0L, 0L, 0L, 0L)
    var w0 = 0L
    var s0 = 0L
    var t = 0
    while (t < 256) {
      w0 += hist(t)
      s0 += t.toLong * hist(t)
      val w1 = N - w0
      if (w0 > 0 && w1 > 0) {
        val num = BigInt(s0) * w1 - BigInt(sTot - s0) * w0
        val score = num * num * 1000000 / (BigInt(w0) * w1)
        if (score > bestScore) { // strict: ties keep the SMALLER t
          bestScore = score
          bestT = t
          bestStats = (w0, w1, s0, sTot - s0)
        }
      }
      t += 1
    }
    val (bw0, bw1, bs0, bs1) = bestStats
    OtsuRow(docId, bestT.toLong, bw0, bw1,
      round6(bs0.toDouble / bw0), round6(bs1.toDouble / bw1))
  }
}

/** Sobel kernel over the shared [[MmEq]] payloads. */
object MmSobel {
  private val Size = 64

  case class SobelRow(doc_id: Long, n_interior: Long, n_edges: Long,
    edge_density: Double, max_mag: Long, sum_mag: Long)

  def sobelOf(docId: Long): SobelRow = {
    val raster = MmEq.decodeRaster(docId, "sobel")
    val v = Array.tabulate(Size, Size)((y, x) => raster.getSample(x, y, 0))
    var nEdges = 0L
    var maxMag = 0L
    var sumMag = 0L
    val nInt = (Size - 2).toLong * (Size - 2)
    var y = 1
    while (y < Size - 1) {
      var x = 1
      while (x < Size - 1) {
        val gx = (v(y - 1)(x + 1) + 2 * v(y)(x + 1) + v(y + 1)(x + 1)) -
          (v(y - 1)(x - 1) + 2 * v(y)(x - 1) + v(y + 1)(x - 1))
        val gy = (v(y + 1)(x - 1) + 2 * v(y + 1)(x) + v(y + 1)(x + 1)) -
          (v(y - 1)(x - 1) + 2 * v(y - 1)(x) + v(y - 1)(x + 1))
        val m = math.abs(gx).toLong + math.abs(gy)
        if (m >= 80) nEdges += 1
        if (m > maxMag) maxMag = m
        sumMag += m
        x += 1
      }
      y += 1
    }
    SobelRow(docId, nInt, nEdges, round6(nEdges.toDouble / nInt), maxMag,
      sumMag)
  }
}
