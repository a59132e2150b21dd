package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-pipeline widening, round 9: product quantization (PQ) — the
  * compression half of the FAISS-style IVF-PQ index that is the standard
  * billion-vector ANN layout (Jégou et al., "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011). Completes the ANN family next
  * to `llm_ann_lsh` (hyperplane buckets), `llm_ivf_ann` (centroid
  * pruning) and `llm_sim_topk` (exact): IVF prunes WHICH vectors a query
  * scans; PQ compresses WHAT is scanned (64 floats = 256 B → M=8 codes),
  * and search runs against codes only via an asymmetric-distance LUT.
  *
  * Deterministic "training" (same framing as `llm_kmeans_step`): the
  * per-subspace codebooks are one assignment step from fixed seeds — the
  * K=16 subvectors of vec_id 0..15 — not an iterated k-means, so both
  * engines derive identical codebooks from the data alone.
  *
  * Scale notes (100 TB):
  *  - Codebook: M·K = 128 rows — broadcast everywhere, never shuffled.
  *  - Encode: subspace explode (M rows/vec) ⋈ broadcast codebook, then a
  *    (vec,s)-keyed lexicographic struct-min — shuffle is M·N compact
  *    rows, map-side partial min applies, nothing pairwise. The codes
  *    table IS the persisted index: M bytes/vector at int8 width vs 4·D
  *    for raw floats (32× smaller — the difference between an index that
  *    fits executor memory at 10^9 vectors and one that doesn't).
  *  - Search (ADC): the query-side LUT (|Q|·M·K = 640 rows) is computed
  *    once and broadcast; each stored code row joins its LUT cell
  *    row-locally, then a (q,vec)-keyed decimal sum (map-side combined)
  *    and a per-query top-k. Scan work is O(|Q|·N·M) byte-sized lookups —
  *    the PQ promise — and |Q| is bounded by the same contract as
  *    `llm_sim_topk` (unbounded-Q path: its per-partition heap).
  *  - Determinism: all distances are index-order double sums (codegen'd
  *    [[graft.functions.ArrayMath.dotProduct]] ≡ DuckDB `list_sum` index
  *    order), rounded to 6 dp BEFORE argmin/ranking; ADC sums quantize
  *    through [[graft.Tables.dsum]] so partition order can't flip a rank.
  */
object Llm5 {

  private val M = 8   // subspaces
  private val Dsub = 8 // dims per subspace (M * Dsub = 64 = fixture dim)
  private val K = 16  // centroids per subspace (seeds: vec_id < K)

  private def dot(a: Column, b: Column): Column =
    graft.functions.ArrayMath.dotProduct(a, b)

  /** (vec_id, label, s, sub: array<double>[Dsub], snn=‖sub‖²) — one row
    * per vector per subspace. */
  private def subvectors(spark: SparkSession, dir: String): DataFrame =
    embeddings(spark, dir)
      .withColumn("emb", transform(col("embedding"), x => x.cast("double")))
      .select(col("vec_id"), col("label"),
        explode(sequence(lit(0), lit(M - 1))).as("s"), col("emb"))
      .select(col("vec_id"), col("label"), col("s"),
        slice(col("emb"), col("s") * Dsub + 1, lit(Dsub)).as("sub"))
      .withColumn("snn", dot(col("sub"), col("sub")))

  /** Per-(vector, subspace) nearest codebook entry:
    * (vec_id, label, s, code, d2) with d2 = round(‖sub − c‖², 6) and ties
    * broken to the smallest centroid id by a lexicographic struct-min. */
  private def pqCodes(spark: SparkSession, dir: String): DataFrame = {
    val sub = subvectors(spark, dir)
    val cb = sub.where(col("vec_id") < K)
      .select(col("s"), col("vec_id").cast("int").as("j"),
        col("sub").as("cemb"), col("snn").as("cnn"))
    sub.join(broadcast(cb), "s")
      .withColumn("d2",
        round(col("snn") - lit(2) * dot(col("sub"), col("cemb")) + col("cnn"), 6))
      .groupBy(col("vec_id"), col("label"), col("s"))
      .agg(min(struct(col("d2"), col("j"))).as("m"))
      .select(col("vec_id"), col("label"), col("s"),
        col("m.j").as("code"), col("m.d2").as("d2"))
  }

  /** PQ encode audit per label cell: vector count, mean reconstruction
    * error (total quantization distortion / vector — THE quality metric a
    * PQ deployment monitors; a codebook drift or argmin bug moves it),
    * and the number of distinct (subspace, code) cells in use (codebook
    * utilization — near M·K means healthy spread, near M means collapse). */
  def pqEncode(spark: SparkSession, dir: String): DataFrame =
    pqCodes(spark, dir)
      .groupBy("label")
      .agg(countDistinct(col("vec_id")).as("n_vecs"),
        round(dsum(col("d2")) / countDistinct(col("vec_id")).cast("double"), 6)
          .as("avg_recon_d2"),
        countDistinct(col("s") * K + col("code")).as("n_codes_used"))
      .orderBy("label")

  /** Asymmetric-distance (ADC) top-3 per query (vec_id < 5, self
    * excluded): dist(q, y) ≈ Σ_s ‖q_s − c_{s, code_y[s]}‖² — the query
    * stays full-precision, the corpus is codes only. Exactly the FAISS
    * ADC search loop as a declarative plan. */
  def pqAnn(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("vec_id").asc)
    adcDistances(spark, dir)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .orderBy("qid", "rn")
  }

  /** Query-side ADC lookup table: (qid, s, j, dr) — |Q|·M·K rows, each
    * round(‖q_s − c_{s,j}‖², 6). Broadcast by every consumer. */
  private def queryLut(spark: SparkSession, dir: String): DataFrame = {
    val sub = subvectors(spark, dir)
    val cb = sub.where(col("vec_id") < K)
      .select(col("s"), col("vec_id").cast("int").as("j"),
        col("sub").as("cemb"), col("snn").as("cnn"))
    sub.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("s"), col("sub"), col("snn"))
      .join(broadcast(cb), "s")
      .select(col("qid"), col("s"), col("j"),
        round(col("snn") - lit(2) * dot(col("sub"), col("cemb")) + col("cnn"), 6)
          .as("dr"))
  }

  /** Full ADC table (qid, vec_id, adc) before the top-k — the piece
    * Round9Spec pins against independently computed exact distances on
    * lossless (seed) targets. */
  private[graft] def adcDistances(spark: SparkSession, dir: String): DataFrame = {
    val lut = queryLut(spark, dir)
    val codes = pqCodes(spark, dir)
    codes
      .join(broadcast(lut),
        codes("s") === lut("s") && codes("code") === lut("j") &&
          lut("qid") =!= codes("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(dsum(col("dr")).as("adc"))
  }

  /** IVF-PQ — the composition actually deployed at 10^9+ vectors (FAISS
    * `IndexIVFPQ`): the IVF probe ([[Llm2.ivfProbe]], broadcast centroid
    * table) prunes WHICH cell a query scans, PQ codes compress WHAT is
    * scanned inside it, ADC ranks — so scan work is
    * O(|Q| · |cell| · M) byte lookups instead of O(|Q| · N · D) float
    * mults. The cell filter lands BEFORE the ADC join (codes ⋈ broadcast
    * 5-row probe table), so non-probed cells are never read past the
    * code scan — at deployment scale, cell-partitioned storage turns
    * that filter into partition pruning. */
  def ivfpqAnn(spark: SparkSession, dir: String): DataFrame = {
    val probed = Llm2.ivfProbe(spark, dir)
      .select(col("qid").as("pqid"), col("cell"))
    val lut = queryLut(spark, dir)
    val codes = pqCodes(spark, dir)
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").asc, col("vec_id").asc)
    codes
      .join(broadcast(probed), codes("label") === col("cell"))
      .join(broadcast(lut),
        codes("s") === lut("s") && codes("code") === lut("j") &&
          col("pqid") === lut("qid") && lut("qid") =!= codes("vec_id"))
      .groupBy(col("qid"), col("cell"), col("vec_id"))
      .agg(dsum(col("dr")).as("adc"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("qid"), col("cell"), col("vec_id"), col("adc"), col("rn"))
      .orderBy("qid", "rn")
  }

  // ------------------------------------------------------------------
  // Johnson–Lindenstrauss random projection
  // ------------------------------------------------------------------

  private val JlM = 16 // target dim; 1/√16 = 0.25 is an exact double

  /** L198 — Johnson–Lindenstrauss RANDOM PROJECTION with a measured
    * distortion audit (Achlioptas 2003, "Database-friendly random
    * projections": ±1 sign matrices satisfy the JL lemma — no Gaussians
    * needed, which is what makes the map reproducible in SQL): the
    * third compression scheme of the embedding family, BELOW PQ in the
    * stack — PQ (L168) compresses for ANN search against codebooks; a
    * JL sketch linearly maps 64-d → 16-d while preserving pairwise
    * distances within (1±ε) whp, so DOWNSTREAM GEOMETRY (clustering,
    * dedup thresholds, kNN graphs) still works on vectors a quarter the
    * size. At 100 TB the projection is a row-local map over the scan —
    * embarrassingly parallel, no state — and the 64×16 sign matrix is a
    * closed-form h48 PARITY (s_ij = 2·(h48("i:j") mod 2) − 1), so both
    * engines derive the identical matrix from nothing: y_j = (1/√m)·Σᵢ
    * s_ij·xᵢ, summed in index order (the embedding-oracle float
    * contract).
    *
    * The audit projects the first 100 vectors, pairs them (2p, 2p+1),
    * and reports per pair the squared original and projected distances
    * and their ratio — E[ratio] = 1 exactly under ±1 signs, spread
    * χ²(m)/m — with an in-band flag at [0.3, 2.2] ≈ ±4σ computed from
    * the ROUNDED ratio so the flag is engine-stable. The oracle
    * recomputes projection, distances, and flags from scratch. */
  def randomProjection(spark: SparkSession, dir: String): DataFrame = {
    def sign(i: Column, j: Column): Column =
      (pmod(h48(concat_ws(":", i, j)), lit(2)) * 2 - 1).cast("double")
    def proj(x: Column): Column =
      transform(sequence(lit(1), lit(JlM)), j =>
        lit(0.25) * aggregate(sequence(lit(1), lit(64)), lit(0.0),
          (acc, i) => acc + sign(i, j) * element_at(x, i).cast("double")))
    def sqDist(a: Column, b: Column, d: Int): Column =
      aggregate(sequence(lit(1), lit(d)), lit(0.0), (acc, i) =>
        acc + (element_at(a, i).cast("double") - element_at(b, i).cast("double")) *
          (element_at(a, i).cast("double") - element_at(b, i).cast("double")))
    val e = embeddings(spark, dir).where(col("vec_id") < 100)
      .select(col("vec_id"), col("embedding"), proj(col("embedding")).as("y"))
    val pairs = e.where(col("vec_id") % 2 === 0)
      .select((col("vec_id") / 2).cast("long").as("pair_id"),
        col("vec_id").as("va"), col("embedding").as("xa"), col("y").as("ya"))
      .join(e.select(col("vec_id").as("vb"), col("embedding").as("xb"),
        col("y").as("yb")), col("vb") === col("va") + 1)
    pairs
      .withColumn("d2_orig", round(sqDist(col("xa"), col("xb"), 64), 6))
      .withColumn("d2_proj", round(sqDist(col("ya"), col("yb"), JlM), 6))
      .withColumn("ratio",
        when(col("d2_orig") > 0, round(col("d2_proj") / col("d2_orig"), 6)))
      .withColumn("in_band", col("ratio").between(0.3, 2.2))
      .select(col("pair_id"), col("d2_orig"), col("d2_proj"), col("ratio"),
        col("in_band"))
      .orderBy("pair_id")
  }

  /** DuckDB twins: same subspace slicing, same left-to-right double
    * arithmetic (`snn - 2*dot + cnn`), same 6-dp rounding before
    * argmin/rank, same decimal-quantized ADC sum. */
  private[ops] val subSql =
    s"""sub AS (SELECT vec_id, label, ss.s AS s,
          list_transform(range(1, ${Dsub + 1}),
            d -> CAST(embedding[ss.s * $Dsub + d] AS DOUBLE)) AS sv
        FROM embeddings, (SELECT unnest(range(0, $M)) AS s) ss),
        subn AS (SELECT vec_id, label, s, sv,
          list_sum(list_transform(sv, x -> CAST(x * x AS DOUBLE))) AS snn
          FROM sub),
        cb AS (SELECT s, vec_id AS j, sv AS cemb, snn AS cnn
          FROM subn WHERE vec_id < $K),
        d2s AS (SELECT v.vec_id, v.label, v.s, c.j,
          round(v.snn - 2 * list_sum(list_transform(range(1, ${Dsub + 1}),
            i -> CAST(v.sv[i] * c.cemb[i] AS DOUBLE))) + c.cnn, 6) AS d2
        FROM subn v JOIN cb c USING (s)),
        codes AS (SELECT vec_id, label, s, j AS code, d2 FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, s
            ORDER BY d2 ASC, j ASC) AS rk FROM d2s) WHERE rk = 1)"""

  /** `lut(qid, s, j, dr)`: each query's (vec_id < 5) round-6 distance to
    * every codeword, over [[subSql]]. */
  private[ops] val lutSql =
    s"""lut AS (SELECT v.vec_id AS qid, v.s, c.j,
            round(v.snn - 2 * list_sum(list_transform(range(1, ${Dsub + 1}),
              i -> CAST(v.sv[i] * c.cemb[i] AS DOUBLE))) + c.cnn, 6) AS dr
          FROM subn v JOIN cb c USING (s) WHERE v.vec_id < 5)"""

  /** [[lutSql]] plus `adc(qid, vec_id, adc)`: the decimal-summed ADC
    * distance from each query to every other coded vector. */
  private[ops] val adcSql =
    s"""$lutSql,
          adc AS (SELECT l.qid, y.vec_id,
            CAST(SUM(CAST(l.dr AS DECIMAL(18,6))) AS DOUBLE) AS adc
          FROM codes y JOIN lut l ON y.s = l.s AND y.code = l.j
            AND l.qid != y.vec_id
          GROUP BY 1, 2)"""

  /** The IVF probe as DuckDB CTEs — text-identical math to the
    * `llm_ivf_ann` oracle in [[Llm2]] (decimal-mean centroids, 6-dp
    * rounded cosine, label-asc tiebreak). Ends in `probed(qid, cell)`. */
  private[ops] val ivfProbeSql =
    s"""${Llm2.labelCentroidsSql},
          e2 AS (SELECT vec_id, label, embedding, ${normSql("embedding")} AS nrm
            FROM embeddings),
          q2 AS (SELECT vec_id AS qid, embedding AS qemb, nrm AS qnrm
            FROM e2 WHERE vec_id < 5),
          probed0 AS (SELECT qid, c.label,
              ROW_NUMBER() OVER (PARTITION BY qid
                ORDER BY round(${dotSql("qemb", "c.cemb")} / (qnrm * c.cnrm), 6) DESC,
                         c.label ASC) AS rn
            FROM q2 CROSS JOIN centn c),
          probed AS (SELECT qid, label AS cell FROM probed0 WHERE rn = 1)"""

  val entries: Map[String, Op] = Map(
    "llm_random_projection" -> Op(randomProjection, {
      val s = "((" + graft.Tables.h48Sql(
        "CAST(i AS VARCHAR) || ':' || CAST(j AS VARCHAR)") +
        ") % 2) * 2 - 1"
      s"""WITH e AS (SELECT vec_id, embedding,
             list_transform(range(1, ${JlM + 1}), j ->
               0.25 * list_sum(list_transform(range(1, 65), i ->
                 ($s) * CAST(embedding[i] AS DOUBLE)))) AS y
           FROM embeddings WHERE vec_id < 100),
         p AS (SELECT a.vec_id // 2 AS pair_id,
             a.embedding AS xa, a.y AS ya, b.embedding AS xb, b.y AS yb
           FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
           WHERE a.vec_id % 2 = 0),
         d AS (SELECT pair_id,
             round(list_sum(list_transform(range(1, 65), i ->
               (CAST(xa[i] AS DOUBLE) - CAST(xb[i] AS DOUBLE))
                 * (CAST(xa[i] AS DOUBLE) - CAST(xb[i] AS DOUBLE)))), 6)
               AS d2_orig,
             round(list_sum(list_transform(range(1, ${JlM + 1}), i ->
               (CAST(ya[i] AS DOUBLE) - CAST(yb[i] AS DOUBLE))
                 * (CAST(ya[i] AS DOUBLE) - CAST(yb[i] AS DOUBLE)))), 6)
               AS d2_proj
           FROM p)
         SELECT CAST(pair_id AS BIGINT) AS pair_id, d2_orig, d2_proj,
           CASE WHEN d2_orig > 0 THEN round(d2_proj / d2_orig, 6) END AS ratio,
           CASE WHEN d2_orig > 0 THEN round(d2_proj / d2_orig, 6) END
             BETWEEN 0.3 AND 2.2 AS in_band
         FROM d ORDER BY pair_id"""
    }),
    "llm_pq_encode" -> Op(pqEncode,
      s"""WITH $subSql
          SELECT label, COUNT(DISTINCT vec_id) AS n_vecs,
            round(CAST(SUM(CAST(d2 AS DECIMAL(18,6))) AS DOUBLE)
              / COUNT(DISTINCT vec_id), 6) AS avg_recon_d2,
            COUNT(DISTINCT s * $K + code) AS n_codes_used
          FROM codes GROUP BY label ORDER BY label"""),
    "llm_pq_ann" -> Op(pqAnn,
      s"""WITH $subSql,
          $adcSql,
          ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY adc ASC, vec_id ASC) AS rn FROM adc)
          SELECT qid, vec_id, adc, CAST(rn AS INT) AS rn
          FROM ranked WHERE rn <= 3 ORDER BY qid, rn"""),
    "llm_ivfpq_ann" -> Op(ivfpqAnn,
      s"""WITH $subSql,
          $ivfProbeSql,
          $lutSql,
          adc AS (SELECT l.qid, p.cell, y.vec_id,
            CAST(SUM(CAST(l.dr AS DECIMAL(18,6))) AS DOUBLE) AS adc
          FROM codes y JOIN probed p ON y.label = p.cell
            JOIN lut l ON y.s = l.s AND y.code = l.j AND l.qid = p.qid
            AND l.qid != y.vec_id
          GROUP BY 1, 2, 3),
          ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
            ORDER BY adc ASC, vec_id ASC) AS rn FROM adc)
          SELECT qid, cell, vec_id, adc, CAST(rn AS INT) AS rn
          FROM ranked WHERE rn <= 3 ORDER BY qid, rn"""),
  )
}
