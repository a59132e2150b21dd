package graft.ops

import graft.Tables._
import graft.functions.ArrayMath.dotProduct
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-17 ANN follow-through: MULTI-PROBE IVF recall sweep
  * (`llm_ivf_multiprobe`, L408) — the engineering answer to the L397
  * audit's honest bad news (single-probe IVF recall 0.12 on the
  * near-isotropic fixture embeddings: when vectors sit close to
  * equidistant from every centroid, the top-1 cell rarely holds the
  * true neighbors). Multi-probe (Lv et al. VLDB 2007 popularized the
  * idea for LSH; every production IVF index — FAISS `nprobe` — ships
  * the same knob) scans the `nprobe` NEAREST cells instead of one,
  * buying recall linearly in scanned candidates. This key sweeps
  * nprobe ∈ {1, 2, 4, 10} with the L397 audit's exact ground truth and
  * reports the same (recall, cost) columns, so the 1-row is the L397
  * `ivf` row reproduced, the 10-row (all cells) is the exact anchor,
  * and the curve between is the knob a deployment actually tunes.
  *
  * 100-TB shape: identical to `llm_ivf_ann` — the centroid table is
  * label-cardinality-sized and broadcast, the candidate stage is an
  * equi-join on the probed cell (candidates ∝ nprobe/k of the corpus,
  * never all-pairs), and the sweep reuses ONE ranked-probe frame (50
  * rows) across all four configurations. */
object Llm19 {

  private val K = 5 // retrieval depth AND |Q| (the family convention)

  /** Swept probe widths; 10 = the fixture's full cell count, making
    * the last row an exact-recall anchor by construction. */
  private[graft] val Probes = Seq(1, 2, 4, 10)

  def ivfMultiprobe(spark: SparkSession, dir: String): DataFrame = {
    val e = Llm2.normedEmbeddings(spark, dir)
      .select(col("vec_id"), col("label"), col("emb"), col("nrm"))
    val qs = e.where(col("vec_id") < K).select(col("vec_id").as("qid"))
    // exact cosine top-5 ground truth — the L397 audit's anchor set
    val exact = Llm.simTopk(spark, dir).where(col("qid") < K)
      .select(col("qid"), col("vec_id"))
    // one ranked-probe frame (|Q| x cells = 50 rows) shared by the sweep
    val ranked = Llm2.ivfProbeRanked(spark, dir).localCheckpoint(true)

    val rows = Probes.map { p =>
      val cells = ranked.where(col("rn") <= p)
        .select(col("qid"), col("qemb"), col("qnrm"), col("label").as("cell"))
      val scored = cells
        .join(e, col("cell") === e("label") && col("qid") =!= e("vec_id"))
        .select(col("qid"), col("vec_id"),
          round(dotProduct(col("qemb"), col("emb")) / (col("qnrm") * col("nrm")), 6)
            .as("cos_r"))
      val retrieved = Llm15.top5(scored, Seq(col("cos_r").desc, col("vec_id").asc))
      Llm15.recallRow(qs, exact, retrieved, scored)
        .select(lit(p.toLong).as("nprobe"), col("n_queries"),
          col("avg_recall"), col("min_recall"), col("avg_candidates"))
    }
    rows.reduce(_ unionByName _).orderBy("nprobe")
  }

  // ---------- DuckDB oracle ----------

  private def probeRow(p: Int): String =
    Llm15.recallRowSql(s"CAST($p AS BIGINT) AS nprobe", s"r5_$p", s"sc_$p")

  private def cfgSql(p: Int): String =
    s"""sc_$p AS (SELECT c0.qid, c.vec_id,
          round(${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) AS cos_r
        FROM (SELECT qid, label AS cell FROM probed0 WHERE rn <= $p) c0
        JOIN e2 q ON q.vec_id = c0.qid
        JOIN e2 c ON c.label = c0.cell AND c.vec_id != c0.qid),
      r5_$p AS (SELECT qid, vec_id FROM (SELECT *, ROW_NUMBER() OVER
          (PARTITION BY qid ORDER BY cos_r DESC, vec_id ASC) AS rn FROM sc_$p)
        WHERE rn <= 5)"""

  val entries: Map[String, Op] = Map(
    "llm_ivf_multiprobe" -> Op(ivfMultiprobe,
      s"""WITH ${Llm5.ivfProbeSql},
        ${Llm15.exactTop5Sql},
        ${Probes.map(cfgSql).mkString(",\n        ")}
        SELECT * FROM (
          ${Probes.map(probeRow).mkString("\n          UNION ALL ")})
        ORDER BY nprobe"""),
  )
}
