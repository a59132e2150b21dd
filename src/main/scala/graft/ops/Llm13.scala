package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-15 continuation: pretraining-data membership inference. */
object Llm13 {

  /** L391 — Min-K% Prob membership-inference score (Shi et al. ICLR
    * 2024 "Detecting Pretraining Data from Large Language Models" —
    * score a document by the mean log-probability of its k% LEAST
    * likely tokens: a member's outlier tokens were seen in training
    * and score systematically higher than a non-member's, while the
    * full-document mean (L132) washes that signal out in the fluent
    * majority. The audit run when checking whether a benchmark leaked
    * into a training corpus — the LM-based complement to L77/L173's
    * exact n-gram decontamination). LM = the L132 corpus unigram model
    * (vocabulary-sized broadcast + 1-row total); per-token log-probs
    * are round-6 BEFORE ranking so both engines rank identical values,
    * and boundary ties share one lp value so the bottom-k MULTISET is
    * order-invariant; k = max(1, ⌊n/5⌋) tokens (k%=20). One token
    * scan + one doc-keyed window at any corpus size; output bounded
    * doc_id < 100 (the L132 convention). */
  def minKProb(spark: SparkSession, dir: String): DataFrame = {
    val w = documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val freq = w.groupBy("word").agg(count(lit(1)).as("c"))
    val tot = w.agg(count(lit(1)).as("t"))
    val scored = w.where(col("doc_id") < 100)
      .join(freq, "word")
      .crossJoin(broadcast(tot))
      .select(col("doc_id"),
        round(log(col("c").cast("double") / col("t").cast("double")), 6)
          .as("lp"))
    val wDoc = Window.partitionBy(col("doc_id"))
    val wRank = wDoc.orderBy(col("lp"))
    scored
      .withColumn("n_tokens", count(lit(1)).over(wDoc))
      .withColumn("k_cnt", greatest(lit(1L), expr("n_tokens div 5")))
      .withColumn("rr", row_number().over(wRank))
      .where(col("rr") <= col("k_cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("n_tokens")).as("n_tokens"),
        max(col("k_cnt")).as("k_tokens"),
        round(dsum(col("lp")) / max(col("k_cnt")).cast("double"), 6)
          .as("min_k_avg_logprob"))
      .orderBy("doc_id")
  }

  val entries: Map[String, Op] = Map(
    "llm_min_k_prob" -> Op(minKProb,
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
           FROM documents),
         freq AS (SELECT word, COUNT(*) AS c FROM w GROUP BY 1),
         tot AS (SELECT COUNT(*) AS t FROM w),
         scored AS (SELECT doc_id,
             round(LN(CAST(c AS DOUBLE) / t), 6) AS lp
           FROM w JOIN freq USING (word) CROSS JOIN tot
           WHERE doc_id < 100),
         rk AS (SELECT doc_id, lp,
             CAST(COUNT(*) OVER (PARTITION BY doc_id) AS BIGINT)
               AS n_tokens,
             GREATEST(1, CAST(COUNT(*) OVER (PARTITION BY doc_id)
               AS BIGINT) // 5) AS k_cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY lp) AS rr
           FROM scored)
         SELECT doc_id, MAX(n_tokens) AS n_tokens, MAX(k_cnt) AS k_tokens,
           round(CAST(SUM(CAST(lp AS DECIMAL(18,6))) AS DOUBLE)
             / MAX(k_cnt), 6) AS min_k_avg_logprob
         FROM rk WHERE rr <= k_cnt
         GROUP BY doc_id ORDER BY doc_id"""),
  )
}
