package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 continuation: greedy k-center corpus selection (the
  * geometric-cover subset selector beside L178's MMR rerank), GSP-style
  * sequential-pattern support mining over user event streams, and
  * audio decimation (the audio TRANSFORM beside L375's image
  * equalization). */
object Llm12 {

  private val K = 8

  private def dot(a: Column, b: Column): Column =
    graft.functions.ArrayMath.dotProduct(a, b)

  /** L381 — greedy k-center selection (Gonzalez TCS 1985 maximin
    * farthest-point traversal, the classic 2-approximation to the
    * k-center cover — the coreset/diverse-subset selector data-pruning
    * pipelines run to pick representative documents before expensive
    * labeling or training; DIFFERENT family from L178's MMR, which
    * re-ranks a relevance-bounded top-20 pool — k-center covers the
    * WHOLE corpus geometry, no query anywhere). Seed = min vec_id (the
    * paper's "arbitrary first center", made deterministic); each of
    * the k−1 steps picks the point FARTHEST from its nearest selected
    * center (round-6 maximin d², ties → min vec_id). Exactness: d² =
    * dot(p,p) + dot(c,c) − 2·dot(p,c) with every dot the shared
    * index-order fold ([[graft.functions.ArrayMath]] ⋄ `list_sum`
    * parity), round-6 BEFORE the min/argmax so both engines rank
    * identical numbers; the oracle unrolls the greedy loop as k−1
    * mechanically generated CTE blocks (the L178/L370 convention).
    * Scale: each step is ONE corpus scan against a ≤k-row broadcast
    * (selected centers) finished by a TakeOrdered(1) — k scans total,
    * the L230 driver-loop discipline (one collected row per step,
    * through `boundedCollect`); the final cover radius is one more
    * scan. Never pairwise. */
  def kcenterSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pts = embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .localCheckpoint()
    def minD2(centers: DataFrame): DataFrame =
      pts.crossJoin(broadcast(centers
          .select(col("vec_id").as("cid"), col("emb").as("cemb"))))
        .select(col("vec_id"), col("cid"),
          round(dot(col("emb"), col("emb")) + dot(col("cemb"), col("cemb"))
            - lit(2.0) * dot(col("emb"), col("cemb")), 6).as("d2"))
        .groupBy(col("vec_id")).agg(min(col("d2")).as("mind"))
    if (pts.limit(1).count() == 0) // empty corpus → empty result
      return Seq.empty[(Long, Long, Option[Double], Double)]
        .toDF("sel_order", "vec_id", "maximin_d2", "final_radius_d2")
    val seed = boundedCollect(
      pts.agg(min(col("vec_id")).as("v")).as[Long], 1, "k-center seed")(0)
    var selected = Vector((seed, Option.empty[Double]))
    var exhausted = false // corpus smaller than K: select what exists
    while (selected.length < K && !exhausted) {
      val centers = pts.where(col("vec_id").isin(selected.map(_._1): _*))
      val next = boundedCollect(
        minD2(centers)
          .where(!col("vec_id").isin(selected.map(_._1): _*))
          .orderBy(col("mind").desc, col("vec_id").asc).limit(1)
          .as[(Long, Double)], 1, "k-center argmax")
      if (next.isEmpty) exhausted = true
      else selected = selected :+ ((next(0)._1, Some(next(0)._2)))
    }
    val finalCenters = pts.where(col("vec_id").isin(selected.map(_._1): _*))
    val radius = boundedCollect(
      minD2(finalCenters).agg(max(col("mind")).as("r")).as[Double],
      1, "k-center radius")(0)
    selected.zipWithIndex
      .map { case ((v, d), i) => (i + 1L, v, d, radius) }
      .toDF("sel_order", "vec_id", "maximin_d2", "final_radius_d2")
  }

  /** L382 — sequential-pattern support, GSP-style at length ≤ 3
    * (Srikant & Agrawal EDBT 1996 — SUBSEQUENCE support over per-user
    * event streams: "some a, then later some b, then later some c",
    * gaps allowed; the general form of which L90's fixed funnel and
    * L203's CONTIGUOUS Markov transitions are the two special cases).
    * Subsequence existence is decided by the greedy-earliest chain
    * (t₁ = first a; t₂ = first b after t₁; t₃ = first c after t₂ —
    * earliest-occurrence greediness is exact for subsequence tests):
    * every timestamp an exact micro integer, support an exact user
    * count. Scale: the chain frames are events joined against
    * DIMENSION-BOUNDED anchor tables (|types| = 5 anchors, then ≤ 25 —
    * the ×7 explode discipline of L290 with a ×|types|² cap), each
    * step one user-keyed shuffle; output ≤ |types|²+|types|³ rows. */
  def seqPatternSupport(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
      .select(col("user_id"), col("event_type").as("t"),
        unix_micros(col("ts")).as("us"))
    val nUsers = ev.groupBy().agg(
      count_distinct(col("user_id")).as("n_total_users"))
    val t1 = ev.groupBy(col("user_id"), col("t").as("a"))
      .agg(min(col("us")).as("t1"))
      .select(col("user_id"), col("a"), col("t1"))
    val t2 = ev.join(t1.withColumnRenamed("user_id", "u1"),
        col("user_id") === col("u1") && col("us") > col("t1"))
      .groupBy(col("user_id"), col("a"), col("t").as("b"))
      .agg(min(col("us")).as("t2"))
    val t3 = ev.join(t2.select(col("user_id").as("u2"), col("a"),
          col("b"), col("t2")),
        col("user_id") === col("u2") && col("us") > col("t2"))
      .groupBy(col("user_id"), col("a"), col("b"), col("t").as("c"))
      .agg(min(col("us")).as("t3"))
    val sup2 = t2.groupBy(col("a"), col("b"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .select(concat_ws(">", col("a"), col("b")).as("pattern"),
        lit(2L).as("k"), col("n_users"))
    val sup3 = t3.groupBy(col("a"), col("b"), col("c"))
      .agg(count_distinct(col("user_id")).as("n_users"))
      .select(concat_ws(">", col("a"), col("b"), col("c")).as("pattern"),
        lit(3L).as("k"), col("n_users"))
    sup2.unionByName(sup3)
      .crossJoin(broadcast(nUsers))
      .withColumn("support",
        round(col("n_users").cast("double") /
          col("n_total_users").cast("double"), 6))
      .select(col("k"), col("pattern"), col("n_users"), col("support"))
      .orderBy(col("k"), col("n_users").desc, col("pattern"))
  }

  /** L383 — audio decimation by 2 (the resample TRANSFORM beside the
    * measuring ops L175/L367/L374: halve the rate with a 2-tap boxcar
    * anti-alias average, the first stage of any integer-factor
    * resampler — Crochiere & Rabiner 1983). y[j] = ⌊(s[2j] +
    * s[2j+1]) / 2⌋ in exact integers through the REAL RIFF decode;
    * the fixture's square wave flips only at even sample indices, so
    * no output pair ever straddles a flip and the decimated wave is
    * EXACTLY the half-length square wave — peak and Σ|y| are
    * closed-form from the planted window rule, which is what lets the
    * oracle predict the transform's output without a codec. Row-local
    * end to end. */
  def audioResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"))).as[Long] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map(MmResample.resampleOf))
      .toDF()
      .orderBy("doc_id")
  }

  /** Unrolled greedy k-center twin: step j computes every remaining
    * point's round-6 min-d² to the selected set and takes the maximin
    * row (mind DESC, vec_id) — mechanically generated blocks, the
    * L178/L370 unrolled-loop convention. */
  private def kcenterSql: String = {
    // self-dots precomputed once per point; every CTE that is referenced
    // more than once is MATERIALIZED — without the hint the chained
    // s_j/c_j references re-inline the whole prefix per use and the
    // oracle's cost explodes exponentially in k (measured: ~11 min CPU
    // at 500 points before the hints, seconds after)
    val d2 = s"round(p.n2 + c.n2 - " +
      s"2.0 * ${dotSql("p.embedding", "c.embedding")}, 6)"
    def mStep(j: Int) =
      s"""m$j AS (SELECT p.vec_id, MIN($d2) AS mind
           FROM pts p
           JOIN (SELECT q.vec_id, q.embedding, q.n2 FROM pts q
             JOIN s$j ON q.vec_id = s$j.vec_id) c ON TRUE
           WHERE p.vec_id NOT IN (SELECT vec_id FROM s$j)
           GROUP BY p.vec_id),
         c${j + 1} AS MATERIALIZED (SELECT vec_id, mind FROM m$j
           ORDER BY mind DESC, vec_id LIMIT 1),
         s${j + 1} AS MATERIALIZED (SELECT vec_id FROM s$j
           UNION ALL SELECT vec_id FROM c${j + 1})"""
    val steps = (1 until K).map(mStep).mkString(",\n         ")
    val sel = (2 to K).map(j =>
      s"SELECT CAST($j AS BIGINT) AS sel_order, vec_id, mind AS maximin_d2 FROM c$j")
      .mkString("\n           UNION ALL ")
    s"""WITH pts AS MATERIALIZED (SELECT vec_id, embedding,
           ${dotSql("embedding", "embedding")} AS n2 FROM embeddings),
         c1 AS MATERIALIZED (SELECT MIN(vec_id) AS vec_id FROM pts),
         s1 AS MATERIALIZED (SELECT vec_id FROM c1),
         $steps,
         mfin AS (SELECT p.vec_id, MIN($d2) AS mind
           FROM pts p
           JOIN (SELECT q.vec_id, q.embedding, q.n2 FROM pts q
             JOIN s$K ON q.vec_id = s$K.vec_id) c ON TRUE
           GROUP BY p.vec_id),
         rf AS (SELECT MAX(mind) AS final_radius_d2 FROM mfin),
         ord AS (SELECT CAST(1 AS BIGINT) AS sel_order, vec_id,
             CAST(NULL AS DOUBLE) AS maximin_d2 FROM c1
           UNION ALL $sel)
       SELECT sel_order, vec_id, maximin_d2, final_radius_d2
       FROM ord, rf ORDER BY sel_order"""
  }

  val entries: Map[String, Op] = Map(
    "llm_kcenter_select" -> Op(kcenterSelect, kcenterSql),
    "seq_pattern_support" -> Op(seqPatternSupport,
      s"""WITH ev AS (SELECT user_id, event_type AS t, epoch_us($evTs) AS us
           FROM events),
         nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_total
           FROM ev),
         t1 AS (SELECT user_id, t AS a, MIN(us) AS t1 FROM ev GROUP BY 1, 2),
         t2 AS (SELECT e.user_id, s.a, e.t AS b, MIN(e.us) AS t2
           FROM ev e JOIN t1 s ON e.user_id = s.user_id AND e.us > s.t1
           GROUP BY 1, 2, 3),
         t3 AS (SELECT e.user_id, s.a, s.b, e.t AS c, MIN(e.us) AS t3
           FROM ev e JOIN t2 s ON e.user_id = s.user_id AND e.us > s.t2
           GROUP BY 1, 2, 3, 4),
         sup AS (SELECT a || '>' || b AS pattern, CAST(2 AS BIGINT) AS k,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
           FROM t2 GROUP BY 1
           UNION ALL
           SELECT a || '>' || b || '>' || c, CAST(3 AS BIGINT),
             CAST(COUNT(DISTINCT user_id) AS BIGINT)
           FROM t3 GROUP BY 1)
         SELECT k, pattern, n_users,
           round(CAST(n_users AS DOUBLE) / n_total, 6) AS support
         FROM sup, nu ORDER BY k, n_users DESC, pattern"""),
    // closed-form from the L367 window rule: a speech window contributes
    // 80 samples of |y| = A after decimation (160/2), silence exactly 0;
    // the flips sit on even indices so no pair straddles one.
    "mm_audio_resample" -> Op(audioResample,
      s"""WITH ${MmVad.speechWindowsSql},
         agg AS (SELECT f, CAST(SUM(s) AS BIGINT) AS n_speech
           FROM sp GROUP BY 1)
         SELECT doc_id, CAST(8000 AS BIGINT) AS n_in,
           CAST(4000 AS BIGINT) AS n_out,
           CAST(CASE WHEN n_speech > 0 THEN 500 + 100 * (f % 10)
             ELSE 0 END AS BIGINT) AS peak_out,
           CAST(n_speech * 80 * (500 + 100 * (f % 10)) AS BIGINT)
             AS sum_abs_out
         FROM cls JOIN agg USING (f) ORDER BY doc_id"""),
  )
}

/** Decimation kernel over the [[MmVad]] WAV fixtures (real decode via
  * the shared [[MmAudio]] RIFF reader). */
object MmResample {
  case class ResampleRow(doc_id: Long, n_in: Long, n_out: Long,
    peak_out: Long, sum_abs_out: Long)

  def resampleOf(docId: Long): ResampleRow = {
    val s = MmAudio.samplesOf(MmAudio.Wav(docId, MmVad.synthesize(docId)))
    val n = s.length / 2
    var peak = 0L
    var sumAbs = 0L
    var j = 0
    while (j < n) {
      val y = math.floorDiv(s(2 * j) + s(2 * j + 1), 2).toLong
      val a = math.abs(y)
      if (a > peak) peak = a
      sumAbs += a
      j += 1
    }
    ResampleRow(docId, s.length.toLong, n.toLong, peak, sumAbs)
  }
}
