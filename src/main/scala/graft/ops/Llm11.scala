package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 LLM-pipeline widening: distributed tokenizer induction —
  * BPE merge learning (Sennrich, Haddow & Birch ACL 2016, the
  * subword algorithm GPT-2/RoBERTa-style tokenizers train with; Gage
  * 1994 for the original byte-pair compression). "Train the tokenizer
  * on the corpus" is a first-class pipeline step the family lacked:
  * L163 counts tokens GIVEN a tokenizer, L302 measures fertility
  * GIVEN one — this op LEARNS the merge table itself. */
object Llm11 {

  /** Symbol separator inside a segmentation string: every symbol is
    * PRECEDED by one U+0001, so the plain (non-regex) `replace` of
    * `␁a␁b → ␁ab` is exactly BPE's greedy left-to-right
    * non-overlapping merge — the leading separator makes a
    * mid-symbol match impossible (a symbol's text is never preceded
    * by ␁ unless it IS the symbol start), and because the pattern
    * does not consume the NEXT symbol's separator, chained
    * occurrences (`␁a␁a␁a␁a` → `␁aa␁aa`) merge exactly as the greedy
    * scan does. Both engines' `replace` scan left-to-right over
    * non-overlapping occurrences, so engine and oracle share the
    * merge semantics by construction. */
  private val Sep = "\u0001"

  /** L370 — BPE merge learning, five iterations: per iteration, count
    * adjacent-symbol pairs over the current corpus segmentation
    * (weighted by word frequency, overlapping adjacents counted — the
    * Sennrich convention), pick the arg-max pair under the total
    * (count desc, left asc, right asc) order, apply it greedily, and
    * report the merge plus the corpus token count AFTER it — the
    * recomputed count cross-checks the replace semantics, since
    * greedy application merges fewer occurrences than the overlapping
    * pair count when runs overlap.
    *
    * 100-TB shape: everything lives at the DISTINCT-WORD grain (the
    * classic BPE-training trick — a million-type vocabulary stands in
    * for a trillion-token corpus, with `cnt` carrying the weight), so
    * each iteration is one vocabulary-bounded agg; the arg-max is ONE
    * collected row per iteration (driver round-trips = merge count —
    * the L230 bounded-unroll discipline, same as `graph_pagerank_step`);
    * the merge applies as a row-local `replace`. No token-grain
    * shuffle anywhere. */
  /** The shared learn loop: five merges over the distinct-word frame;
    * returns the merge rows and the FINAL segmentation (word, cnt, s)
    * — consumed by [[bpeMerges]] (the merge-table readout) and
    * [[bpeTokenize]] (applying the learned tokenizer back to the
    * corpus). An empty corpus — or one whose pairs run out before
    * five merges — stops the loop early (RobustnessSpec's empty-tables
    * sweep): the merge readout then matches the oracle's unrolled
    * blocks, whose empty arg-max rows vanish from the union. The
    * tokenize oracle additionally assumes the corpus supports all
    * five merges (true of any natural corpus; the fixture's shortest
    * word has 2 chars and 31 types), since its seg5 chain empties on
    * an exhausted b_k where the engine keeps the last segmentation. */
  private def learn(spark: SparkSession, dir: String)
      : (Seq[(Long, String, String, Long, Long)], DataFrame) = {
    var seg = documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("s", regexp_replace(col("word"), "(.)", Sep + "$1"))
      .localCheckpoint(true) // 5 chained replaces — keep lineage flat
    val out = Seq.newBuilder[(Long, String, String, Long, Long)]
    var exhausted = false
    for (step <- 1 to 5 if !exhausted) {
      val best = graft.Tables.boundedCollect(seg
        .where(size(split(col("s"), Sep)) >= 3)
        .select(col("cnt"), explode(expr(
          s"transform(sequence(2, size(split(s, '$Sep')) - 1), " +
            s"i -> struct(element_at(split(s, '$Sep'), i) as a, " +
            s"element_at(split(s, '$Sep'), i + 1) as b))")).as("pr"))
        .groupBy(col("pr.a").as("a"), col("pr.b").as("b"))
        .agg(sum(col("cnt")).as("pcnt"))
        .orderBy(col("pcnt").desc, col("a").asc, col("b").asc)
        .limit(1), 1, s"BPE arg-max (step $step)")
      if (best.isEmpty) exhausted = true // empty corpus / no pairs left
      else {
        val (a, b, pcnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        seg = seg.withColumn("s",
          replace(col("s"), lit(Sep + a + Sep + b), lit(Sep + a + b)))
          .localCheckpoint(true)
        val nTok = graft.Tables.boundedCollect(
          seg.agg(sum(col("cnt") * (size(split(col("s"), Sep)) - 1)).as("n")),
          1, "BPE token-count row")(0).getLong(0)
        out += ((step.toLong, a, b, pcnt, nTok))
      }
    }
    (out.result(), seg)
  }

  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    learn(spark, dir)._1
      .toDF("step", "left_sym", "right_sym", "pair_count", "n_tokens_after")
      .orderBy("step")
  }

  /** L372 — applying the LEARNED tokenizer back to the corpus:
    * per-language token counts and fertility (tokens per word) under
    * the five-merge BPE table L370 just trained — the self-consistency
    * readout a tokenizer-training pipeline publishes (L302 measures
    * fertility for a GIVEN reference tokenizer; this one closes the
    * loop with the corpus's own). The learned segmentation is a
    * vocabulary-bounded (word → n_tokens) table; applying it is one
    * broadcast-joinable lookup against the per-(lang, word) count
    * frame — at 100 TB the corpus scan is the cost, the tokenizer
    * table rides the shuffle-free side. */
  /** The learned five-merge segmentation at word grain (word, n_sym) —
    * consumed by [[bpeTokenize]] and Llm16's tokenizer bakeoff. */
  private[ops] def segN(spark: SparkSession, dir: String): DataFrame =
    learn(spark, dir)._2
      .select(col("word"),
        (size(split(col("s"), Sep)) - 1).cast("long").as("n_sym"))

  def bpeTokenize(spark: SparkSession, dir: String): DataFrame = {
    val segN = this.segN(spark, dir)
    val byLang = documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
    byLang.join(broadcast(segN), "word")
      .groupBy("lang")
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_sym")).as("n_tokens"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_words").cast("double"),
          6).as("fertility"))
      .orderBy("lang")
  }

  /** One BPE iteration as a DuckDB CTE block: pairs from seg$p, the
    * arg-max row b$k, the merged segmentation seg$k, and the post-merge
    * token count n$k. */
  /** The five unrolled BPE oracle blocks + the final (word, n_sym)
    * table — shared with Llm16's bakeoff oracle. Defines seg0..seg5,
    * p1..5, b1..5, n1..5, segn; assumes a `wc` CTE in scope. */
  private[ops] def bpeChainSql: String =
    s"""seg0 AS (SELECT word, cnt,
           regexp_replace(word, '(.)', chr(1) || '\\1', 'g') AS s
         FROM wc),
       ${(1 to 5).map(bpeStepSql).mkString(",\n")},
       segn AS (SELECT word,
           CAST(len(string_split(s, chr(1))) - 1 AS BIGINT) AS n_sym
         FROM seg5)"""

  private def bpeStepSql(k: Int): String = {
    val p = k - 1
    s"""p$k AS (SELECT pr.a AS a, pr.b AS b, CAST(SUM(cnt) AS BIGINT) AS pcnt
         FROM (SELECT cnt, unnest(list_transform(range(2, len(sym)),
               i -> {'a': sym[i], 'b': sym[i + 1]})) AS pr
             FROM (SELECT cnt, string_split(s, chr(1)) AS sym FROM seg$p))
         GROUP BY 1, 2),
       b$k AS (SELECT a, b, pcnt FROM p$k
         ORDER BY pcnt DESC, a ASC, b ASC LIMIT 1),
       seg$k AS (SELECT seg$p.word, seg$p.cnt,
           replace(seg$p.s, chr(1) || b$k.a || chr(1) || b$k.b,
             chr(1) || b$k.a || b$k.b) AS s
         FROM seg$p, b$k),
       n$k AS (SELECT CAST(SUM(cnt * (len(string_split(s, chr(1))) - 1))
           AS BIGINT) AS n_tokens FROM seg$k)"""
  }

  /** Oracle CTEs: corpus word counts `wc(word, cnt)` and every word split
    * into characters `seg0(word, cnt, s)` (chr(1)-separated symbols). */
  private val bpeSeedSql =
    s"""wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM (SELECT unnest(string_split(text, ' ')) AS word
             FROM documents)
           WHERE len(word) > 0 GROUP BY 1),
         seg0 AS (SELECT word, cnt,
             regexp_replace(word, '(.)', chr(1) || '\\1', 'g') AS s
           FROM wc)"""

  val entries: Map[String, Op] = Map(
    "llm_bpe_merges" -> Op(bpeMerges, {
      val steps = (1 to 5).map(bpeStepSql).mkString(",\n")
      val union = (1 to 5).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS step, b$k.a AS left_sym,
           b$k.b AS right_sym, b$k.pcnt AS pair_count,
           n$k.n_tokens AS n_tokens_after FROM b$k, n$k""")
        .mkString(" UNION ALL ")
      s"""WITH $bpeSeedSql,
         $steps
         $union ORDER BY step"""
    }),
    "llm_bpe_tokenize" -> Op(bpeTokenize, {
      val steps = (1 to 5).map(bpeStepSql).mkString(",\n")
      s"""WITH $bpeSeedSql,
         $steps,
         segn AS (SELECT word,
             CAST(len(string_split(s, chr(1))) - 1 AS BIGINT) AS n_sym
           FROM seg5),
         bl AS (SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM (SELECT lang, unnest(string_split(text, ' ')) AS word
             FROM documents)
           WHERE len(word) > 0 GROUP BY 1, 2)
         SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_words,
           CAST(SUM(cnt * n_sym) AS BIGINT) AS n_tokens,
           round(CAST(SUM(cnt * n_sym) AS BIGINT)
             / CAST(SUM(cnt) AS DOUBLE), 6) AS fertility
         FROM bl JOIN segn USING (word)
         GROUP BY lang ORDER BY lang"""
    }),
  )
}
