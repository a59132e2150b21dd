package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-pipeline widening, round 7: corpus-order n-gram novelty (the
  * curriculum/dedup-aware "how much of this document is first-seen"
  * signal), a unigram-LM log-probability quality proxy (the cheap
  * perplexity stand-in run before any neural scorer), and
  * temperature-based source mix rebalancing (the `p ∝ n^α` recipe used to
  * up-weight small high-quality sources in pretraining mixtures).
  *
  * Scale notes (100 TB):
  *  - Novelty: distinct (doc, shingle) rows → shingle-keyed min-doc agg →
  *    join back on shingle → doc-keyed agg. Everything is
  *    shingle-proportional (the same budget dupSpans runs on); nothing is
  *    pairwise. First-occurrence is an associative MIN, so the map-side
  *    partial collapses each partition's duplicates before the shuffle.
  *  - Unigram log-prob: token-keyed count with map-side combine (the
  *    Zipf-head shuffle is vocabulary-sized, not corpus-sized), corpus
  *    total as a broadcast 1-row aggregate, then a doc-keyed avg. Log
  *    terms are decimal-quantized before summation ([[graft.Tables.dsum]])
  *    so the result is independent of partition/summation order.
  *  - Temperature mix: one source-keyed count (map-side combined to
  *    |sources| rows) + a broadcast 1-row total; everything after is
  *    row-local arithmetic. At any corpus size the shuffled data is the
  *    source cardinality.
  */
object Llm4 {

  /** Corpus-order 3-gram novelty per document: the fraction of a doc's
    * distinct word-trigrams whose FIRST corpus occurrence (min doc_id) is
    * this document. Exact-dup docs of earlier content score 0; the
    * doc_id order stands in for ingestion order. Docs need ≥3 words. */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = Llm3.trigrams(documents(spark, dir), "s").distinct()
    val firstDoc = sh.groupBy("s").agg(min(col("doc_id")).as("first_doc"))
    sh.join(firstDoc, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles").cast("double"), 6))
      .orderBy("doc_id")
  }

  /** Unigram-LM average log-probability per document (doc_id < 100 output
    * bound; the language model itself — token frequencies and the corpus
    * total — is fit on the FULL corpus): avg over the doc's tokens of
    * ln(count(token)/total_tokens). The classic cheap quality proxy —
    * gibberish and rare-token soup score far below fluent text. Log terms
    * go through [[graft.Tables.dsum]]'s decimal quantization so the sum
    * is partition-order independent and DuckDB-reproducible. */
  def unigramLogprob(spark: SparkSession, dir: String): DataFrame = {
    val w = documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val freq = w.groupBy("word").agg(count(lit(1)).as("c"))
    val tot = w.agg(count(lit(1)).as("t"))
    w.where(col("doc_id") < 100)
      .join(freq, "word")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        round(dsum(log(col("c").cast("double") / col("t").cast("double"))) /
          count(lit(1)).cast("double"), 6).as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** L321 — CCNet-style perplexity bucketing (Wenzek et al. 2020: score
    * every document with a cheap LM, split each language into
    * head/middle/tail perplexity TERTILES, and train on head+middle —
    * the corpus-curation recipe behind CCNet/CC-100 and the deployment
    * use of L132's per-doc score: not a number to read, a PARTITION to
    * act on). Per-doc perplexity = exp(−avg unigram logprob) with the
    * L132 decimal contract; tertile cuts are the exact interpolated
    * percentile (L21/L207 contract) per language over the round-6 ppl
    * frame; output is the per-(lang, bucket) panel — doc counts, mean
    * ppl, and the cut values — 15 rows at any corpus size. Scale: one
    * token scan fits the LM (vocabulary-sized broadcast), one scores
    * docs, the percentile agg runs per language on round-6-quantized
    * values (bounded distinct frame). */
  def ccnetPplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val w = documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("word"))
    val freq = w.groupBy("word").agg(count(lit(1)).as("c"))
    val tot = w.agg(count(lit(1)).as("t"))
    val perDoc = w
      .join(freq, "word")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id", "lang")
      .agg(round(exp(-(dsum(log(col("c").cast("double") /
        col("t").cast("double"))) / count(lit(1)).cast("double"))), 6)
        .as("ppl"))
    val cuts = perDoc.groupBy("lang")
      .agg(round(expr("percentile(ppl, CAST(1 AS DOUBLE) / 3)"), 6).as("t1"),
        round(expr("percentile(ppl, CAST(2 AS DOUBLE) / 3)"), 6).as("t2"))
    perDoc.join(broadcast(cuts), "lang")
      .withColumn("bucket",
        when(col("ppl") <= col("t1"), lit("head"))
          .when(col("ppl") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"),
        round(davg(col("ppl")), 6).as("mean_ppl"),
        max(col("t1")).as("cut_head"), max(col("t2")).as("cut_middle"))
      .orderBy("lang", "bucket")
  }

  /** L195 — trigram language model with STUPID BACKOFF scoring (Brants
    * et al. EMNLP 2007, "Large Language Models in Machine Translation" —
    * the web-scale LM smoothing that skips discount normalization
    * entirely, because at corpus scale the backoff score needs no
    * probability semantics): the n-gram upgrade of [[unigramLogprob]] as
    * a perplexity proxy for quality-bucketing before an expensive model
    * pass. The LM trains on one slice (doc_id ≥ 100) and scores a
    * DISJOINT held-out slice (doc_id < 100) — the honest deployment
    * shape, and the reason the backoff recursion actually fires (~40% of
    * held-out trigram occurrences are unseen in train on the fixtures;
    * scoring in-corpus would make every n-gram trivially "seen").
    *
    * Per token with context (w₋₂, w₋₁), α = 0.4:
    *
    *   S(w|w₋₂w₋₁) = c₃(w₋₂w₋₁w)/c₂(w₋₂w₋₁)   if the trigram occurs
    *               = α·S(w|w₋₁)                 otherwise
    *   S(w|w₋₁)    = c₂(w₋₁w)/c₁(w₋₁)          if the bigram occurs
    *               = α·S(w)                     otherwise
    *   S(w)        = c₁(w)/N, floored at 1/N for OOV words
    *
    * Document-initial tokens start at the highest order their context
    * allows WITHOUT penalty (context shortening is not backoff).
    *
    * Scale shape: all four LM tables (trigram, context-bigram, bigram,
    * unigram + the 1-row N) are vocabulary-sized BROADCASTS — the L181
    * DSIR shape — and the held-out token stream joins them with
    * broadcast hash joins; nothing pairwise, the scored stream is the
    * only corpus-proportional object. Both context words are recovered
    * INSIDE the words array (index-aware `transform` + `element_at`), so
    * no window shuffle orders tokens. Per-token log scores go through
    * the `llm_unigram_logprob` decimal contract (quantize DECIMAL(18,6)
    * then sum — order-free, absorbs ln ulp drift between engines);
    * `n_tri_hit` / `n_bo_bi` / `n_bo_uni` pin the rung each token took
    * as exact oracle-gated integers. */
  def stupidBackoff(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val train = d.where(col("doc_id") >= 100)
    val w = train.select(explode(col("ws")).as("word"))
    val uni = w.groupBy("word").agg(count(lit(1)).as("c1"))
    val tot = w.agg(count(lit(1)).as("t"))
    def grams(n: Int, name: String) = train
      .where(size(col("ws")) >= n)
      .select(explode(transform(
        slice(col("ws"), lit(1), size(col("ws")) - (n - 1)),
        (_, i) => concat_ws(" ", (0 until n).map(j =>
          element_at(col("ws"), i + j + 1)): _*))).as(name))
      .groupBy(name)
    val bi = grams(2, "bigram").agg(count(lit(1)).as("c2"))
    val tri = grams(3, "trigram").agg(count(lit(1)).as("c3"))
    val toks = d.where(col("doc_id") < 100)
      .select(col("doc_id"), explode(transform(col("ws"),
        (x, i) => struct(x.as("cur"),
          when(i >= 1, element_at(col("ws"), i)).as("p1"),
          when(i >= 2, element_at(col("ws"), i - 1)).as("p2")))).as("p"))
      .select(col("doc_id"), col("p.cur").as("cur"),
        col("p.p1").as("p1"), col("p.p2").as("p2"))
    val alpha = lit(0.4)
    val joined = toks
      .join(broadcast(uni), col("cur") === col("word"), "left")
      .drop("word")
      .join(broadcast(uni.select(col("word").as("w1"), col("c1").as("c1p"))),
        col("p1") === col("w1"), "left")
      .join(broadcast(bi),
        concat_ws(" ", col("p1"), col("cur")) === col("bigram"), "left")
      .join(broadcast(bi.select(col("bigram").as("bctx"), col("c2").as("c2ctx"))),
        concat_ws(" ", col("p2"), col("p1")) === col("bctx"), "left")
      .join(broadcast(tri),
        concat_ws(" ", col("p2"), col("p1"), col("cur")) === col("trigram"),
        "left")
      .crossJoin(broadcast(tot))
    // rung selection: trigram when full context + c3 hit; bigram when the
    // bigram occurs (penalized only if a trigram context existed); else
    // unigram/OOV (penalized once per rung actually skipped)
    val sUni = when(col("c1").isNotNull,
        col("c1").cast("double") / col("t").cast("double"))
      .otherwise(lit(1.0) / col("t").cast("double"))
    val sBi = col("c2").cast("double") / col("c1p").cast("double")
    val sTri = col("c3").cast("double") / col("c2ctx").cast("double")
    val hadTriCtx = col("p2").isNotNull
    val hadBiCtx = col("p1").isNotNull
    val scored = joined
      .withColumn("rung",
        when(hadTriCtx && col("c3").isNotNull, "tri")
          .when(col("c2").isNotNull, "bi")
          .otherwise("uni"))
      .withColumn("s",
        when(col("rung") === "tri", log(sTri))
          .when(col("rung") === "bi",
            log(when(hadTriCtx, alpha).otherwise(lit(1.0)) * sBi))
          .otherwise(log(
            when(hadTriCtx, alpha).otherwise(lit(1.0)) *
              (when(hadBiCtx, alpha).otherwise(lit(1.0)) * sUni))))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("rung") === "tri", 1L).otherwise(0L)).as("n_tri_hit"),
        sum(when(col("rung") === "bi" && hadTriCtx, 1L).otherwise(0L))
          .as("n_bo_bi"),
        sum(when(col("rung") === "uni" && hadBiCtx, 1L).otherwise(0L))
          .as("n_bo_uni"),
        round(dsum(col("s")) / count(lit(1)).cast("double"), 6)
          .as("avg_logprob"))
      .orderBy("doc_id")
  }

  /** L202 — PMI collocation mining (Church & Hanks 1990, "Word
    * association norms, mutual information, and lexicography" — the
    * statistic that separates "strong collocations" from merely
    * frequent pairs, run in pipelines to build phrase vocabularies
    * before tokenizer training): over adjacent in-document pairs,
    * PMI(a,b) = ln(c(ab)·N / (c_L(a)·c_R(b))) with N the total pair
    * count and c_L/c_R the marginal counts of each slot. A min-support
    * filter (c(ab) ≥ 5) drops the classic PMI pathology (hapax pairs
    * scoring highest); top-20 by PMI, ties by bigram. Shape: the L106
    * zipped-slices pair stream → one pair-keyed agg; marginals are
    * vocabulary-sized broadcasts; ln of an integer-ratio double
    * rounded at 6dp (ulp-safe), counts exact-gated. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val pairs = documents(spark, dir)
      .select(split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= 2)
      .select(explode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1))).as("p"))
      .select(col("p.0").as("a"), col("p.1").as("b"))
    val cab = pairs.groupBy("a", "b").agg(count(lit(1)).as("cab"))
    val cl = pairs.groupBy("a").agg(count(lit(1)).as("cl"))
    val cr = pairs.groupBy("b").agg(count(lit(1)).as("cr"))
    val n = pairs.agg(count(lit(1)).as("n"))
    cab.where(col("cab") >= 5)
      .join(broadcast(cl), "a")
      .join(broadcast(cr), "b")
      .crossJoin(broadcast(n))
      .withColumn("pmi", round(log(
        (col("cab").cast("double") * col("n").cast("double")) /
          (col("cl").cast("double") * col("cr").cast("double"))), 6))
      .select(concat_ws(" ", col("a"), col("b")).as("bigram"),
        col("cab"), col("cl"), col("cr"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram").asc)
      .limit(20)
  }

  /** Temperature-rebalanced source mixture (α = 0.5): sampling probability
    * p_s ∝ n_s^α, flattening the source distribution toward small
    * high-quality sources (α=1 is proportional, α=0 uniform). Output also
    * scales p into expected document counts for a 1000-doc epoch. The
    * weight total uses [[graft.Tables.dsum]]'s decimal quantization, so
    * p is summation-order independent. */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val s = documents(spark, dir)
      .groupBy("source").agg(count(lit(1)).as("n_docs"))
      .withColumn("wt", sqrt(col("n_docs").cast("double")))
    val tot = s.agg(dsum(col("wt")).as("tw"))
    s.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(col("wt") / col("tw"), 6).as("p"),
        round(col("wt") / col("tw") * 1000, 0).cast("long").as("expected_docs"))
      .orderBy("source")
  }

  /** kNN majority-label classification over the embedding space (the
    * label-propagation / weak-supervision step of a curation pipeline:
    * score unlabeled pool items by their nearest labeled neighbors).
    * Composes [[Llm.simTopk]]'s broadcast-Q + per-partition-heap top-5 —
    * no join node touches the full pool — then votes: majority label of
    * the 5 neighbors, ties to the smallest label (deterministic).
    *
    * 100 TB: the vote is a (query, label)-keyed count over k·|Q| rows —
    * negligible next to the scan simTopk already bounds; the label dim
    * joins the k·|Q|-row top-k table, not the pool. */
  def knnLabel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val topk = Llm.simTopk(spark, dir).select("qid", "vec_id")
    val lab = embeddings(spark, dir).select(col("vec_id").as("cid"), col("label"))
    topk.join(lab, col("vec_id") === col("cid"))
      .groupBy(col("qid"), col("label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("votes").desc, col("label").asc)))
      .where(col("rk") === 1)
      .select(col("qid"), col("label").as("pred_label"), col("votes"))
      .orderBy("qid")
  }


  val entries: Map[String, Op] = Map(
    "llm_knn_label" -> Op(knnLabel,
      s"""WITH e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
              FROM embeddings),
          scored AS (SELECT q.vec_id AS qid, c.vec_id AS vec_id,
              round(${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6) AS cos_r
            FROM e q JOIN e c ON q.vec_id < 10 AND q.vec_id != c.vec_id),
          ranked AS (SELECT qid, vec_id,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_r DESC, vec_id ASC) AS rn
            FROM scored),
          votes AS (SELECT r.qid, emb.label, COUNT(*) AS votes
            FROM ranked r JOIN embeddings emb ON r.vec_id = emb.vec_id
            WHERE r.rn <= 5 GROUP BY 1, 2),
          best AS (SELECT qid, label, votes,
              ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) AS rk
            FROM votes)
          SELECT qid, label AS pred_label, CAST(votes AS BIGINT) AS votes
          FROM best WHERE rk = 1 ORDER BY qid"""),
    "llm_ngram_novelty" -> Op(ngramNovelty,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           base AS (SELECT doc_id, ws, len(ws) AS n FROM d WHERE len(ws) >= 3),
           sh AS (SELECT DISTINCT doc_id,
                    unnest(list_distinct(list_transform(range(1, n - 1),
                      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
                  FROM base),
           fo AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY 1)
         SELECT sh.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           ROUND(CAST(SUM(CASE WHEN fo.first_doc = sh.doc_id THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*), 6) AS novelty
         FROM sh JOIN fo USING (s) GROUP BY 1 ORDER BY 1"""),
    "llm_ccnet_ppl_buckets" -> Op(ccnetPplBuckets,
      """WITH w AS (SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS word
           FROM documents),
         freq AS (SELECT word, COUNT(*) AS c FROM w GROUP BY 1),
         tot AS (SELECT COUNT(*) AS t FROM w),
         perdoc AS (SELECT doc_id, lang,
             ROUND(EXP(-(CAST(SUM(CAST(LN(CAST(c AS DOUBLE) / t)
               AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))), 6) AS ppl
           FROM w JOIN freq USING (word) CROSS JOIN tot
           GROUP BY doc_id, lang),
         cuts AS (SELECT lang,
             round(quantile_cont(ppl, CAST(1 AS DOUBLE) / 3), 6) AS t1,
             round(quantile_cont(ppl, CAST(2 AS DOUBLE) / 3), 6) AS t2
           FROM perdoc GROUP BY 1),
         b AS (SELECT perdoc.lang, ppl, t1, t2,
             CASE WHEN ppl <= t1 THEN 'head'
               WHEN ppl <= t2 THEN 'middle' ELSE 'tail' END AS bucket
           FROM perdoc JOIN cuts ON perdoc.lang = cuts.lang)
         SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(CAST(ppl AS DECIMAL(18,6))) AS DOUBLE)
             / COUNT(ppl), 6) AS mean_ppl,
           MAX(t1) AS cut_head, MAX(t2) AS cut_middle
         FROM b GROUP BY 1, 2 ORDER BY lang, bucket"""),
    "llm_unigram_logprob" -> Op(unigramLogprob,
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                    FROM documents),
           freq AS (SELECT word, COUNT(*) AS c FROM w GROUP BY 1),
           tot AS (SELECT COUNT(*) AS t FROM w)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(LN(CAST(c AS DOUBLE) / t) AS DECIMAL(18,6)))
             AS DOUBLE) / COUNT(*), 6) AS avg_logprob
         FROM w JOIN freq USING (word) CROSS JOIN tot
         WHERE doc_id < 100 GROUP BY doc_id ORDER BY doc_id"""),
    "llm_pmi_collocations" -> Op(pmiCollocations,
      """WITH d AS (SELECT string_split(text, ' ') AS ws FROM documents
           WHERE len(string_split(text, ' ')) >= 2),
         pairs AS (SELECT ws[i] AS a, ws[i+1] AS b
           FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM d)),
         cab AS (SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cab
           FROM pairs GROUP BY 1, 2),
         cl AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS cl
           FROM pairs GROUP BY 1),
         cr AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr
           FROM pairs GROUP BY 1),
         n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs)
         SELECT cab.a || ' ' || cab.b AS bigram, cab.cab, cl.cl, cr.cr,
           round(LN((CAST(cab.cab AS DOUBLE) * CAST(n.n AS DOUBLE))
             / (CAST(cl.cl AS DOUBLE) * CAST(cr.cr AS DOUBLE))), 6) AS pmi
         FROM cab JOIN cl USING (a) JOIN cr USING (b) CROSS JOIN n
         WHERE cab.cab >= 5
         ORDER BY pmi DESC, bigram LIMIT 20"""),
    "llm_stupid_backoff" -> Op(stupidBackoff,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           tr AS (SELECT ws FROM d WHERE doc_id >= 100),
           w AS (SELECT unnest(ws) AS word FROM tr),
           uni AS (SELECT word, COUNT(*) AS c1 FROM w GROUP BY 1),
           tot AS (SELECT COUNT(*) AS t FROM w),
           bi AS (SELECT ws[i] || ' ' || ws[i+1] AS bigram, COUNT(*) AS c2
             FROM (SELECT ws, unnest(range(1, len(ws))) AS i FROM tr)
             GROUP BY 1),
           tri AS (SELECT ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS trigram,
               COUNT(*) AS c3
             FROM (SELECT ws, unnest(range(1, len(ws) - 1)) AS i FROM tr)
             GROUP BY 1),
           toks AS (SELECT doc_id, ws[i] AS cur,
               CASE WHEN i >= 2 THEN ws[i-1] END AS p1,
               CASE WHEN i >= 3 THEN ws[i-2] END AS p2
             FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
               FROM d WHERE doc_id < 100)),
           j AS (SELECT tk.doc_id, tk.cur, tk.p1, tk.p2,
               u.c1, up.c1 AS c1p, b.c2, bc.c2 AS c2ctx, g.c3, tot.t,
               CASE WHEN tk.p2 IS NOT NULL AND g.c3 IS NOT NULL THEN 'tri'
                 WHEN b.c2 IS NOT NULL THEN 'bi' ELSE 'uni' END AS rung
             FROM toks tk
             LEFT JOIN uni u ON tk.cur = u.word
             LEFT JOIN uni up ON tk.p1 = up.word
             LEFT JOIN bi b ON tk.p1 || ' ' || tk.cur = b.bigram
             LEFT JOIN bi bc ON tk.p2 || ' ' || tk.p1 = bc.bigram
             LEFT JOIN tri g
               ON tk.p2 || ' ' || tk.p1 || ' ' || tk.cur = g.trigram
             CROSS JOIN tot),
           sc AS (SELECT doc_id, rung,
               p2 IS NOT NULL AS had_tri, p1 IS NOT NULL AS had_bi,
               CASE WHEN rung = 'tri'
                   THEN LN(CAST(c3 AS DOUBLE) / CAST(c2ctx AS DOUBLE))
                 WHEN rung = 'bi'
                   THEN LN(CASE WHEN p2 IS NOT NULL THEN 0.4 ELSE 1.0 END
                     * (CAST(c2 AS DOUBLE) / CAST(c1p AS DOUBLE)))
                 ELSE LN(CASE WHEN p2 IS NOT NULL THEN 0.4 ELSE 1.0 END
                     * (CASE WHEN p1 IS NOT NULL THEN 0.4 ELSE 1.0 END
                       * (CASE WHEN c1 IS NOT NULL
                           THEN CAST(c1 AS DOUBLE) / CAST(t AS DOUBLE)
                           ELSE 1.0 / CAST(t AS DOUBLE) END)))
               END AS s
             FROM j)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN rung = 'tri' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tri_hit,
           CAST(SUM(CASE WHEN rung = 'bi' AND had_tri THEN 1 ELSE 0 END)
             AS BIGINT) AS n_bo_bi,
           CAST(SUM(CASE WHEN rung = 'uni' AND had_bi THEN 1 ELSE 0 END)
             AS BIGINT) AS n_bo_uni,
           ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
             AS avg_logprob
         FROM sc GROUP BY doc_id ORDER BY doc_id"""),
    "llm_temperature_mix" -> Op(temperatureMix,
      """WITH s AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
           w AS (SELECT source, n_docs, SQRT(CAST(n_docs AS DOUBLE)) AS wt FROM s),
           tot AS (SELECT CAST(SUM(CAST(wt AS DECIMAL(18,6))) AS DOUBLE) AS tw FROM w)
         SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           ROUND(wt / tw, 6) AS p,
           CAST(ROUND(wt / tw * 1000, 0) AS BIGINT) AS expected_docs
         FROM w CROSS JOIN tot ORDER BY source"""),
  )
}
