package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-pipeline data-prep operators, ninth batch (round 11):
  * content-defined chunking dedup, hashing-trick vectorization, and
  * multivariate OLS via distributed normal equations. */
object Llm9 {

  /** L278 — content-defined chunking + chunk-level dedup (the
    * rolling-boundary scheme behind rsync/LBFS-style dedup, applied at
    * the word grain: a boundary falls AFTER any word whose h48 is
    * ≡ 0 (mod 8), so chunk edges depend only on LOCAL content —
    * insert a paragraph and only the chunks touching it change, where
    * fixed-width chunking (L107's packer) re-aligns everything
    * downstream. The canonical use: catching partially-duplicated
    * boilerplate (headers, licence blocks) that whole-doc dedup (J1)
    * and even near-dup (J2) miss when the surrounding document
    * differs). Pipeline: posexplode words → boundary flag → chunk id
    * by prefix count of prior boundaries (one per-doc window) →
    * within-(doc,chunk) ordered re-concat → h48 chunk keys →
    * corpus-wide chunk frequency. Everything shuffles by doc or by
    * chunk key, nothing pairwise. Emits the top-15 most duplicated
    * chunks with corpus-level dedup ratios alongside. */
  def cdcChunks(spark: SparkSession, dir: String): DataFrame = {
    val words = documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " "))
        .as(Seq("pos", "word")))
      .withColumn("boundary", (h48(col("word")) % 8 === 0).cast("long"))
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = words
      .withColumn("chunk_id", coalesce(sum(col("boundary")).over(wDoc), lit(0L)))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("word")))),
        s => s.getField("word"))).as("chunk_text"))
    val freq = chunks.groupBy(col("chunk_text"))
      .agg(count(lit(1)).as("n_occ"))
    // Corpus totals as a 1-row aggregate broadcast-crossed onto the
    // frequency frame (the tpch_q11 / stats_ks_test allowlisted shape).
    // The distinct-chunk frame grows linearly with the corpus, so a
    // whole-frame window here would funnel it into one task at 100 TB;
    // the totals agg is map-combinable and the cross adds zero shuffle.
    val totals = freq.agg(sum(col("n_occ")).as("n_chunks"),
      count(lit(1)).as("n_distinct"))
    freq
      .crossJoin(broadcast(totals))
      .withColumn("dup_ratio", round((col("n_chunks") - col("n_distinct"))
        .cast("double") / col("n_chunks").cast("double"), 6))
      .where(col("n_occ") >= 2)
      .select(col("chunk_text"), col("n_occ"), col("n_chunks"),
        col("n_distinct"), col("dup_ratio"))
      .orderBy(col("n_occ").desc, col("chunk_text"))
      .limit(15)
  }

  /** L279 — hashing-trick bag-of-words vectorization (Weinberger et
    * al. ICML 2009: bucket = h(word) mod D — the vectorizer that needs
    * NO vocabulary broadcast, no fit pass and no OOV path, which is
    * why it is the default featurizer for streaming/petabyte text).
    * D = 64; emits the sparse (doc, bucket, count) triplets for the
    * 10-doc audit slice joined with the corpus-wide per-bucket load
    * audit (distinct words landing in each bucket — the collision
    * count that is the trick's one cost, measured, not assumed).
    * Corpus cost: one explode scan + word-distinct agg; the per-doc
    * vectors are row-local at any scale. */
  def featureHashing(spark: SparkSession, dir: String): DataFrame = {
    val D = 64
    val words = documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .withColumn("bucket", h48(col("word")) % D)
    val perDoc = words.where(col("doc_id") < 10)
      .groupBy(col("doc_id"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val load = words.groupBy(col("bucket"))
      .agg(countDistinct(col("word")).as("n_distinct_words"))
    perDoc.join(load, Seq("bucket"))
      .select(col("doc_id"), col("bucket"), col("cnt"),
        col("n_distinct_words"))
      .orderBy(col("doc_id"), col("bucket"))
  }

  /** L280 — multivariate OLS (two regressors + intercept) by
    * DISTRIBUTED NORMAL EQUATIONS: extended price on quantity and the
    * part's retail price. X'X and X'y are nine map-combinable sums —
    * the one-pass, any-scale route to exact linear regression
    * (numerically the textbook caveat vs QR applies; at 2 regressors
    * the 3×3 Cramer solve is exact to the determinism contract).
    * Parity design per the L275 lesson: every summand is an EXACT
    * INTEGER — quantity is integral and both prices are money pinned
    * to centi-units — summed as decimal(38,0) (both engines exact at
    * any corpus size; long sums would wrap at ~100× here), so the two
    * engines see bit-identical sums and the double-side solve is
    * identical IEEE arithmetic. β coefficients reported in natural
    * units (centi scaling folded back in-plan), R² from the same
    * sums. */
  def olsMulti(spark: SparkSession, dir: String): DataFrame = {
    val joined = lineitem(spark, dir)
      .join(part(spark, dir), col("l_partkey") === col("p_partkey"))
      .select(col("l_quantity").cast("long").as("x1"),
        round(col("p_retailprice") * 100, 0).cast("long").as("x2"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("y"))
    def d38(c: org.apache.spark.sql.Column) =
      sum(c.cast("decimal(38,0)")).cast("double")
    val s = joined.agg(count(lit(1)).as("n"),
      d38(col("x1")).as("sx1"), d38(col("x2")).as("sx2"), d38(col("y")).as("sy"),
      d38(col("x1") * col("x1")).as("sx1x1"),
      d38(col("x1") * col("x2")).as("sx1x2"),
      d38(col("x2") * col("x2")).as("sx2x2"),
      d38(col("x1") * col("y")).as("sx1y"),
      d38(col("x2") * col("y")).as("sx2y"),
      d38(col("y") * col("y")).as("syy"))
    // 3x3 symmetric solve by Cramer on the centered (2x2) system:
    // with means folded out, [a11 a12; a12 a22] beta = [b1; b2]
    val n = col("n").cast("double")
    val a11 = col("sx1x1") - col("sx1") * col("sx1") / n
    val a12 = col("sx1x2") - col("sx1") * col("sx2") / n
    val a22 = col("sx2x2") - col("sx2") * col("sx2") / n
    val b1 = col("sx1y") - col("sx1") * col("sy") / n
    val b2 = col("sx2y") - col("sx2") * col("sy") / n
    val det = a11 * a22 - a12 * a12
    val bet1 = (b1 * a22 - b2 * a12) / det
    val bet2 = (a11 * b2 - a12 * b1) / det
    val b0c = (col("sy") - bet1 * col("sx1") - bet2 * col("sx2")) / n
    val sst = col("syy") - col("sy") * col("sy") / n
    val ssr = bet1 * b1 + bet2 * b2
    s.select(col("n"),
      // x2 and y are both centi-scaled (factors cancel in beta2); beta1
      // maps centi-y per unit-x1 -> natural units via /100; intercept /100
      round(b0c / 100.0, 6).as("beta0"),
      round(bet1 / 100.0, 6).as("beta_quantity"),
      round(bet2, 6).as("beta_retailprice"),
      round(ssr / sst, 6).as("r2"))
  }

  /** L283 — readability scoring per language: Flesch reading ease +
    * Flesch–Kincaid grade (the curriculum-design knob in every
    * data-mixing recipe — filter or re-weight by grade band before
    * pretraining; completes the quality family beside L12's
    * punctuation/stopword score and L132's perplexity proxy).
    * Heuristic syllables = vowel GROUPS `[aeiouy]+` (the standard
    * dictionary-free approximation), sentences = `[.!?]+` runs
    * (min 1) — both as regexp_extract_all counts, row-local and
    * engine-portable (no backtracking constructs, identical under
    * Java regex and RE2). Per-doc grades round-6, aggregated per
    * language with decimal means. */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val (wps, spw) = fkRates
    val perDoc = documents(spark, dir)
      .select(col("lang"),
        round(lit(206.835) - lit(1.015) * wps - lit(84.6) * spw, 6).as("ease"),
        fkGrade.as("grade"))
    perDoc.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round(davg(col("ease")), 6).as("avg_reading_ease"),
        round(davg(col("grade")), 6).as("avg_fk_grade"),
        round(min(col("grade")), 6).as("min_grade"),
        round(max(col("grade")), 6).as("max_grade"))
      .orderBy("lang")
  }

  /** Space-split word count of `text`. */
  private[ops] def wordCount: Column = size(split(col("text"), " ")).cast("long")

  /** Flesch–Kincaid's round-6 words per sentence and syllables per word
    * of `text` (sentences and syllables floored at 1). */
  private def fkRates: (Column, Column) = {
    val sentences = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"),
      lit(1L))
    val syllables = greatest(
      size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
        .cast("long"), lit(1L))
    (round(wordCount.cast("double") / sentences.cast("double"), 6),
      round(syllables.cast("double") / wordCount.cast("double"), 6))
  }

  /** Round-6 Flesch–Kincaid grade of `text`. */
  private[ops] def fkGrade: Column = {
    val (wps, spw) = fkRates
    round(lit(0.39) * wps + lit(11.8) * spw - lit(15.59), 6)
  }

  /** L340 — dataset card summary (the auditable one-page statistics
    * block a published corpus ships — Gebru et al. 2021 "Datasheets
    * for Datasets" / the HuggingFace dataset-card table: per-language
    * rows plus the ALL rollup, from ONE grouping-sets pass). Per
    * group: docs, distinct sources, word tokens, chars, mean doc
    * length, distinct texts and the exact-dup rate they imply
    * ((n_docs − n_distinct_texts)/n_docs — the J1 hash-dedup headline
    * number at card grain). ROLLUP(lang) = grouping sets ((lang), ())
    * in one scan through Expand; countDistinct per group is the
    * standard two-phase distinct aggregate. Round 15 adds the
    * VERBATIM-SPAN rate beside the whole-doc one: `substr_dup_words` /
    * `substr_dup_rate` fold [[Llm10.perDocSpans]]'s per-doc duplicated
    * word counts (the Lee et al. 2022 ExactSubstr grain — L358) into
    * the same rollup, so the card now reports both "how many docs are
    * copies" AND "how much text inside distinct docs is copied" — the
    * two numbers real dataset cards publish together. One left join at
    * doc grain before the rollup; the span frame is corpus-sparse
    * (affected docs only). */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val nWords = size(split(col("text"), " ")).cast("long")
    val spans = Llm10.perDocSpans(spark, dir)
      .select(col("doc_id"), col("dup_words"))
    documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"), col("text"),
        col("n_chars"), nWords.as("n_words"))
      .join(spans, Seq("doc_id"), "left")
      .rollup(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_words")).as("n_tokens"),
        sum(col("n_chars").cast("long")).as("n_chars"),
        countDistinct(col("text")).as("n_distinct_texts"),
        sum(coalesce(col("dup_words"), lit(0L))).as("substr_dup_words"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"), col("n_docs"),
        col("n_sources"), col("n_tokens"), col("n_chars"),
        round(col("n_tokens").cast("double") / col("n_docs").cast("double"),
          6).as("avg_words"),
        col("n_distinct_texts"),
        round((col("n_docs") - col("n_distinct_texts")).cast("double") /
          col("n_docs").cast("double"), 6).as("dup_rate"),
        col("substr_dup_words"),
        round(col("substr_dup_words").cast("double") /
          col("n_tokens").cast("double"), 6).as("substr_dup_rate"))
      .orderBy("lang")
  }

  /** L341 — tokenizer fertility per language (Petrov et al. 2023
    * "tokenizer unfairness" metric: TOKENS PER WORD under a candidate
    * tokenizer — fertility ≫ 1 for a language means its users pay more
    * context budget per sentence; read beside L241's vocabulary
    * coverage). Candidate tokenizations from the J4/L63 token-count
    * battery: the word+punct regex and the chars/4 BPE proxy; fertility
    * = exact token sums per language, one round-6 division each, plus
    * chars-per-regex-token (the compression read). One map-combinable
    * scan. */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val nWs = size(split(col("text"), " ")).cast("long")
    val nRe = size(regexp_extract_all(col("text"),
      lit("\\w+|[^\\w\\s]"), lit(0))).cast("long")
    val nBpe = ceil(col("n_chars") / 4.0).cast("long")
    documents(spark, dir)
      .select(col("lang"), nWs.as("n_ws"), nRe.as("n_re"), nBpe.as("n_bpe"),
        col("n_chars").cast("long").as("nc"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_ws")).as("sum_ws"),
        sum(col("n_re")).as("sum_re"), sum(col("n_bpe")).as("sum_bpe"),
        sum(col("nc")).as("sum_chars"))
      .select(col("lang"), col("n_docs"), col("sum_ws"), col("sum_re"),
        col("sum_bpe"),
        round(col("sum_re").cast("double") / col("sum_ws").cast("double"), 6)
          .as("fertility_regex"),
        round(col("sum_bpe").cast("double") / col("sum_ws").cast("double"), 6)
          .as("fertility_bpe"),
        round(col("sum_chars").cast("double") / col("sum_re").cast("double"), 6)
          .as("chars_per_token"))
      .orderBy("lang")
  }

  /** L338 — per-document perplexity under an interpolated Kneser–Ney
    * bigram LM fit on the corpus itself (Kneser & Ney ICASSP 1995;
    * Chen & Goodman 1998 §2.7 interpolated form — THE smoothing every
    * CCNet-style quality pipeline's KenLM actually uses; the proper-
    * smoothing upgrade to L195's stupid backoff and the per-DOC
    * companion to L304's per-language entropy). Absolute discount
    * d = 0.75 (the C&G default):
    *   P(w₂|w₁) = max(c₁₂−d, 0)/c₁ + (d·N₁₊(w₁·)/c₁) · N₁₊(·w₂)/B
    * where the continuation counts N₁₊ and the distinct-bigram total B
    * all come from ONE bigram-count aggregate (map-combinable); the
    * per-w₁ and per-w₂ tables are vocabulary-sized. Scoring joins each
    * doc bigram to the bigram table (hash join at corpus scale), ln
    * round-6 per term, decimal mean per doc, ppl = exp round-6. Top-20
    * most-surprising docs (ppl desc) — the outlier page a corpus
    * auditor reads. */
  def kneserNeyPpl(spark: SparkSession, dir: String): DataFrame = {
    val d = 0.75
    // NOTE (round 17, measured): Tables.fanout here was tried and
    // REVERTED — the bigram explode is cheap and the raw-text exchange
    // plus the re-planned joins regressed the key 0.80→2.64 s in the
    // full-suite run.
    val bg = documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 1),
        slice(col("ws"), lit(2), size(col("ws")) - 1))).as("b"))
      .select(col("doc_id"), col("b.0").as("w1"), col("b.1").as("w2"))
    val c12 = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val byW1 = c12.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_fwd"))
    val byW2 = c12.groupBy("w2").agg(count(lit(1)).as("n1p_bwd"))
    val b = c12.agg(count(lit(1)).as("n_bigram_types"))
    val p = col("pmax") / col("c1").cast("double") +
      (lit(d) * col("n1p_fwd").cast("double") / col("c1").cast("double")) *
        (col("n1p_bwd").cast("double") / col("n_bigram_types").cast("double"))
    val scored = bg
      .join(c12, Seq("w1", "w2"))
      .join(broadcast(byW1), "w1")
      .join(broadcast(byW2), "w2")
      .crossJoin(broadcast(b))
      .withColumn("pmax", greatest(col("c12").cast("double") - lit(d), lit(0.0)))
      .select(col("doc_id"), round(log(p), 6).as("lnp"))
    scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(dsum(col("lnp")) / count(lit(1)).cast("double"), 6)
          .as("mean_lnp"))
      .select(col("doc_id"), col("n_bigrams"), col("mean_lnp"),
        round(exp(-col("mean_lnp")), 6).as("ppl"))
      .orderBy(col("ppl").desc, col("doc_id").asc)
      .limit(20)
  }

  /** L304 — bigram conditional entropy H(w₂|w₁) per language (Shannon
    * 1951's next-word predictability — the information-theoretic
    * reading of "how repetitive is this corpus", complementing L132's
    * unigram logprob (a per-DOC score) with a per-LANGUAGE structural
    * constant, and grounding the L195 backoff LM's gains: low H means
    * context helps). H = Σ c₂·ln(c₁/c₂) / T over bigram counts c₂ and
    * their left-context totals c₁ — the per-term round-6 is applied to
    * c₂·ln(c₁/c₂) (magnitude-bounded by corpus size, decimal-summed),
    * NOT to the ~1/T probabilities, which round-6 would zero out for
    * rare bigrams. Bigrams via one per-doc lag window; everything
    * shuffles by (lang, w₁) then folds. Perplexity = exp(H), round-6
    * at the call site. */
  def bigramEntropy(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w2")))
      .withColumn("w1", lag(col("w2"), 1).over(w))
      .where(col("w1").isNotNull)
    val c2 = bigrams.groupBy(col("lang"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val wL = Window.partitionBy(col("lang"), col("w1"))
    val wLang = Window.partitionBy(col("lang"))
    c2
      .withColumn("c1", sum(col("c2")).over(wL))
      .withColumn("t", sum(col("c2")).over(wLang))
      .withColumn("term", round(col("c2").cast("double") *
        round(log(col("c1").cast("double") / col("c2").cast("double")), 6), 6))
      .groupBy(col("lang"), col("t"))
      .agg(count(lit(1)).as("n_distinct_bigrams"),
        round(sum(col("term").cast("decimal(18,6)")).cast("double") /
          first(col("t")).cast("double"), 6).as("h_cond"))
      .select(col("lang"), col("t").as("n_bigrams"),
        col("n_distinct_bigrams"), col("h_cond"),
        round(exp(col("h_cond")), 6).as("perplexity"))
      .orderBy("lang")
  }

  /** L312 — Gopher-style quality-rule battery (Rae et al. 2021 §A1.1:
    * the named PASS/FAIL heuristic gates run BEFORE model-based
    * filters; the rule-attribution twin of J4's continuous quality
    * SCORE — production filtering reports per-rule kill counts, not
    * just a blended score, because a rule that suddenly rejects 40% of
    * a crawl is the alarm). Four gates at the fixture's grain: word
    * count in [50, 100000]; mean word length in [3, 10] (exact
    * rational (n_chars − n_words + 1)/n_words — the text is
    * single-space joined); ≥2 stopword hits (the J4 {the, a} set);
    * type-token ratio ≥ 0.1. One row-local scan → per-language fail
    * counts + keep rate; map-combinable at any corpus size. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val nWords = size(w).cast("long")
    val meanWl = (col("n_chars") - nWords + 1).cast("double") /
      nWords.cast("double")
    val nStop = size(filter(w, x => x === "the" || x === "a")).cast("long")
    val ttr = size(array_distinct(w)).cast("double") / nWords.cast("double")
    val flagged = documents(spark, dir).select(col("lang"),
      (nWords >= 50 && nWords <= 100000).as("ok_words"),
      (meanWl >= 3.0 && meanWl <= 10.0).as("ok_wordlen"),
      (nStop >= 2).as("ok_stopwords"),
      (ttr >= 0.1).as("ok_ttr"))
    flagged.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("ok_words"), 1L).otherwise(0L)).as("fail_words"),
        sum(when(!col("ok_wordlen"), 1L).otherwise(0L)).as("fail_wordlen"),
        sum(when(!col("ok_stopwords"), 1L).otherwise(0L)).as("fail_stopwords"),
        sum(when(!col("ok_ttr"), 1L).otherwise(0L)).as("fail_ttr"),
        sum(when(col("ok_words") && col("ok_wordlen") &&
          col("ok_stopwords") && col("ok_ttr"), 1L).otherwise(0L)).as("n_keep"))
      .withColumn("keep_rate",
        round(col("n_keep").cast("double") / col("n_docs").cast("double"), 6))
      .orderBy("lang")
  }

  /** L313 — Matryoshka truncation recall audit (Kusupati et al. 2022
    * MRL: nested-prefix embeddings serve cheap first-stage retrieval
    * from the first m dims — the audit EVERY dim-truncation deploy
    * needs is recall@k of the truncated ranking against the full one;
    * below ~0.8 the cheap index is eating real quality). For the J3
    * query set (vec_id < 10): per-query top-10 by full 64-dim cosine
    * and by first-16-dim cosine — both through the codegen'd
    * [[graft.functions.DotProduct]] kernel — then recall@10 =
    * |top10_trunc ∩ top10_full| / 10. The corpus is scanned once per
    * ranking against the BROADCAST 10-row query set (the J3 shape: a
    * bounded query panel, never a data×data pair join); overlap is a
    * (qid, vec_id) equi-join of two 100-row frames. Output: per-query
    * overlap + recall, with the panel mean carried on every row. */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayMath.{dotProduct, l2Norm}
    val e = embeddings(spark, dir).select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .withColumn("emb16", slice(col("emb"), 1, 16))
    val q = e.select(col("vec_id").as("qid"), col("emb").as("qemb"),
      col("emb16").as("qemb16")).where(col("qid") < 10)
    val pairs = e.join(broadcast(q), col("qid") =!= col("vec_id"))
      .withColumn("cos_full", round(dotProduct(col("qemb"), col("emb")) /
        (l2Norm(col("qemb")) * l2Norm(col("emb"))), 6))
      .withColumn("cos_trunc", round(dotProduct(col("qemb16"), col("emb16")) /
        (l2Norm(col("qemb16")) * l2Norm(col("emb16"))), 6))
    def top10(c: String) = pairs
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col(c).desc, col("vec_id").asc)))
      .where(col("rn") <= 10).select(col("qid"), col("vec_id"))
    // left-join back onto the panel so a (theoretical) zero-overlap
    // query still reports 0 instead of silently dropping its row
    val overlap = q.select(col("qid"))
      .join(top10("cos_trunc")
        .join(top10("cos_full"), Seq("qid", "vec_id"), "left_semi")
        .groupBy("qid").agg(count(lit(1)).as("n_hit")), Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_hit"), lit(0L)).as("n_overlap"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    overlap
      .withColumn("recall_at_10",
        round(col("n_overlap").cast("double") / 10.0, 6))
      .withColumn("mean_recall", round(sum(col("n_overlap")).over(wAll)
        .cast("double") / (count(lit(1)).over(wAll) * 10).cast("double"), 6))
      .orderBy("qid")
  }

  /** L348 — embedding-space anisotropy audit (Ethayarajh EMNLP 2019;
    * Mu & Viswanath ICLR 2018 "all-but-the-top": embedding spaces
    * concentrate in a narrow cone, and the MEAN PAIRWISE COSINE
    * between distinct unit vectors is the standard anisotropy number —
    * ~0 for an isotropic space, → 1 as the space degenerates; read
    * BEFORE any cosine threshold elsewhere in this suite is trusted,
    * because "0.8 similar" means nothing when the ambient mean cosine
    * is 0.7). The O(n²) pair sum never materializes: by the sum-vector
    * identity Σ_{i≠j} x̂ᵢ·x̂ⱼ = ‖Σᵢx̂ᵢ‖² − Σᵢ‖x̂ᵢ‖², the whole audit
    * is ONE corpus scan — a 64-group map-combinable per-dim sum plus a
    * per-row squared-norm aggregate — and a 64-element fold (the
    * llm_sim_topk no-pair contract taken to its algebraic limit; at
    * 100 TB this is a single pass with 64 doubles of state).
    * Components round-6 after unit normalization (norms through the
    * codegen'd index-order [[graft.functions.ArrayMath.l2Norm]],
    * bit-equal to the oracle's list_sum fold); sums decimal. Also
    * reports the mean squared norm of the round-6 normalized vectors
    * (≈1; the quantization sanity check). */
  def embedAnisotropy(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayMath.{dotProduct, l2Norm}
    val x = embeddings(spark, dir)
      .select(transform(col("embedding"), v => v.cast("double")).as("e"))
      .withColumn("nrm", l2Norm(col("e")))
      .where(col("nrm") > 0.0)
      .withColumn("eh", expr("transform(e, v -> round(v / nrm, 6))"))
    val s2 = x.select(posexplode(col("eh")).as(Seq("dim", "v")))
      .groupBy("dim").agg(round(dsum(col("v")), 6).as("sd"))
      .agg(round(dsum(round(col("sd") * col("sd"), 6)), 6).as("sum_sq"))
    val rows = x.select(round(dotProduct(col("eh"), col("eh")), 6).as("q"))
      .agg(count(lit(1)).as("n"), round(dsum(col("q")), 6).as("qsum"))
    rows.crossJoin(broadcast(s2))
      .where(col("n") >= 2)
      .select(col("n").as("n_vectors"),
        round(col("qsum") / col("n").cast("double"), 6).as("mean_sq_norm"),
        round((col("sum_sq") - col("qsum")) /
          (col("n") * (col("n") - 1)).cast("double"), 6)
          .as("mean_pairwise_cosine"))
  }

  /** L353 — quality-filter ensemble agreement (the audit run before
    * choosing between two keep/drop rules — or stacking them: Cohen's
    * kappa between the L301 Gopher rule conjunction and the L62 quality
    * score thresholded at its fixture-median 0.277; chance-corrected
    * agreement is the honest number because two filters that each keep
    * ~55% agree ~50% by luck alone. NeMo-Curator/Dolma-style pipelines
    * publish exactly this before ensembling filters). Both flags are
    * RECOMPUTED from the same word-array projection in one row-local
    * pass (the L301/L62 expressions verbatim — the oracle mirrors both,
    * so this key also cross-pins those two rows' arithmetic), then one
    * conditional-aggregate scan yields the exact-integer 2×2
    * contingency; kappa/agreement/keep-set Jaccard are closed-form
    * round-6 doubles of those integers (the L306 confusion-matrix
    * contract). Map-combinable; 1-row output at any corpus size. */
  /** Shared per-document keep/drop flags for the filter-ensemble
    * family ([[filterAgreement]], [[mcnemarFilters]]): the L301 Gopher
    * conjunction and the L62 quality score at the 0.277 median cut,
    * both from ONE word-array projection so the two keys (and their
    * oracles' shared CTE text) cannot drift. */
  private def filterFlags(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    val nWords = size(w).cast("long")
    val meanWl = (col("n_chars") - nWords + 1).cast("double") /
      nWords.cast("double")
    val nStop = size(filter(w, x => x === "the" || x === "a")).cast("long")
    val nDistinct = size(array_distinct(w)).cast("long")
    val ttr = nDistinct.cast("double") / nWords.cast("double")
    val gopherKeep = nWords >= 50 && nWords <= 100000 &&
      meanWl >= 3.0 && meanWl <= 10.0 && nStop >= 2 && ttr >= 0.1
    val score = round(
      lit(0.4) * least(lit(1.0), nWords.cast("double") / 200.0) +
        lit(0.3) * (nDistinct.cast("double") / nWords.cast("double")) +
        lit(0.3) * (nStop.cast("double") / nWords.cast("double")), 6)
    documents(spark, dir)
      .select(gopherKeep.as("g"), (score >= 0.277).as("q"))
  }

  /** Shared DuckDB CTE producing the same (g, q) flag frame. */
  private val filterFlagsSql =
    """d AS (SELECT n_chars, string_split(text, ' ') AS w
           FROM documents),
         m AS (SELECT CAST(len(w) AS BIGINT) AS nw,
             CAST(len(list_distinct(w)) AS BIGINT) AS nd,
             CAST(len(list_filter(w, x -> x = 'the' OR x = 'a')) AS BIGINT)
               AS ns,
             n_chars
           FROM d),
         f AS (SELECT
             (nw BETWEEN 50 AND 100000)
               AND ((n_chars - nw + 1) / CAST(nw AS DOUBLE) BETWEEN 3.0 AND 10.0)
               AND ns >= 2
               AND (nd / CAST(nw AS DOUBLE)) >= 0.1 AS g,
             round(0.4 * least(1.0, nw / 200.0)
               + 0.3 * (nd / CAST(nw AS DOUBLE))
               + 0.3 * (ns / CAST(nw AS DOUBLE)), 6) >= 0.277 AS q
           FROM m)"""

  def filterAgreement(spark: SparkSession, dir: String): DataFrame = {
    val cm = filterFlags(spark, dir)
      .agg(sum(when(col("g") && col("q"), 1L).otherwise(0L)).as("both_keep"),
        sum(when(col("g") && !col("q"), 1L).otherwise(0L)).as("gopher_only"),
        sum(when(!col("g") && col("q"), 1L).otherwise(0L)).as("quality_only"),
        sum(when(!col("g") && !col("q"), 1L).otherwise(0L)).as("both_drop"))
    val n = (col("both_keep") + col("gopher_only") + col("quality_only") +
      col("both_drop")).cast("double")
    val po = (col("both_keep") + col("both_drop")).cast("double") / n
    val pe = ((col("both_keep") + col("gopher_only")) *
      (col("both_keep") + col("quality_only")) +
      (col("quality_only") + col("both_drop")) *
        (col("gopher_only") + col("both_drop"))).cast("double") / (n * n)
    cm.where((col("both_keep") + col("gopher_only") + col("quality_only") +
        col("both_drop")) >= 1)
      .select(col("both_keep"), col("gopher_only"), col("quality_only"),
        col("both_drop"),
        round(po, 6).as("agreement"),
        round((po - pe) / (lit(1.0) - pe), 6).as("kappa"),
        round(col("both_keep").cast("double") /
          (col("both_keep") + col("gopher_only") + col("quality_only"))
            .cast("double"), 6).as("jaccard_keep"))
  }

  /** L356 — McNemar's test between the two quality filters (McNemar
    * 1947; the PAIRED classifier comparison Dietterich 1998 recommends
    * when both systems score the SAME examples — which is exactly the
    * L353 setting, where an unpaired rate comparison would waste the
    * pairing): only the discordant cells carry signal, χ² =
    * max(|b−c|−1, 0)²/(b+c) with Edwards' continuity correction —
    * the max(·,0) clamp is part of the corrected statistic (without it
    * b = c would yield a spurious positive χ², e.g. 0.5 at b = c = 1,
    * where perfectly concordant discordance should score 0; round-15
    * ADVICE fix, clamped identically in the oracle) — significant
    * at the χ²₁ 5% cutoff 3.841. Flags from the SAME shared projection
    * as L353 (one row-local pass, one conditional-agg scan, exact
    * integers, one round-6 division); flag from the ROUNDED statistic
    * (the L205 rule); b+c = 0 → NULL statistic, not-significant. */
  def mcnemarFilters(spark: SparkSession, dir: String): DataFrame = {
    val cm = filterFlags(spark, dir)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("g") && !col("q"), 1L).otherwise(0L)).as("gopher_only"),
        sum(when(!col("g") && col("q"), 1L).otherwise(0L)).as("quality_only"))
    val b = col("gopher_only").cast("double")
    val c = col("quality_only").cast("double")
    cm.where(col("n_docs") >= 1)
      .withColumn("mcnemar_chi2",
        when(col("gopher_only") + col("quality_only") > 0,
          round(greatest(abs(b - c) - 1.0, lit(0.0)) *
            greatest(abs(b - c) - 1.0, lit(0.0)) / (b + c), 6)))
      .select(col("n_docs"), col("gopher_only"), col("quality_only"),
        col("mcnemar_chi2"),
        coalesce(col("mcnemar_chi2") > 3.841, lit(false)).as("significant"))
  }

  val entries: Map[String, Op] = Map(
    "stats_mcnemar_filters" -> Op(mcnemarFilters,
      s"""WITH $filterFlagsSql,
         cm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN g AND NOT q THEN 1 ELSE 0 END) AS BIGINT)
               AS gopher_only,
             CAST(SUM(CASE WHEN NOT g AND q THEN 1 ELSE 0 END) AS BIGINT)
               AS quality_only
           FROM f),
         t AS (SELECT *, CASE WHEN gopher_only + quality_only > 0 THEN
             round(greatest(abs(CAST(gopher_only AS DOUBLE)
                 - CAST(quality_only AS DOUBLE)) - 1.0, 0.0)
               * greatest(abs(CAST(gopher_only AS DOUBLE)
                 - CAST(quality_only AS DOUBLE)) - 1.0, 0.0)
               / (CAST(gopher_only AS DOUBLE)
                 + CAST(quality_only AS DOUBLE)), 6) END AS mcnemar_chi2
           FROM cm WHERE n_docs >= 1)
         SELECT n_docs, gopher_only, quality_only, mcnemar_chi2,
           COALESCE(mcnemar_chi2 > 3.841, FALSE) AS significant
         FROM t"""),
    "llm_filter_agreement" -> Op(filterAgreement,
      s"""WITH $filterFlagsSql,
         cm AS (SELECT
             CAST(SUM(CASE WHEN g AND q THEN 1 ELSE 0 END) AS BIGINT)
               AS both_keep,
             CAST(SUM(CASE WHEN g AND NOT q THEN 1 ELSE 0 END) AS BIGINT)
               AS gopher_only,
             CAST(SUM(CASE WHEN NOT g AND q THEN 1 ELSE 0 END) AS BIGINT)
               AS quality_only,
             CAST(SUM(CASE WHEN NOT g AND NOT q THEN 1 ELSE 0 END) AS BIGINT)
               AS both_drop
           FROM f),
         t AS (SELECT *,
             CAST(both_keep + gopher_only + quality_only + both_drop
               AS DOUBLE) AS n,
             CAST(both_keep + both_drop AS DOUBLE) AS agree
           FROM cm
           WHERE both_keep + gopher_only + quality_only + both_drop >= 1)
         SELECT both_keep, gopher_only, quality_only, both_drop,
           round(agree / n, 6) AS agreement,
           round((agree / n - ((both_keep + gopher_only) *
               (both_keep + quality_only) + (quality_only + both_drop) *
               (gopher_only + both_drop)) / (n * n))
             / (1.0 - ((both_keep + gopher_only) * (both_keep + quality_only)
               + (quality_only + both_drop) * (gopher_only + both_drop))
               / (n * n)), 6) AS kappa,
           round(CAST(both_keep AS DOUBLE) /
             CAST(both_keep + gopher_only + quality_only AS DOUBLE), 6)
             AS jaccard_keep
         FROM t"""),
    "llm_embed_anisotropy" -> Op(embedAnisotropy,
      s"""WITH x AS (SELECT embedding AS emb,
             ${normSql("embedding", 64)} AS nrm
           FROM embeddings),
         xh AS (SELECT list_transform(range(1, 65),
             i -> round(CAST(emb[i] AS DOUBLE) / nrm, 6)) AS eh
           FROM x WHERE nrm > 0.0),
         xe AS (SELECT eh[i] AS v, i AS dim FROM xh
           CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) g),
         ds AS (SELECT dim, round(${dsumSql("v")}, 6) AS sd
           FROM xe GROUP BY 1),
         s2 AS (SELECT round(${dsumSql("round(sd * sd, 6)")}, 6) AS sum_sq
           FROM ds),
         r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             round(${dsumSql(s"round(${dotSql("eh", "eh", 64)}, 6)")}, 6)
               AS qsum
           FROM xh)
         SELECT n AS n_vectors,
           round(qsum / CAST(n AS DOUBLE), 6) AS mean_sq_norm,
           round((sum_sq - qsum) / CAST(n * (n - 1) AS DOUBLE), 6)
             AS mean_pairwise_cosine
         FROM r, s2 WHERE n >= 2"""),
    "llm_dataset_card" -> Op(datasetCard,
      s"""WITH ${graft.ops.Llm10.perDocSpansSql},
         d AS (SELECT doc_id, lang, source, text,
             CAST(n_chars AS BIGINT) AS nc,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
           FROM documents),
         dj AS (SELECT d.*, COALESCE(ss_doc.dup_words, 0) AS dw
           FROM d LEFT JOIN ss_doc ON d.doc_id = ss_doc.doc_id),
         card AS (SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(SUM(n_words) AS BIGINT) AS n_tokens,
             CAST(SUM(nc) AS BIGINT) AS n_chars,
             CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts,
             CAST(SUM(dw) AS BIGINT) AS substr_dup_words
           FROM dj GROUP BY ROLLUP (lang))
         SELECT COALESCE(lang, 'ALL') AS lang, n_docs, n_sources, n_tokens,
           n_chars,
           round(CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
             AS avg_words,
           n_distinct_texts,
           round(CAST(n_docs - n_distinct_texts AS DOUBLE)
             / CAST(n_docs AS DOUBLE), 6) AS dup_rate,
           substr_dup_words,
           round(CAST(substr_dup_words AS DOUBLE)
             / CAST(n_tokens AS DOUBLE), 6) AS substr_dup_rate
         FROM card ORDER BY lang"""),
    "llm_tokenizer_fertility" -> Op(tokenizerFertility,
      """WITH d AS (SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws,
             CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
               AS n_re,
             CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_bpe,
             CAST(n_chars AS BIGINT) AS nc
           FROM documents),
         s AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_ws) AS BIGINT) AS sum_ws,
             CAST(SUM(n_re) AS BIGINT) AS sum_re,
             CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe,
             CAST(SUM(nc) AS BIGINT) AS sum_chars
           FROM d GROUP BY 1)
         SELECT lang, n_docs, sum_ws, sum_re, sum_bpe,
           round(CAST(sum_re AS DOUBLE) / CAST(sum_ws AS DOUBLE), 6)
             AS fertility_regex,
           round(CAST(sum_bpe AS DOUBLE) / CAST(sum_ws AS DOUBLE), 6)
             AS fertility_bpe,
           round(CAST(sum_chars AS DOUBLE) / CAST(sum_re AS DOUBLE), 6)
             AS chars_per_token
         FROM s ORDER BY lang"""),
    "llm_kneser_ney_ppl" -> Op(kneserNeyPpl,
      """WITH bgd AS (SELECT doc_id, string_split(text, ' ') AS ws
             FROM documents WHERE len(string_split(text, ' ')) >= 2),
         bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
           FROM bgd, LATERAL (SELECT unnest(range(1, len(ws))) AS i)),
         c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
           FROM bg GROUP BY 1, 2),
         byw1 AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n1p_fwd FROM c12 GROUP BY 1),
         byw2 AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1p_bwd
           FROM c12 GROUP BY 1),
         b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_bigram_types FROM c12),
         scored AS (SELECT doc_id,
             round(ln(
               greatest(CAST(c12 AS DOUBLE) - 0.75, 0.0)
                 / CAST(c1 AS DOUBLE)
               + (0.75 * CAST(n1p_fwd AS DOUBLE) / CAST(c1 AS DOUBLE))
                 * (CAST(n1p_bwd AS DOUBLE)
                   / CAST(n_bigram_types AS DOUBLE))), 6) AS lnp
           FROM bg JOIN c12 USING (w1, w2) JOIN byw1 USING (w1)
           JOIN byw2 USING (w2), b),
         perdoc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             round(CAST(SUM(CAST(lnp AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE), 6) AS mean_lnp
           FROM scored GROUP BY 1)
         SELECT doc_id, n_bigrams, mean_lnp, round(exp(-mean_lnp), 6) AS ppl
         FROM perdoc ORDER BY ppl DESC, doc_id LIMIT 20"""),
    "llm_matryoshka_recall" -> Op(matryoshkaRecall,
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
           WHERE vec_id < 10),
         p AS (SELECT q.qid, c.vec_id,
             round(${dotSql("q.qe", "c.embedding", 64)}
               / (${normSql("q.qe", 64)} * ${normSql("c.embedding", 64)}),
               6) AS cos_full,
             round(${dotSql("q.qe", "c.embedding", 16)}
               / (${normSql("q.qe", 16)} * ${normSql("c.embedding", 16)}),
               6) AS cos_trunc
           FROM q JOIN embeddings c ON q.qid != c.vec_id),
         tf AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cos_full DESC, vec_id) AS rn FROM p)
           WHERE rn <= 10),
         tt AS (SELECT qid, vec_id FROM (SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cos_trunc DESC, vec_id) AS rn FROM p)
           WHERE rn <= 10),
         ov AS (SELECT q.qid,
             CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_overlap
           FROM q LEFT JOIN (SELECT tt.qid, COUNT(*) AS n_hit
             FROM tt JOIN tf ON tt.qid = tf.qid AND tt.vec_id = tf.vec_id
             GROUP BY 1) h ON q.qid = h.qid)
         SELECT qid, n_overlap,
           round(CAST(n_overlap AS DOUBLE) / 10.0, 6) AS recall_at_10,
           round(CAST(SUM(n_overlap) OVER () AS DOUBLE)
             / CAST(COUNT(*) OVER () * 10 AS DOUBLE), 6) AS mean_recall
         FROM ov ORDER BY qid"""),
    "llm_gopher_rules" -> Op(gopherRules,
      """WITH f AS (SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
             n_chars,
             CAST(len(list_filter(string_split(text, ' '),
               x -> x = 'the' OR x = 'a')) AS BIGINT) AS nstop,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS ndis
           FROM documents),
         g AS (SELECT lang,
             nw >= 50 AND nw <= 100000 AS ok_words,
             CAST(n_chars - nw + 1 AS DOUBLE) / CAST(nw AS DOUBLE) >= 3.0
               AND CAST(n_chars - nw + 1 AS DOUBLE) / CAST(nw AS DOUBLE)
                 <= 10.0 AS ok_wordlen,
             nstop >= 2 AS ok_stopwords,
             CAST(ndis AS DOUBLE) / CAST(nw AS DOUBLE) >= 0.1 AS ok_ttr
           FROM f)
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT ok_words THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_words,
           CAST(SUM(CASE WHEN NOT ok_wordlen THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_wordlen,
           CAST(SUM(CASE WHEN NOT ok_stopwords THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_stopwords,
           CAST(SUM(CASE WHEN NOT ok_ttr THEN 1 ELSE 0 END) AS BIGINT)
             AS fail_ttr,
           CAST(SUM(CASE WHEN ok_words AND ok_wordlen AND ok_stopwords
             AND ok_ttr THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           round(CAST(SUM(CASE WHEN ok_words AND ok_wordlen AND ok_stopwords
               AND ok_ttr THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS keep_rate
         FROM g GROUP BY lang ORDER BY lang"""),
    "llm_readability" -> Op(readability,
      s"""WITH perdoc AS (SELECT lang,
             round(206.835
               - 1.015 * round(CAST(len(string_split(text, ' ')) AS DOUBLE)
                 / CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS DOUBLE), 6)
               - 84.6 * round(CAST(GREATEST(len(regexp_extract_all(lower(text),
                   '[aeiouy]+')), 1) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6), 6) AS ease,
             round(0.39 * round(CAST(len(string_split(text, ' ')) AS DOUBLE)
                 / CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS DOUBLE), 6)
               + 11.8 * round(CAST(GREATEST(len(regexp_extract_all(lower(text),
                   '[aeiouy]+')), 1) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE), 6)
               - 15.59, 6) AS grade
           FROM documents)
         SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(${dsumSql("ease")} / COUNT(ease), 6) AS avg_reading_ease,
           round(${dsumSql("grade")} / COUNT(grade), 6) AS avg_fk_grade,
           round(MIN(grade), 6) AS min_grade,
           round(MAX(grade), 6) AS max_grade
         FROM perdoc GROUP BY 1 ORDER BY 1"""),
    "llm_bigram_entropy" -> Op(bigramEntropy,
      """WITH w0 AS (SELECT doc_id, lang,
             CAST(unnest(range(0, len(string_split(text, ' ')))) AS BIGINT)
               AS pos,
             unnest(string_split(text, ' ')) AS w2
           FROM documents),
         bg AS (SELECT lang, w1, w2 FROM (SELECT lang,
             LAG(w2) OVER (PARTITION BY doc_id ORDER BY pos) AS w1, w2
           FROM w0) WHERE w1 IS NOT NULL),
         c2 AS (SELECT lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
           FROM bg GROUP BY 1, 2, 3),
         wl AS (SELECT *,
             CAST(SUM(c2) OVER (PARTITION BY lang, w1) AS BIGINT) AS c1,
             CAST(SUM(c2) OVER (PARTITION BY lang) AS BIGINT) AS t
           FROM c2),
         terms AS (SELECT lang, t,
             round(CAST(c2 AS DOUBLE)
               * round(ln(CAST(c1 AS DOUBLE) / CAST(c2 AS DOUBLE)), 6), 6)
               AS term
           FROM wl),
         agg AS (SELECT lang, t,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams,
             round(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(t AS DOUBLE), 6) AS h_cond
           FROM terms GROUP BY 1, 2)
         SELECT lang, t AS n_bigrams, n_distinct_bigrams, h_cond,
           round(exp(h_cond), 6) AS perplexity
         FROM agg ORDER BY lang"""),
    "llm_cdc_chunks" -> Op(cdcChunks,
      s"""WITH w0 AS (SELECT doc_id,
             CAST(unnest(range(0, len(string_split(text, ' ')))) AS BIGINT)
               AS pos,
             unnest(string_split(text, ' ')) AS word
           FROM documents),
         w AS (SELECT doc_id, pos, word,
             CASE WHEN ${h48Sql("word")} % 8 = 0 THEN 1 ELSE 0 END AS boundary
           FROM w0),
         ch AS (SELECT doc_id,
             COALESCE(SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_id,
             pos, word
           FROM w),
         chunks AS (SELECT doc_id, chunk_id,
             string_agg(word, ' ' ORDER BY pos) AS chunk_text
           FROM ch GROUP BY 1, 2),
         freq AS (SELECT chunk_text, CAST(COUNT(*) AS BIGINT) AS n_occ
           FROM chunks GROUP BY 1),
         g AS (SELECT *,
             CAST(SUM(n_occ) OVER () AS BIGINT) AS n_chunks,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_distinct
           FROM freq)
         SELECT chunk_text, n_occ, n_chunks, n_distinct,
           round(CAST(n_chunks - n_distinct AS DOUBLE)
             / CAST(n_chunks AS DOUBLE), 6) AS dup_ratio
         FROM g WHERE n_occ >= 2
         ORDER BY n_occ DESC, chunk_text LIMIT 15"""),
    "ml_feature_hashing" -> Op(featureHashing,
      s"""WITH w AS (SELECT doc_id, word, ${h48Sql("word")} % 64 AS bucket
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             FROM documents)),
         pd AS (SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM w WHERE doc_id < 10 GROUP BY 1, 2),
         ld AS (SELECT bucket, CAST(COUNT(DISTINCT word) AS BIGINT)
             AS n_distinct_words
           FROM w GROUP BY 1)
         SELECT doc_id, pd.bucket, cnt, n_distinct_words
         FROM pd JOIN ld ON pd.bucket = ld.bucket
         ORDER BY doc_id, pd.bucket"""),
    "ml_ols_multi" -> Op(olsMulti,
      """WITH j AS (SELECT CAST(l_quantity AS BIGINT) AS x1,
             CAST(round(p_retailprice * 100, 0) AS BIGINT) AS x2,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
           FROM lineitem JOIN part ON l_partkey = p_partkey),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x1 AS DECIMAL(38,0))) AS DOUBLE) AS sx1,
             CAST(SUM(CAST(x2 AS DECIMAL(38,0))) AS DOUBLE) AS sx2,
             CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,0))) AS DOUBLE) AS sx1x1,
             CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS sx1x2,
             CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,0))) AS DOUBLE) AS sx2x2,
             CAST(SUM(CAST(x1 * y AS DECIMAL(38,0))) AS DOUBLE) AS sx1y,
             CAST(SUM(CAST(x2 * y AS DECIMAL(38,0))) AS DOUBLE) AS sx2y,
             CAST(SUM(CAST(y * y AS DECIMAL(38,0))) AS DOUBLE) AS syy
           FROM j),
         c AS (SELECT *,
             sx1x1 - sx1 * sx1 / CAST(n AS DOUBLE) AS a11,
             sx1x2 - sx1 * sx2 / CAST(n AS DOUBLE) AS a12,
             sx2x2 - sx2 * sx2 / CAST(n AS DOUBLE) AS a22,
             sx1y - sx1 * sy / CAST(n AS DOUBLE) AS b1,
             sx2y - sx2 * sy / CAST(n AS DOUBLE) AS b2,
             syy - sy * sy / CAST(n AS DOUBLE) AS sst
           FROM s),
         b AS (SELECT *,
             (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS bet1,
             (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) AS bet2
           FROM c)
         SELECT n,
           round((sy - bet1 * sx1 - bet2 * sx2) / CAST(n AS DOUBLE) / 100.0, 6)
             AS beta0,
           round(bet1 / 100.0, 6) AS beta_quantity,
           round(bet2, 6) AS beta_retailprice,
           round((bet1 * b1 + bet2 * b2) / sst, 6) AS r2
         FROM b"""),
  )
}
