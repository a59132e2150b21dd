package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-11 text-evaluation batch: BLEU-style n-gram overlap scoring
  * (the generation-eval metric run pairwise over candidate/reference
  * text) and RAKE keyword extraction (the classic unsupervised
  * keyphrase miner) — both pure relational plans over `documents`. */
object Llm8 {

  /** L222 — BLEU-2 overlap scoring over candidate/reference pairs
    * (Papineni et al. ACL 2002): clipped unigram + bigram precision,
    * geometric mean, brevity penalty. Pairs are the deterministic
    * adjacent-id same-lang pairing (candidate doc_id+1 scored against
    * reference doc_id) — the evaluation-harness shape where pair
    * identity comes from upstream (a near-dup candidate list, a
    * model-output join); the metric kernel is what this row ships.
    * Everything after the 1-join pair build is ROW-LOCAL array algebra
    * (clipped counts via HOF fold over the distinct candidate tokens —
    * O(len²) per pair, bounded by doc length, never corpus-dependent),
    * so at 100 TB the cost is the pair join plus a map. Top 20 pairs by
    * score; bp/precisions exposed so the gate pins every component. */
  def bleuOverlap(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
    val pairs = d.as("r").join(d.as("c"),
        col("c.doc_id") === col("r.doc_id") + 1 &&
          col("c.lang") === col("r.lang"))
      .select(col("r.doc_id").as("ref_id"), col("c.doc_id").as("cand_id"),
        split(col("c.text"), " ").as("cw"), split(col("r.text"), " ").as("rw"))
    def bigrams(a: String): String =
      s"transform(sequence(1, size($a) - 1), i -> " +
        s"concat(element_at($a, i), ' ', element_at($a, i + 1)))"
    def clipped(c: String, r: String): String =
      s"aggregate(array_distinct($c), 0L, (acc, w) -> acc + " +
        s"least(size(filter($c, x -> x = w)), size(filter($r, x -> x = w))))"
    val scored = pairs
      .withColumn("len_c", size(col("cw")))
      .withColumn("len_r", size(col("rw")))
      .withColumn("clip1", expr(clipped("cw", "rw")))
      .withColumn("cb", expr(bigrams("cw")))
      .withColumn("rb", expr(bigrams("rw")))
      .withColumn("clip2", expr(clipped("cb", "rb")))
      .withColumn("p1", col("clip1").cast("double") / col("len_c").cast("double"))
      .withColumn("p2",
        col("clip2").cast("double") / (col("len_c") - 1).cast("double"))
      .withColumn("bp", when(col("len_c") >= col("len_r"), lit(1.0))
        .otherwise(exp(lit(1.0) -
          col("len_r").cast("double") / col("len_c").cast("double"))))
      .withColumn("bleu2",
        when(col("clip1") === 0 || col("clip2") === 0, lit(0.0))
          .otherwise(round(col("bp") * sqrt(col("p1") * col("p2")), 6)))
    scored.select(col("ref_id"), col("cand_id"), col("len_c"), col("len_r"),
        col("clip1"), col("clip2"), round(col("bp"), 6).as("bp"), col("bleu2"))
      .orderBy(col("bleu2").desc, col("ref_id").asc)
      .limit(20)
  }

  private val RakeStop = Seq("a", "the", "big", "small", "fast", "slow")

  /** L223 — RAKE keyword extraction (Rose et al. 2010, "Automatic
    * keyword extraction from individual documents"): candidate phrases
    * are maximal stopword-free token runs, word score = deg(w)/freq(w)
    * with deg summing the lengths of every phrase containing w, phrase
    * score = Σ word scores; top 20 distinct phrases. The phrase build is
    * the gaps-and-islands pattern (pos − row_number over non-stop words
    * keys each run) — pure windows, no regex splitting, so both engines
    * segment identically by construction. Scale shape: tokens shuffle
    * once for the islands window (doc-keyed — same class as any per-doc
    * analysis), word stats are vocabulary-sized aggregates, and the
    * phrase score join hits the broadcast-sized word-score table;
    * nothing is corpus². Word scores are round-6 and phrase sums
    * decimal-summed — fully hash-gated. */
  def rakeKeywords(spark: SparkSession, dir: String): DataFrame = {
    val words = documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val nonstop = words.where(!col("w").isin(RakeStop: _*))
      .withColumn("grp", col("pos") - row_number().over(wRun))
    val phrases = nonstop.groupBy(col("doc_id"), col("grp"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("w")))),
        s => s.getField("w")).as("ws"))
      .select(col("doc_id"), concat_ws(" ", col("ws")).as("phrase"),
        size(col("ws")).as("len"), col("ws"))
    val wordStats = phrases
      .select(explode(col("ws")).as("w"), col("len"))
      .groupBy("w")
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("deg"))
      .withColumn("score_w",
        round(col("deg").cast("double") / col("freq").cast("double"), 6))
    val phraseScores = phrases
      .select(col("phrase"), col("len"), explode(col("ws")).as("w"))
      .join(broadcast(wordStats.select(col("w"), col("score_w"))), "w")
      .groupBy(col("phrase"), col("len"))
      .agg(count(lit(1)).as("n_word_occ"),
        sum(col("score_w").cast("decimal(18,6)")).cast("double").as("score0"))
    // n_word_occ counts across ALL occurrences of the phrase; normalize
    // to the per-occurrence score and count occurrences
    phraseScores
      .withColumn("n_occur", (col("n_word_occ") / col("len")).cast("long"))
      .withColumn("score",
        round(col("score0") / col("n_occur").cast("double"), 6))
      .select(col("phrase"), col("len").as("n_words"), col("n_occur"), col("score"))
      .orderBy(col("score").desc, col("phrase").asc)
      .limit(20)
  }

  /** L228 — Zipf's-law fit over the corpus rank–frequency curve (Zipf
    * 1949; the slope of ln f vs ln r over the head vocabulary ≈ −1 for
    * natural text — the go-to sanity probe that a scraped corpus is
    * language-like rather than boilerplate/spam, run beside L163's
    * token stats before training). Word counts are one map-combinable
    * agg; the top-100 head is a TakeOrdered; ranks come from a window
    * over those 100 rows (bounded — never the vocabulary); the fit is
    * the L225 six-sums closed form with ln values rounded 6dp BEFORE
    * the decimal sums (absorbing cross-libm ulp, the PMI/PSI ln
    * contract). One row: n, slope, intercept, r2. */
  /** The L225 six sums of round-6 (x, y) points — n, Σx, Σx², Σy, Σxy,
    * Σy² — each product round-6 and every sum exact in decimal. */
  private[ops] def sixSums(xy: DataFrame): DataFrame =
    xy.agg(count(lit(1)).as("n"),
      sum(col("x").cast("decimal(18,6)")).cast("double").as("sx"),
      sum(round(col("x") * col("x"), 6).cast("decimal(18,6)")).cast("double").as("sxx"),
      sum(col("y").cast("decimal(18,6)")).cast("double").as("sy"),
      sum(round(col("x") * col("y"), 6).cast("decimal(18,6)")).cast("double").as("sxy"),
      sum(round(col("y") * col("y"), 6).cast("decimal(18,6)")).cast("double").as("syy"))

  def zipfSlope(spark: SparkSession, dir: String): DataFrame = {
    val counts = documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(100)
    val w = Window.orderBy(col("cnt").desc, col("word").asc)
    val xy = counts.withColumn("r", row_number().over(w))
      .select(round(log(col("r")), 6).as("x"),
        round(log(col("cnt")), 6).as("y"))
    val s = sixSums(xy)
    s.select(col("n"),
      round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
      round((col("sy") - col("sx") *
          ((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")))) /
        col("n").cast("double"), 6).as("intercept"),
      round(((col("n") * col("sxy") - col("sx") * col("sy")) *
          (col("n") * col("sxy") - col("sx") * col("sy"))) /
        ((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  /** L234 — HARD-NEGATIVE mining for contrastive training (the
    * "hardest negatives" batch construction of SimCLR / DPR / sentence-
    * transformers: for each anchor, the most-similar vectors whose
    * label DIFFERS — exactly what a contrastive loss needs and what
    * random negatives fail to provide). Same exact-top-k kernel as the
    * L44 [[Llm.simTopk]] contract: bounded anchor set broadcast, ONE
    * corpus stream through `mapPartitions` with per-partition heaps
    * (label filter applied before scoring), |partitions|·|Q|·k
    * survivors reduced by a tiny window — exact at any corpus size,
    * no pair materialization. Same ascending-index dot fold + HALF_UP
    * round6 as [[graft.functions.DotProduct]], so the brute-force
    * oracle matches bit-for-bit. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayMath.{dotJvm, round6}
    import spark.implicits._
    val k = 5
    val e = embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .as[(Long, Int, Array[Double])]
    val bc = spark.sparkContext.broadcast(
      graft.Tables.boundedCollect(e.filter(col("vec_id") < 10), 4096,
        "llm_hard_negatives anchor set")
        .sortBy(_._1)
        .map { case (id, lab, v) => (id, lab, v, math.sqrt(dotJvm(v, v))) })
    // the negative's label rides in the heap tuple — no corpus-sized
    // label join after the reduce
    val worseFirst: Ordering[(Double, Long, Int)] =
      Ordering.by { case (c, v, _) => (-c, v) }
    val localTop = e.mapPartitions { rows =>
      val anchors = bc.value
      val heaps = Array.fill(anchors.length)(
        scala.collection.mutable.PriorityQueue.empty(worseFirst))
      for ((id2, lab2, v2) <- rows) {
        val n2 = math.sqrt(dotJvm(v2, v2))
        var i = 0
        while (i < anchors.length) {
          val (_, qlab, qv, qn) = anchors(i)
          if (qlab != lab2) { // negatives only — label mismatch
            val raw = dotJvm(qv, v2) / (qn * n2)
            val heap = heaps(i)
            if (heap.size < k || raw >= heap.head._1 - 1e-6) {
              val cand = (round6(raw), id2, lab2)
              if (heap.size < k) heap.enqueue(cand)
              else if (worseFirst.lt(cand, heap.head)) {
                heap.dequeue(); heap.enqueue(cand) }
            }
          }
          i += 1
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, i) =>
        h.iterator.map { case (c, v, l) =>
          (anchors(i)._1, anchors(i)._2, v, l, c) }
      }
    }.toDF("qid", "q_label", "vec_id", "neg_label", "cos_r")
    val w = Window.partitionBy(col("qid")).orderBy(col("cos_r").desc, col("vec_id").asc)
    localTop.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
      .select(col("qid"), col("q_label"), col("vec_id"), col("neg_label"),
        col("cos_r"), col("rn"))
      .orderBy("qid", "rn")
  }

  /** L237 — canonical-document selection after near-dup clustering (the
    * KEEP-BEST policy every production dedup actually ships: don't drop
    * duplicates arbitrarily — keep the highest-quality member of each
    * cluster; e.g. the RefinedWeb/FineWeb pipelines keep one canonical
    * doc per MinHash cluster). Composes two existing stages — the
    * [[Llm3.dedupClusters]] connected components and the
    * [[Llm.qualityScore]] heuristic — with one window argmax per
    * cluster: kept = max (score, tie → smaller doc_id). Output: one row
    * per cluster with the kept doc, its score, and how many members
    * were dropped — the retention ledger an auditable dedup publishes.
    * Scale: cluster ids and scores join on the doc key (one shuffle);
    * the argmax is a cluster-keyed window; nothing beyond the dedup
    * stage's own cost. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = Llm3.dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster"), col("cluster_size"))
    val scores = Llm.qualityScore(spark, dir).select(col("doc_id"), col("score"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("score").desc, col("doc_id").asc)
    clusters.join(scores, "doc_id")
      .withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("cluster"), col("cluster_size"), col("doc_id").as("kept_doc"),
        col("score").as("kept_score"),
        (col("cluster_size") - 1).as("n_dropped"))
      .orderBy("cluster")
  }

  private val SpanLen = 3

  /** L239 — T5-style span corruption (Raffel et al. JMLR 2020 §3.1.4:
    * mask a contiguous token span with a sentinel, train to emit the
    * sentinel + the original span — the denoising objective's data-prep
    * step, run over the whole corpus before pretraining). The span
    * START is drawn deterministically from the portable h48 hash of the
    * doc id (the reproducible-augmentation contract: re-running the
    * pipeline regenerates byte-identical examples — the property that
    * makes checkpoint-resume and A/B data ablations sound). Entirely
    * ROW-LOCAL array surgery (slice/concat) — at 100 TB this is a map
    * over the corpus, nothing shuffles but the output write; the only
    * agg in the query is the final doc_id sort the gate needs. Docs
    * shorter than span+1 are excluded (nothing maskable). */
  def spanCorrupt(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("n", size(col("ws")))
      .where(col("n") > SpanLen)
      // 1-based span start in [1, n - SpanLen]
      .withColumn("s",
        h48(concat(lit("span:"), col("doc_id").cast("string")))
          % (col("n") - SpanLen) + 1)
    d.select(col("doc_id"), col("n").as("n_words"), col("s").as("span_start"),
        concat_ws(" ", concat(
          slice(col("ws"), lit(1), col("s") - 1),
          array(lit("<X>")),
          slice(col("ws"), col("s") + SpanLen,
            col("n") - col("s") - SpanLen + 1))).as("input"),
        concat_ws(" ", concat(array(lit("<X>")),
          slice(col("ws"), col("s"), lit(SpanLen)))).as("target"))
      .orderBy("doc_id")
  }

  private val VocabK = 1000

  /** L241 — vocabulary coverage / OOV-rate audit per language (the
    * tokenizer-fairness check run before fixing a vocabulary: a top-K
    * vocab fit on the WHOLE corpus systematically under-covers
    * low-resource languages — Petrov et al. 2023 "tokenizer unfairness"
    * framing; this query quantifies it per lang). Vocab = global top-1000
    * words (one map-combinable count + TakeOrdered → a broadcast);
    * membership is a broadcast LEFT semi-flag join on the token stream;
    * one lang-keyed agg finishes — corpus scanned twice (vocab fit,
    * coverage), nothing corpus². Exact token counts; coverage round-6. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val toks = documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
    val vocab = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc).limit(VocabK)
      .select(col("word"), lit(1).as("in_v"))
    toks.join(broadcast(vocab), Seq("word"), "left")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNotNull, 1L).otherwise(0L)).as("n_covered"))
      .withColumn("n_oov", col("n_tokens") - col("n_covered"))
      .withColumn("coverage",
        round(col("n_covered").cast("double") / col("n_tokens").cast("double"), 6))
      .orderBy("lang")
  }

  /** L245 — multi-pattern PII detection scan with measured recall (the
    * release gate run on every corpus before publication; the J-family
    * redaction row L? masks — this row DETECTS and GRADES detection).
    * The fixture text contains no PII, so the query plants it
    * deterministically (mod-7 docs gain an email, mod-11 a phone — the
    * PSI/table-diff mutated-twin principle: the alarm path must be SEEN
    * to fire) and then scans with a regex bank, reporting per type the
    * flagged-doc count, total hits, planted truth, and exact recall —
    * which the gate pins at literally 1.0. Entirely row-local regex +
    * one type-keyed agg; at 100 TB a pure map over the corpus (the
    * planting disappears in production — the scan is the operator). */
  def piiScan(spark: SparkSession, dir: String): DataFrame = {
    val planted = documents(spark, dir).select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit(" call 555-0199")).otherwise(lit("")))
        .as("t"))
    val scanned = planted.select(col("doc_id"), explode(array(
      struct(lit("email").as("pii_type"),
        size(regexp_extract_all(col("t"),
          lit("[a-z0-9]+@[a-z0-9]+\\.[a-z]+"), lit(0))).as("hits"),
        (col("doc_id") % 7 === 0).cast("int").as("planted")),
      struct(lit("phone").as("pii_type"),
        size(regexp_extract_all(col("t"),
          lit("555-[0-9]{4}"), lit(0))).as("hits"),
        (col("doc_id") % 11 === 0).cast("int").as("planted")))).as("e"))
    scanned.groupBy(col("e.pii_type").as("pii_type"))
      .agg(sum(when(col("e.hits") > 0, 1L).otherwise(0L)).as("n_docs_flagged"),
        sum(col("e.hits").cast("long")).as("n_hits"),
        sum(col("e.planted").cast("long")).as("n_planted"),
        round(sum(when(col("e.hits") > 0 && col("e.planted") === 1, 1L)
            .otherwise(0L)).cast("double") /
          sum(col("e.planted")).cast("double"), 6).as("recall"))
      .orderBy("pii_type")
  }

  /** L258 — lexical-diversity profile per language (the corpus-quality
    * numbers a data curator reads before mixing sources: type–token
    * ratio, hapax fraction, Herdan's C = ln V/ln N [Herdan 1960, the
    * length-robust TTR], Guiraud's R = V/√N): synthetic or looping text
    * collapses V against N, template spam inflates hapax-poor vocab —
    * both visible here before any model pass. One explode → (lang,
    * word) agg → lang agg; every post-explode frame is vocabulary-
    * bounded, so at 100 TB the cost is the token-stream scan. ln
    * round-6 per the cross-libm contract; √ is IEEE-exact. */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame = {
    val w = documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
    w.groupBy("lang", "word").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("v_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("lang"), col("n_tokens"), col("v_types"), col("n_hapax"),
        round(col("v_types").cast("double") / col("n_tokens").cast("double"), 6)
          .as("ttr"),
        round(col("n_hapax").cast("double") / col("v_types").cast("double"), 6)
          .as("hapax_ratio"),
        round(round(log(col("v_types").cast("double")), 6) /
          round(log(col("n_tokens").cast("double")), 6), 6).as("herdan_c"),
        round(col("v_types").cast("double") /
          sqrt(col("n_tokens").cast("double")), 6).as("guiraud_r"))
      .orderBy("lang")
  }

  /** L271 — CONTAINMENT near-dup detection (Broder 1997's second
    * resemblance measure: |A∩B|/min(|A|,|B|) — the one that catches
    * PARTIAL COPIES, where a short document is swallowed whole by a
    * longer one; symmetric Jaccard ≥0.9 dedup (L8) is structurally
    * blind to exactly these pairs because the union washes the overlap
    * out). On the bounded 100-doc audit slice the word-level pair join
    * is exhaustive (the fixture holds 2 272 contained-but-not-Jaccard
    * pairs — the gate proves the miss class is REAL, not
    * hypothetical); at scale the candidate generation is the L158
    * prefix filter, which remains lossless for containment when the
    * prefix is sized by min-side cardinality. Top 20 by (containment,
    * d1, d2) with both directed containments, Jaccard, and the
    * is_partial_copy verdict. */
  def containmentDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = documents(spark, dir).where(col("doc_id") < 100)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("word"))
    val sz = w.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val pairs = w.as("w1").join(w.as("w2"),
        col("w1.word") === col("w2.word") && col("w1.doc_id") < col("w2.doc_id"))
      .groupBy(col("w1.doc_id").as("d1"), col("w2.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sz.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .select(col("d1"), col("d2"), col("inter"), col("sz1"), col("sz2"),
        round(col("inter").cast("double") /
          least(col("sz1"), col("sz2")).cast("double"), 6).as("containment"),
        round(col("inter").cast("double") / col("sz1").cast("double"), 6)
          .as("c_1_in_2"),
        round(col("inter").cast("double") / col("sz2").cast("double"), 6)
          .as("c_2_in_1"),
        round(col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .withColumn("is_partial_copy",
        col("containment") >= 0.9 && col("jaccard") < 0.9)
      .orderBy(col("containment").desc, col("d1"), col("d2"))
      .limit(20)
  }


  val entries: Map[String, Op] = Map(
    "llm_containment_dedup" -> Op(containmentDedup,
      """WITH w AS (SELECT doc_id,
             unnest(list_distinct(string_split(text, ' '))) AS word
           FROM documents WHERE doc_id < 100),
         sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz
           FROM w GROUP BY 1),
         p AS (SELECT w1.doc_id AS d1, w2.doc_id AS d2,
             CAST(COUNT(*) AS BIGINT) AS inter
           FROM w w1 JOIN w w2
             ON w1.word = w2.word AND w1.doc_id < w2.doc_id
           GROUP BY 1, 2),
         j AS (SELECT d1, d2, inter, a.sz AS sz1, b.sz AS sz2,
             round(CAST(inter AS DOUBLE)
               / CAST(LEAST(a.sz, b.sz) AS DOUBLE), 6) AS containment,
             round(CAST(inter AS DOUBLE) / CAST(a.sz AS DOUBLE), 6)
               AS c_1_in_2,
             round(CAST(inter AS DOUBLE) / CAST(b.sz AS DOUBLE), 6)
               AS c_2_in_1,
             round(CAST(inter AS DOUBLE)
               / CAST(a.sz + b.sz - inter AS DOUBLE), 6) AS jaccard
           FROM p JOIN sz a ON d1 = a.doc_id JOIN sz b ON d2 = b.doc_id)
         SELECT *, containment >= 0.9 AND jaccard < 0.9 AS is_partial_copy
         FROM j ORDER BY containment DESC, d1, d2 LIMIT 20"""),
    "llm_lexical_diversity" -> Op(lexicalDiversity,
      """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word
           FROM documents),
         wc AS (SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS c
           FROM w GROUP BY 1, 2),
         a AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS v_types,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
           FROM wc GROUP BY 1)
         SELECT lang, n_tokens, v_types, n_hapax,
           round(CAST(v_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
           round(CAST(n_hapax AS DOUBLE) / CAST(v_types AS DOUBLE), 6)
             AS hapax_ratio,
           round(round(ln(CAST(v_types AS DOUBLE)), 6)
             / round(ln(CAST(n_tokens AS DOUBLE)), 6), 6) AS herdan_c,
           round(CAST(v_types AS DOUBLE) / sqrt(CAST(n_tokens AS DOUBLE)), 6)
             AS guiraud_r
         FROM a ORDER BY lang"""),
    "llm_pii_scan" -> Op(piiScan,
      """WITH planted AS (SELECT doc_id,
           text || CASE WHEN doc_id % 7 = 0
               THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
               ELSE '' END
             || CASE WHEN doc_id % 11 = 0 THEN ' call 555-0199' ELSE '' END AS t
           FROM documents),
         s AS (
           SELECT doc_id, 'email' AS pii_type,
             len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS hits,
             CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS planted
           FROM planted
           UNION ALL
           SELECT doc_id, 'phone',
             len(regexp_extract_all(t, '555-[0-9]{4}')),
             CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END
           FROM planted)
         SELECT pii_type,
           CAST(SUM(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_flagged,
           CAST(SUM(hits) AS BIGINT) AS n_hits,
           CAST(SUM(planted) AS BIGINT) AS n_planted,
           round(CAST(SUM(CASE WHEN hits > 0 AND planted = 1 THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(SUM(planted) AS DOUBLE), 6) AS recall
         FROM s GROUP BY 1 ORDER BY 1"""),
    "llm_vocab_coverage" -> Op(vocabCoverage,
      s"""WITH toks AS (SELECT lang, u.word FROM documents,
             LATERAL (SELECT unnest(string_split(text, ' ')) AS word) u),
         v AS (SELECT word FROM (SELECT word, COUNT(*) AS cnt FROM toks
             GROUP BY 1 ORDER BY cnt DESC, word ASC LIMIT $VocabK)),
         f AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN word IN (SELECT word FROM v)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
           FROM toks GROUP BY 1)
         SELECT lang, n_tokens, n_covered,
           CAST(n_tokens - n_covered AS BIGINT) AS n_oov,
           round(CAST(n_covered AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
             AS coverage
         FROM f ORDER BY lang"""),
    "llm_span_corrupt" -> Op(spanCorrupt, {
      val h = h48Sql("'span:' || CAST(doc_id AS VARCHAR)")
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws,
             CAST(len(string_split(text, ' ')) AS INT) AS n
           FROM documents),
         f AS (SELECT doc_id, ws, n, ($h) % (n - $SpanLen) + 1 AS s
           FROM d WHERE n > $SpanLen)
         SELECT doc_id, n AS n_words, s AS span_start,
           array_to_string(list_slice(ws, 1, s - 1) || ['<X>']
             || list_slice(ws, s + $SpanLen, n), ' ') AS input,
           array_to_string(['<X>'] || list_slice(ws, s, s + ${SpanLen - 1}), ' ')
             AS target
         FROM f ORDER BY doc_id"""
    }),
    "llm_dedup_keep_best" -> Op(dedupKeepBest, {
      // compose the committed cluster oracle verbatim as a subquery so
      // the two keys can never drift
      val clusters = Llm3.entries("llm_dedup_clusters").oracle
      s"""WITH clusters AS ($clusters),
         q AS (SELECT doc_id,
             CAST(len(string_split(text,' ')) AS DOUBLE) AS nw,
             CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) AS nd,
             CAST(len(list_filter(string_split(text,' '),
               w -> w IN ('the','a'))) AS DOUBLE) AS ns
           FROM documents),
         scored AS (SELECT doc_id,
             round(0.4 * least(1.0, nw / 200.0) + 0.3 * (nd / nw)
               + 0.3 * (ns / nw), 6) AS score
           FROM q),
         ranked AS (SELECT c.cluster, c.cluster_size, c.doc_id, s.score,
             ROW_NUMBER() OVER (PARTITION BY c.cluster
               ORDER BY s.score DESC, c.doc_id ASC) AS rk
           FROM clusters c JOIN scored s USING (doc_id))
         SELECT cluster, cluster_size, doc_id AS kept_doc, score AS kept_score,
           CAST(cluster_size - 1 AS BIGINT) AS n_dropped
         FROM ranked WHERE rk = 1 ORDER BY cluster"""
    }),
    "llm_hard_negatives" -> Op(hardNegatives,
      s"""WITH e AS (SELECT vec_id, label, embedding,
             ${normSql("embedding")} AS nrm FROM embeddings),
         scored AS (SELECT q.vec_id AS qid, q.label AS q_label,
             c.vec_id AS vec_id, c.label AS neg_label,
             round(${dotSql("q.embedding", "c.embedding")} / (q.nrm * c.nrm), 6)
               AS cos_r
           FROM e q JOIN e c ON q.vec_id < 10 AND c.label != q.label),
         ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
             ORDER BY cos_r DESC, vec_id ASC) AS rn FROM scored)
         SELECT qid, q_label, vec_id, neg_label, cos_r, CAST(rn AS INT) AS rn
         FROM ranked WHERE rn <= 5 ORDER BY qid, rn"""),
    "llm_zipf_slope" -> Op(zipfSlope,
      s"""WITH cnts AS (SELECT u.word, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM documents, LATERAL (SELECT unnest(string_split(text, ' '))
             AS word) u
           GROUP BY 1 ORDER BY cnt DESC, word ASC LIMIT 100),
         xy AS (SELECT round(ln(ROW_NUMBER() OVER
               (ORDER BY cnt DESC, word ASC)), 6) AS x,
             round(ln(cnt), 6) AS y
           FROM cnts),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             ${dsumSql("x")} AS sx, ${dsumSql("round(x * x, 6)")} AS sxx,
             ${dsumSql("y")} AS sy, ${dsumSql("round(x * y, 6)")} AS sxy,
             ${dsumSql("round(y * y, 6)")} AS syy
           FROM xy)
         SELECT n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - sx * ((n * sxy - sx * sy) / (n * sxx - sx * sx))) /
             CAST(n AS DOUBLE), 6) AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
             ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
         FROM s"""),
    "llm_bleu_overlap" -> Op(bleuOverlap, {
      def clipped(c: String, r: String) =
        s"COALESCE(list_sum(list_transform(list_distinct($c), w -> " +
          s"LEAST(len(list_filter($c, x -> x = w)), len(list_filter($r, x -> x = w))))), 0)"
      def bigrams(a: String) =
        s"list_transform(range(1, len($a)), i -> $a[i] || ' ' || $a[i + 1])"
      s"""WITH p AS (SELECT r.doc_id AS ref_id, c.doc_id AS cand_id,
             string_split(c.text, ' ') AS cw, string_split(r.text, ' ') AS rw
           FROM documents r JOIN documents c
             ON c.doc_id = r.doc_id + 1 AND c.lang = r.lang),
         s AS (SELECT ref_id, cand_id,
             len(cw) AS len_c, len(rw) AS len_r,
             CAST(${clipped("cw", "rw")} AS BIGINT) AS clip1,
             CAST(${clipped(bigrams("cw"), bigrams("rw"))} AS BIGINT) AS clip2
           FROM p),
         m AS (SELECT *,
             CAST(clip1 AS DOUBLE) / CAST(len_c AS DOUBLE) AS p1,
             CAST(clip2 AS DOUBLE) / CAST(len_c - 1 AS DOUBLE) AS p2,
             CASE WHEN len_c >= len_r THEN 1.0
               ELSE exp(1.0 - CAST(len_r AS DOUBLE) / CAST(len_c AS DOUBLE))
             END AS bp0
           FROM s)
         SELECT ref_id, cand_id, len_c, len_r, clip1, clip2,
           round(bp0, 6) AS bp,
           CASE WHEN clip1 = 0 OR clip2 = 0 THEN 0.0
             ELSE round(bp0 * sqrt(p1 * p2), 6) END AS bleu2
         FROM m ORDER BY bleu2 DESC, ref_id ASC LIMIT 20"""
    }),
    "llm_rake_keywords" -> Op(rakeKeywords, {
      val stop = RakeStop.map(s => s"'$s'").mkString(", ")
      s"""WITH words AS (SELECT doc_id, i.pos, string_split(text, ' ')[i.pos] AS w
           FROM documents,
             LATERAL (SELECT unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos) i),
         ns AS (SELECT doc_id, pos, w,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           FROM words WHERE w NOT IN ($stop)),
         ph AS (SELECT doc_id, grp,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS len,
             list(w ORDER BY pos) AS ws
           FROM ns GROUP BY 1, 2),
         ws AS (SELECT u.w, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(ph.len) AS BIGINT) AS deg
           FROM ph, LATERAL (SELECT unnest(ph.ws) AS w) u
           GROUP BY 1),
         scw AS (SELECT w, round(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE), 6)
             AS score_w FROM ws),
         psc AS (SELECT ph.phrase, ph.len,
             CAST(COUNT(*) AS BIGINT) AS n_word_occ,
             CAST(SUM(CAST(scw.score_w AS DECIMAL(18,6))) AS DOUBLE) AS score0
           FROM ph, LATERAL (SELECT unnest(ph.ws) AS w) u
           JOIN scw ON scw.w = u.w
           GROUP BY 1, 2)
         SELECT phrase, len AS n_words,
           CAST(n_word_occ // len AS BIGINT) AS n_occur,
           round(score0 / CAST(n_word_occ // len AS DOUBLE), 6) AS score
         FROM psc ORDER BY score DESC, phrase ASC LIMIT 20"""
    }),
  )
}
