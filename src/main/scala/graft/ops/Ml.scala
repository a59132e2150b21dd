package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed-ML TRAINING-STEP operators (round 11) — the iteration
  * kernels a feature/training pipeline runs ON the warehouse engine
  * before (or instead of) exporting to a dedicated trainer: Naive-Bayes
  * fit+score, decision-stump split search, one logistic-regression
  * gradient step, and the silhouette clustering-quality probe. Each is
  * the canonical "ML-on-SQL" shape: model state stays broadcast-sized
  * (class tables, centroids, a weight vector), the corpus is touched by
  * map-combinable scans only, and nothing pairwise ever shuffles — the
  * same contract as the L44 k-means step this file extends.
  *
  * Determinism contract (SURVEY.md §7.5): every transcendental term
  * (ln / exp) is rounded to 6 decimals and summed as DECIMAL(18,6), so
  * scores are summation-order-free and the DuckDB oracle hash-gates the
  * MODEL OUTPUTS (confusion counts, split choice, gradient, silhouette),
  * not a float approximation of them. */
object Ml {

  // ---- shared local vector helpers (euclidean sibling of Llm2's cosine) ----
  private def distCol(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x))

  /** L212 — Multinomial NAIVE BAYES: fit on 4/5 of the corpus, score the
    * held-out 1/5, emit the confusion matrix (true lang × predicted
    * lang). The classic first text classifier, and the canonical
    * count-based trainer: the ENTIRE model is three small aggregates —
    * class priors (5 rows), per-class token totals (5 rows), and the
    * (lang, word) count table — all map-side combinable.
    *
    * Scale shape: the corpus is scanned twice (fit tokens, score
    * tokens), both explode→agg passes; scoring joins test tokens to the
    * smoothed log-likelihood GRID (test-vocab × 5 classes — broadcast-
    * sized, never the corpus²) on the word equi-key; the argmax is a
    * 5-row-per-doc window. At 100 TB the model tables still fit in one
    * broadcast: vocabulary and class count bound them, not corpus size.
    * Laplace add-1 smoothing; every log term is round-6 → decimal-summed
    * so both engines rank classes on identical scores; ties (measure-zero
    * with real scores) break to the lexicographically smallest lang. */
  def naiveBayes(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("lang"), col("text"))
    val train = d.where(col("doc_id") % 5 =!= 0)
    val test = d.where(col("doc_id") % 5 === 0)
    val trainTok = train.select(col("lang"),
      explode(split(col("text"), " ")).as("word"))
    // model state: priors + per-class token totals (5 rows each)
    val cls = trainTok.groupBy("lang").agg(count(lit(1)).as("n_tok"))
      .join(train.groupBy("lang").agg(count(lit(1)).as("n_docs")), "lang")
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    val vocab = trainTok.agg(countDistinct(col("word")).as("v"))
    val cw = trainTok.groupBy("lang", "word").agg(count(lit(1)).as("cnt"))
    // smoothed log-likelihood grid over the TEST vocabulary × 5 classes:
    // unseen (word, class) pairs fall back to the pure-smoothing term
    val grid = test.select(explode(split(col("text"), " ")).as("word")).distinct()
      .crossJoin(broadcast(cls.select(col("lang"), col("n_tok")))) // 5-row dim
      .join(cw, Seq("lang", "word"), "left")
      .crossJoin(broadcast(vocab)) // 1-row vocab size
      .select(col("lang"), col("word"),
        round(log((coalesce(col("cnt"), lit(0L)) + 1).cast("double") /
          (col("n_tok") + col("v")).cast("double")), 6).as("term"))
    val prior = cls.crossJoin(broadcast(nTrain)) // 1-row total
      .select(col("lang"),
        round(log(col("n_docs").cast("double") / col("n_train").cast("double")), 6)
          .as("prior"))
    val scored = test.select(col("doc_id"), col("lang").as("lang_true"),
        explode(split(col("text"), " ")).as("word"))
      .join(grid.withColumnRenamed("lang", "lang_c"), "word")
      .groupBy(col("doc_id"), col("lang_true"), col("lang_c"))
      .agg(sum(col("term").cast("decimal(18,6)")).as("tok_sum"))
      .join(broadcast(prior.withColumnRenamed("lang", "lang_c")), "lang_c")
      .withColumn("score", col("tok_sum") + col("prior").cast("decimal(18,6)"))
    val wBest = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("lang_c").asc)
    scored.withColumn("rn", row_number().over(wBest)).where(col("rn") === 1)
      .groupBy(col("lang_true"), col("lang_c").as("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang_true", "lang_pred")
  }

  /** L213 — DECISION-STUMP split search (one node of a distributed tree
    * fit, the greedy criterion every GBDT/random-forest layer runs):
    * find the value-threshold that best separates purchases from
    * non-purchases by weighted Gini impurity. The 100 TB-shape trick is
    * histogram-first: ONE map-combinable pass buckets the corpus
    * (floor(value/20), clamped to 10 bins — exactly how real tree
    * trainers quantize continuous features), and the split search is a
    * running-total window over ≤10 HISTOGRAM rows, not the corpus. All
    * candidate-side numbers are exact integers; impurity is computed
    * from them with identical double ops in both engines. Thresholds
    * whose right side would be empty are excluded (no split). */
  def giniSplit(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).select(
      least(floor(col("value") / 20.0).cast("long"), lit(9L)).as("b"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("pos"))
    val hist = ev.groupBy("b").agg(count(lit(1)).as("n"), sum(col("pos")).as("np"))
    val w = Window.partitionBy(lit(1)).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(lit(1))
    val cum = hist
      .withColumn("n_left", sum(col("n")).over(w))
      .withColumn("pos_left", sum(col("np")).over(w))
      .withColumn("n_tot", sum(col("n")).over(wAll))
      .withColumn("pos_tot", sum(col("np")).over(wAll))
      .where(col("n_left") < col("n_tot")) // right side must be non-empty
      .select((lit(20L) * (col("b") + 1)).as("threshold"),
        col("n_left"), col("pos_left"),
        (col("n_tot") - col("n_left")).as("n_right"),
        (col("pos_tot") - col("pos_left")).as("pos_right"))
    def gini(n: Column, p: Column): Column = { // 1 - (p² + (n-p)²)/n²
      val nd = n.cast("double"); val pd = p.cast("double")
      lit(1.0) - (pd * pd + (nd - pd) * (nd - pd)) / (nd * nd)
    }
    val g = cum.withColumn("wgini", round(
      (col("n_left").cast("double") * gini(col("n_left"), col("pos_left")) +
        col("n_right").cast("double") * gini(col("n_right"), col("pos_right"))) /
        (col("n_left") + col("n_right")).cast("double"), 6))
    val wBest = Window.partitionBy(lit(1))
      .orderBy(col("wgini").asc, col("threshold").asc)
    g.withColumn("is_best", row_number().over(wBest) === 1)
      .select(col("threshold"), col("n_left"), col("pos_left"),
        col("n_right"), col("pos_right"), col("wgini"), col("is_best"))
      .orderBy("threshold")
  }

  /** L214 — one LOGISTIC-REGRESSION batch-gradient step (the inner loop
    * of every distributed GLM fit — Spark MLlib's own LBFGS/SGD reduces
    * exactly this): features x = (bias, n_chars/100, n_words/10) from
    * documents, target y = [lang='en'], fixed weight vector w. The
    * gradient Σ (σ(w·x) − y)·x is a SINGLE map-combinable aggregate —
    * the corpus is scanned once, the model is 3 numbers, and at 100 TB
    * the step is still one pass + a 3-row reduce (the design reason
    * parameter servers exist is models that DON'T fit a broadcast;
    * a 3-feature GLM is the other regime). Per-row terms are round-6 →
    * decimal-summed (order-free); σ uses exp() on identical doubles in
    * both engines, absorbed by the rounding. Output: one row per
    * feature with the gradient sum, mean, and the post-step weight. */
  def logregGradient(spark: SparkSession, dir: String): DataFrame = {
    val ws = Seq(0.1, -0.05, 0.02) // fixed current weights (bias, x2, x3)
    val d = documents(spark, dir).select(
      when(col("lang") === "en", 1.0).otherwise(0.0).as("y"),
      lit(1.0).as("x1"),
      (col("n_chars").cast("double") / 100.0).as("x2"),
      (size(split(col("text"), " ")).cast("double") / 10.0).as("x3"))
    val z = lit(ws(0)) * col("x1") + lit(ws(1)) * col("x2") + lit(ws(2)) * col("x3")
    val p = lit(1.0) / (lit(1.0) + exp(-z))
    val terms = d.select(explode(array(
      struct(lit(1).as("feature"), round((p - col("y")) * col("x1"), 6).as("t")),
      struct(lit(2).as("feature"), round((p - col("y")) * col("x2"), 6).as("t")),
      struct(lit(3).as("feature"), round((p - col("y")) * col("x3"), 6).as("t"))))
      .as("e"))
    terms.groupBy(col("e.feature").as("feature"))
      .agg(count(lit(1)).as("n"),
        sum(col("e.t").cast("decimal(18,6)")).cast("double").as("grad_sum"))
      .withColumn("grad_mean", round(col("grad_sum") / col("n").cast("double"), 6))
      .withColumn("w_old",
        when(col("feature") === 1, ws(0)).when(col("feature") === 2, ws(1))
          .otherwise(ws(2)))
      .withColumn("w_new", round(col("w_old") - lit(0.1) * col("grad_mean"), 6))
      .select(col("feature"), col("n"), round(col("grad_sum"), 6).as("grad_sum"),
        col("grad_mean"), col("w_old"), col("w_new"))
      .orderBy("feature")
  }

  /** L215 — simplified SILHOUETTE coefficient per cluster (Rousseeuw
    * 1987; the "simplified" centroid form is what scales — the full
    * pairwise silhouette is O(N²) and exists nowhere at corpus scale):
    * with the fixture labels as the clustering, a(i) = euclidean
    * distance to the OWN label centroid, b(i) = min distance to any
    * OTHER centroid, s(i) = (b−a)/max(a,b) ∈ [−1, 1]. The quality probe
    * run after every clustering/dedup-embedding step (is this cluster
    * structure real?) — and the exact shape of the L44/L158 kernel:
    * centroids are a 10×64 broadcast, the corpus meets them in a
    * broadcast nested loop, one label-keyed agg finishes. Distances and
    * s are round-6; means go through davg — fully hash-gated. */
  def silhouette(spark: SparkSession, dir: String): DataFrame = {
    val e = Llm2.normedEmbeddings(spark, dir)
    val centroids = Llm2.labelCentroids(e)
      .select(col("label").as("cluster"), col("cemb"))
    val dists = e.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("label"), col("cluster"),
        round(distCol(col("emb"), col("cemb")), 6).as("dist"))
    val ab = dists.groupBy(col("vec_id"), col("label"))
      .agg(max(when(col("cluster") === col("label"), col("dist"))).as("a"),
        min(when(col("cluster") =!= col("label"), col("dist"))).as("b"))
      .withColumn("s", round((col("b") - col("a")) / greatest(col("a"), col("b")), 6))
    ab.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), round(davg(col("s")), 6).as("avg_sil"),
        round(min(col("s")), 6).as("min_sil"), round(max(col("s")), 6).as("max_sil"))
      .orderBy("label")
  }

  /** L227 — χ² term–class association (the classic feature-selection
    * statistic — Yang & Pedersen ICML 1997 ranked it top for text; the
    * step that picks class-discriminative vocabulary before training a
    * classifier like L212's). Per (word, lang): the 2×2 document-
    * frequency contingency table (a = docs of the class containing the
    * word, b/c/d derived from the word's total df, the class size and
    * N), χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) — EXACT integers into
    * one closed-form double, round-6. Scale shape: distinct (doc, word)
    * explode → one (lang, word) agg (vocabulary×classes-bounded); word
    * totals are a word-keyed second agg joined back; class sizes and N
    * are 1-row/5-row broadcasts. Top-20 by χ² with full tie-break. */
  def chi2Terms(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir)
    val dw = d.select(col("doc_id"), col("lang"),
      explode(array_distinct(split(col("text"), " "))).as("word"))
    val a = dw.groupBy("lang", "word").agg(count(lit(1)).as("a"))
    val wordDf = a.groupBy("word").agg(sum(col("a")).as("df_w"))
    val classN = d.groupBy("lang").agg(count(lit(1)).as("n_c"))
    val n = d.agg(count(lit(1)).as("n"))
    val t = a.join(wordDf, "word")
      .join(broadcast(classN), "lang")
      .crossJoin(broadcast(n))
      .withColumn("b", col("df_w") - col("a"))
      .withColumn("c", col("n_c") - col("a"))
      .withColumn("d", col("n") - col("n_c") - col("b"))
    val num = (col("a") * col("d") - col("b") * col("c")).cast("double")
    val den = ((col("a") + col("b")) * (col("c") + col("d"))).cast("double") *
      ((col("a") + col("c")) * (col("b") + col("d"))).cast("double")
    t.select(col("word"), col("lang"), col("a"), col("b"), col("c"), col("d"),
        round(col("n").cast("double") * num * num / den, 6).as("chi2"))
      .orderBy(col("chi2").desc, col("word").asc, col("lang").asc)
      .limit(20)
  }

  /** Shared scorer for the eval rows: an L214-shaped model's round-6
    * sigmoid score per document plus the binary target. The weight
    * vector is deliberately SPREAD (score range ≈ 0.32–0.95, 7 of the
    * 10 calibration bins populated at sf0.01) so the reliability table
    * is non-degenerate — L214's tiny gradient-step weights put every
    * document in one bin. */
  private[graft] def scoredDocs(spark: SparkSession, dir: String): DataFrame = {
    val ws = Seq(-1.0, -1.5, 1.2)
    val z = lit(ws(0)) + lit(ws(1)) * (col("n_chars").cast("double") / 100.0) +
      lit(ws(2)) * (size(split(col("text"), " ")).cast("double") / 10.0)
    documents(spark, dir).select(
      col("doc_id"),
      when(col("lang") === "en", 1L).otherwise(0L).as("y"),
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("s"))
  }

  /** L242 — exact ROC AUC via the Mann–Whitney rank statistic (Hanley &
    * McNeil 1982: AUC = (Σ midranks of positives − n₊(n₊+1)/2)/(n₊n₋);
    * midranks give the standard tie treatment). Scores the corpus with
    * the L214 model (round-6 sigmoid — and the quantization IS the
    * scale story: round-6 scores on (0,1) have ≤10⁶+1 DISTINCT values,
    * so the rank pass collapses to a bounded per-score histogram no
    * matter how many rows feed it — exactly how production AUC jobs
    * dodge the global sort). One score-keyed agg → a [[PrefixScan]]
    * cumsum over the quantization-bounded distinct-score frame (the
    * frame saturates at ≤10⁶+1 rows, but the scan keeps even that
    * ceiling spread across range partitions instead of one window
    * task) → one final reduce; everything until the last division is
    * exact integers-and-halves. Output: n_pos, n_neg, auc, gini. */
  def aucRoc(spark: SparkSession, dir: String): DataFrame = {
    val perScore = scoredDocs(spark, dir).groupBy("s")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    // midrank in ×2 space keeps it integral: 2·mid = 2·cum_before + n + 1
    val (scanned, _) = PrefixScan(perScore, Seq("s"),
      sumsLong = Seq("n" -> "cum"))
    val ranked = scanned
      .withColumn("mid2", lit(2) * (col("cum") - col("n")) + col("n") + 1)
    val agg = ranked.agg(
      sum(col("n_pos")).as("np"),
      sum(col("n") - col("n_pos")).as("nn"),
      sum(col("n_pos") * col("mid2")).as("sum_mid2"))
    agg.select(col("np").as("n_pos"), col("nn").as("n_neg"),
        round((col("sum_mid2").cast("double") / 2.0 -
          col("np").cast("double") * (col("np") + 1).cast("double") / 2.0) /
          (col("np") * col("nn")).cast("double"), 6).as("auc"))
      .withColumn("gini", round(lit(2.0) * col("auc") - 1.0, 6))
  }

  /** L333 — average precision / area under the precision–recall curve
    * of the L214 scorer (the ranking metric that — unlike L242's
    * AUC-ROC — does not reward a model for ordering the easy negatives
    * of an imbalanced corpus; the number every retrieval and
    * rare-event eval reports beside ROC). Step interpolation at
    * DISTINCT round-6 score thresholds with ties grouped (the L242
    * convention): AP = Σ_s ΔTP(s)·P(s) / n_pos where P(s) =
    * TP(s)/(TP(s)+FP(s)) at threshold s descending. The cumulative
    * TP/(TP+FP) pass runs through [[PrefixScan]] over the
    * quantization-bounded distinct-score frame (≤10⁶+1 rows at any
    * corpus size — and the scan keeps it off a single partition even
    * at that ceiling), with n_pos/n coming back as exact scan totals.
    * Each term ΔTP·P is an integer × an exact-6dp double — ≤6dp, no
    * rounding midpoint exists — then decimal-summed; one round-6
    * division ends it. */
  def averagePrecision(spark: SparkSession, dir: String): DataFrame = {
    val perScore = scoredDocs(spark, dir).groupBy("s")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("np"))
      .withColumn("neg_s", -col("s"))
    val (cum, tot) = PrefixScan(perScore, Seq("neg_s"),
      sumsLong = Seq("np" -> "tp", "n" -> "cum_n"))
    val nPos = tot.longs("np")
    val nAll = tot.longs("n")
    cum
      .withColumn("p_at",
        round(col("tp").cast("double") / col("cum_n").cast("double"), 6))
      .agg(round(dsum(round(col("np").cast("double") * col("p_at"), 6)), 6)
        .as("sum_term"))
      .select(lit(nPos).as("n_pos"), lit(nAll - nPos).as("n_neg"),
        round(col("sum_term") / lit(nPos).cast("double"), 6)
          .as("average_precision"))
      // positive-starved / empty-corpus guard (the ndcg convention): AP
      // is undefined at n_pos = 0, and the oracle's HAVING mirrors this
      // filter — both engines emit the empty result instead of a
      // null/NaN row (Spark's agg-over-empty) vs divide-by-zero (DuckDB)
      .where(lit(nPos) >= 1)
  }

  /** L306 — Cohen's kappa + Matthews correlation from the confusion
    * matrix of the L214 scorer thresholded at 0.5 (Cohen 1960;
    * Matthews 1975 — the two chance-corrected single-number summaries
    * every imbalanced-class eval reads INSTEAD of raw accuracy, which
    * the base rate can saturate). One conditional-agg scan yields the
    * exact-integer (tp, fp, fn, tn); kappa = (p₀−p_e)/(1−p_e) with
    * p_e from the marginal products, MCC = (tp·tn−fp·fn)/√(Π margins)
    * — every input to the two round-6 divisions is an exact BIGINT, so
    * cross-engine parity is by construction. Map-combinable; 1-row
    * output at any corpus size. */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame = {
    val pred = (col("s") >= 0.5).cast("long")
    val cm = scoredDocs(spark, dir)
      .select(col("y"), pred.as("p"))
      .agg(sum(when(col("p") === 1 && col("y") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("p") === 1 && col("y") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(col("p") === 0 && col("y") === 1, 1L).otherwise(0L)).as("fn"),
        sum(when(col("p") === 0 && col("y") === 0, 1L).otherwise(0L)).as("tn"))
    val n = (col("tp") + col("fp") + col("fn") + col("tn")).cast("double")
    val po = (col("tp") + col("tn")).cast("double") / n
    val pe = ((col("tp") + col("fp")) * (col("tp") + col("fn")) +
      (col("fn") + col("tn")) * (col("fp") + col("tn"))).cast("double") / (n * n)
    val mccNum = (col("tp") * col("tn") - col("fp") * col("fn")).cast("double")
    val mccDen = sqrt((col("tp") + col("fp")).cast("double") *
      (col("tp") + col("fn")).cast("double") *
      (col("tn") + col("fp")).cast("double") *
      (col("tn") + col("fn")).cast("double"))
    cm.select(col("tp"), col("fp"), col("fn"), col("tn"),
      round(po, 6).as("accuracy"),
      round((po - pe) / (lit(1.0) - pe), 6).as("kappa"),
      round(mccNum / mccDen, 6).as("mcc"))
  }

  /** L308 — NDCG@{5,10,20} of the L214 scorer against the binary
    * relevance label (Järvelin & Kekäläinen 2002 — the position-
    * discounted ranking metric every retrieval/reranking eval reports;
    * the metric the L154 BM25 and L158 MMR rankers would be graded
    * by). The top-20 frame comes from orderBy+limit — Spark plans
    * TakeOrderedAndProject, the per-partition-heap + driver-merge
    * top-k that never globally sorts, so the corpus cost is one scan
    * at any scale; ranks are then row_number over the 20-row frame
    * with the (score desc, doc_id) tiebreak making tie order
    * engine-free. DCG terms round(y/log₂(i+1), 6) decimal-summed per
    * cutoff; ideal DCG from an exploded 1..min(20, n_pos) sequence,
    * guarded on n_pos ≥ 1 (a positive-starved corpus yields the empty
    * result in BOTH engines — Spark's sequence(1,0) would otherwise
    * descend). Output: one row per cutoff k with n_pos, dcg, idcg,
    * ndcg. */
  def ndcg(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.orderBy(col("s").desc, col("doc_id"))
    val top = scoredDocs(spark, dir)
      .orderBy(col("s").desc, col("doc_id")).limit(20)
      .withColumn("i", row_number().over(ord))
      .withColumn("term", round(col("y").cast("double") / log2(col("i") + 1), 6))
    def cuts(c: String) = Seq(5, 10, 20).map(k =>
      round(dsum(when(col("i") <= k, col("term"))), 6).as(s"${c}_$k"))
    val dcgs = top.agg(cuts("dcg").head, cuts("dcg").tail: _*)
    // n_pos >= 1 guard: sequence(1, 0) DESCENDS in Spark (default step
    // -1) where DuckDB's range(1, 1) is empty — on a positive-starved
    // corpus both engines must agree on the empty result, so the ideal
    // branch is filtered out entirely when there are no positives
    val ideal = scoredDocs(spark, dir).agg(sum(col("y")).as("n_pos"))
      .where(col("n_pos") >= 1)
      .select(col("n_pos"),
        explode(sequence(lit(1L), least(lit(20L), col("n_pos")))).as("i"))
      .withColumn("term", round(lit(1.0) / log2(col("i") + 1), 6))
      .groupBy("n_pos").agg(cuts("idcg").head, cuts("idcg").tail: _*)
    val u = dcgs.crossJoin(broadcast(ideal))
    u.select(explode(array(Seq(5, 10, 20).map(k =>
        struct(lit(k).as("k"), col("n_pos"), col(s"dcg_$k").as("dcg"),
          col(s"idcg_$k").as("idcg"))): _*)).as("r"))
      .select(col("r.k"), col("r.n_pos"), col("r.dcg"), col("r.idcg"))
      .withColumn("ndcg", round(col("dcg") / col("idcg"), 6))
      .orderBy("k")
  }

  /** L316 — farthest-first center seeding over the embedding corpus
    * (Gonzalez 1985 k-center traversal — the DETERMINISTIC ancestor of
    * k-means++ D² seeding, and its standard de-randomization: pick the
    * point FARTHEST from the chosen set instead of sampling ∝ D². The
    * seeding quality is what decides whether L44's Lloyd step starts
    * near a good optimum). c₀ = min vec_id; then 3 greedy rounds, each
    * ONE corpus scan against the ≤3 broadcast centers (the
    * llm_kmeans_step probe shape): d²(x,c) = ⟨x,x⟩ + ⟨c,c⟩ − 2⟨x,c⟩
    * entirely through the codegen'd DotProduct kernel with the center
    * norms inlined as literals (bit-identical to the oracle's
    * index-order list_sum), round-6 per center, argmax by (d², −id)
    * via TakeOrdered. Driver holds only the k picked rows. */
  def farthestFirstInit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayMath.{dotJvm, dotProduct}
    val e = embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("emb"))
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("pick_round",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("min_d2",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val seed = boundedCollect(e.orderBy(col("vec_id")).limit(1), 1,
      "farthest-first seed")
    if (seed.isEmpty)
      // empty-corpus robustness contract: no rows, same schema
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), outSchema)
    val first = seed.head
    var centers = Vector(
      (first.getLong(0), first.getSeq[Double](1).toArray, 0.0))
    for (_ <- 1 to 3) {
      val dists = centers.map { case (_, c, _) =>
        val cc = dotJvm(c, c)
        round(dotProduct(col("emb"), col("emb")) + lit(cc) -
          lit(2.0) * dotProduct(col("emb"), typedlit(c.toSeq)), 6)
      }
      val minD = if (dists.size == 1) dists.head else least(dists: _*)
      val pick = boundedCollect(
        e.select(col("vec_id"), minD.as("d2"))
          .orderBy(col("d2").desc, col("vec_id").asc).limit(1), 1,
        "farthest-first pick").head
      val chosen = boundedCollect(
        e.where(col("vec_id") === pick.getLong(0)), 1,
        "farthest-first chosen row").head
      centers = centers :+ ((pick.getLong(0),
        chosen.getSeq[Double](1).toArray, pick.getDouble(1)))
    }
    val rows = centers.zipWithIndex.map { case ((id, _, d2), r) =>
      org.apache.spark.sql.Row(r, id, d2)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](
        java.util.Arrays.asList(rows: _*)), outSchema)
  }

  /** L318 — Brier score with the Murphy decomposition (Brier 1950;
    * Murphy 1973: BS ≈ reliability − resolution + uncertainty over a
    * binned partition — the probabilistic-forecast scorecard that says
    * WHY a score is bad: miscalibrated (high REL), uninformative (low
    * RES), or just a hard base rate (UNC); the single-number summary
    * whose per-bin anatomy L243 tabulates). One scan for the exact
    * Brier sum (round-6 squared errors, decimal-summed); the three
    * components from the same 10-bin frame as L243 with window totals;
    * the binning residual BS − (REL − RES + UNC) is emitted rather
    * than hidden — it is exactly the within-bin forecast variance the
    * K-bin partition absorbs. Map-combinable throughout; 1-row
    * output. */
  def brierDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val sd = scoredDocs(spark, dir)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val bins = sd
      .withColumn("bin", least(floor(col("s") * 10).cast("long"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_k"),
        round(dsum(col("s")) / count(lit(1)).cast("double"), 6).as("sbar_k"),
        sum(col("y")).as("y_k"),
        round(dsum(round((col("s") - col("y")) * (col("s") - col("y")), 6)), 6)
          .as("se_k"))
      .withColumn("ybar_k", round(col("y_k").cast("double") /
        col("n_k").cast("double"), 6))
      .withColumn("n", sum(col("n_k")).over(wAll))
      .withColumn("ybar", round(sum(col("y_k")).over(wAll).cast("double") /
        sum(col("n_k")).over(wAll).cast("double"), 6))
    val nd = col("n").cast("double")
    val relT = round(col("n_k").cast("double") *
      (col("sbar_k") - col("ybar_k")) * (col("sbar_k") - col("ybar_k")), 6)
    val resT = round(col("n_k").cast("double") *
      (col("ybar_k") - col("ybar")) * (col("ybar_k") - col("ybar")), 6)
    bins
      .withColumn("rel_t", relT).withColumn("res_t", resT)
      .agg(max(col("n")).as("n_docs"),
        round(sum(col("se_k").cast("decimal(18,6)")).cast("double") /
          max(nd), 6).as("brier"),
        max(col("ybar")).as("mean_y"),
        round(sum(col("rel_t").cast("decimal(18,6)")).cast("double") /
          max(nd), 6).as("reliability"),
        round(sum(col("res_t").cast("decimal(18,6)")).cast("double") /
          max(nd), 6).as("resolution"))
      .withColumn("uncertainty",
        round(col("mean_y") * (lit(1.0) - col("mean_y")), 6))
      .withColumn("decomp_gap", round(col("brier") - (col("reliability") -
        col("resolution") + col("uncertainty")), 6))
  }

  /** L243 — calibration / reliability table (DeGroot & Fienberg 1983;
    * the 10-bin "reliability diagram" every model review reads beside
    * AUC — discrimination vs calibration being orthogonal failures).
    * Bin the L214 round-6 sigmoid score into 10 equal-width bins; per
    * bin report count, mean predicted probability (decimal-averaged)
    * and observed positive rate (exact-int division) — their gap IS
    * the miscalibration. One map-combinable agg; 10-row output. */
  def calibrationBins(spark: SparkSession, dir: String): DataFrame = {
    scoredDocs(spark, dir)
      .withColumn("bin", least(floor(col("s") * 10).cast("long"), lit(9L)))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"),
        round(davg(col("s")), 6).as("mean_pred"),
        sum(col("y")).as("n_pos"))
      .withColumn("frac_pos",
        round(col("n_pos").cast("double") / col("n").cast("double"), 6))
      .withColumn("gap", round(col("mean_pred") - col("frac_pos"), 6))
      .orderBy("bin")
  }

  /** L255 — average precision (the area under the precision–recall
    * curve with step interpolation — sklearn's `average_precision_score`
    * convention: AP = Σᵢ (Rᵢ−Rᵢ₋₁)·Pᵢ over distinct score thresholds
    * descending, tied scores entering atomically). The PR-side
    * companion of L242's ROC AUC, and the metric that actually moves
    * under class imbalance — reported beside the prevalence baseline a
    * random ranker would score. Same scale contract as the AUC: round-6
    * scores bound the threshold frame at ≤10⁶+1 rows, and the cumsum
    * runs through [[PrefixScan]] (round 13 — the r12 window form is
    * retired; see L333 for the relationship between the two AP keys:
    * this key keeps the sklearn output convention with the prevalence
    * baseline, L333 the step-interpolated P(s) form — the SAME
    * statistic up to round-6 term quantization: L333 rounds P(s)
    * before the product, this key rounds the whole term once, so the
    * two round-6 results sit within the per-term grid of each other
    * but are NOT bit-identical (fixture: 0.360775 vs 0.360779).
    * Round13Spec pins both within 1e-5 of the exactly-computed AP and
    * of each other). Per-threshold term
    * n_posᵢ·cumPosᵢ / (P·cumNᵢ) is a ratio of exact integers, round-6 →
    * decimal-summed; corpus totals come back as exact scan literals. */
  def avgPrecision(spark: SparkSession, dir: String): DataFrame = {
    val perScore = scoredDocs(spark, dir).groupBy("s")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
      .withColumn("neg_s", -col("s"))
    val (ranked, tot) = PrefixScan(perScore, Seq("neg_s"),
      sumsLong = Seq("n_pos" -> "cum_pos", "n" -> "cum_n"))
    val pTot = tot.longs("n_pos")
    val nTot = tot.longs("n")
    ranked.agg(
        round(dsum(round(col("n_pos").cast("double") *
          col("cum_pos").cast("double") /
          (lit(pTot).cast("double") * col("cum_n").cast("double")), 6)), 6)
          .as("avg_precision"))
      .select(
        when(lit(nTot) > 0, lit(pTot)).as("n_pos"),
        when(lit(nTot) > 0, lit(nTot - pTot)).as("n_neg"),
        when(lit(nTot) > 0, round(lit(pTot).cast("double") /
          lit(nTot).cast("double"), 6)).as("prevalence"),
        col("avg_precision"))
  }

  /** L256 — top principal component of the embedding corpus via TWO
    * power-iteration steps on the covariance operator (the PCA kernel
    * every feature pipeline runs before whitening / dimensionality
    * choices). The 64×64 covariance matrix is NEVER materialized: each
    * step computes C·v = (1/n)·Σ_rows (x−μ)·((x−μ)·v) as ONE corpus
    * scan — a row-local dot product (native index-order [[
    * graft.functions.ArrayMath.dotProduct]], bit-equal to the oracle's
    * `list_sum` fold) followed by a 64-group map-combinable aggregate.
    * That is the matrix-free formulation distributed PCA actually uses
    * (Halko et al. SIAM Rev. 2011 randomized-SVD range finder — same
    * scan shape): at 100 TB each iteration is one pass, state is two
    * 64-double broadcast vectors. v₀ = 1/√64 = 0.125 exactly (a dyadic
    * start vector, no sqrt); per-row scores round-6, per-dim sums
    * decimal. C·v components are tiny (λ of a unit-ish corpus is
    * ~1e-2, so entries are ~1e-3 and their squares hit the round-6
    * grid at 50% relative error), so the matvec is carried in a
    * ×1024-scaled space — a DYADIC scale, an exact exponent shift in
    * both engines — and descaled only in the final Rayleigh estimate
    * λ = ‖C·v₁‖; the normalizations are scale-invariant. */
  def pcaPower(spark: SparkSession, dir: String): DataFrame = {
    val x = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val nRow = x.agg(count(lit(1)).as("n"))
    val mu = x.select(posexplode(col("e")).as(Seq("dim", "xd")))
      .groupBy("dim").agg(round(davg(col("xd")), 6).as("mu"))
    def toArr(df: DataFrame, c: String, out: String): DataFrame =
      df.agg(expr(s"transform(array_sort(collect_list(struct(dim, $c))), " +
        s"p -> p.$c)").as(out))
    val muArr = toArr(mu, "mu", "mu_arr")
    // one corpus scan: y = C·v (row-local score, 64-group reduce)
    def matvec(vArr: DataFrame, yName: String): DataFrame =
      x.crossJoin(broadcast(muArr)).crossJoin(broadcast(vArr))
        .withColumn("diff", expr("zip_with(e, mu_arr, (a, b) -> a - b)"))
        .withColumn("s", round(
          graft.functions.ArrayMath.dotProduct(col("diff"), col("v_arr")), 6))
        .select(posexplode(expr("transform(diff, d -> round(s * d * 1024.0D, 6))"))
          .as(Seq("dim", "t")))
        .groupBy("dim").agg(dsum(col("t")).as("ts"))
        .crossJoin(broadcast(nRow))
        .select(col("dim"), round(col("ts") / col("n").cast("double"), 6)
          .as(yName))
    def normalize(y: DataFrame, yName: String, vName: String): (DataFrame, DataFrame) = {
      val nrm = y.agg(round(sqrt(dsum(round(col(yName) * col(yName), 6))), 6)
        .as("nrm"))
      (y.crossJoin(broadcast(nrm))
        .select(col("dim"), round(col(yName) / col("nrm"), 6).as(vName)), nrm)
    }
    val v0 = spark.range(1)
      .select(expr(s"array_repeat(0.125d, $Dim)").as("v_arr"))
    val y1 = matvec(v0, "y1")
    val (v1, _) = normalize(y1, "y1", "v1")
    val y2 = matvec(toArr(v1, "v1", "v_arr"), "y2")
    val (v2, lambda) = normalize(y2, "y2", "v2")
    mu.join(v1, "dim").join(v2, "dim")
      .crossJoin(broadcast(lambda.select(
        round(col("nrm") / lit(1024.0), 6).as("lambda"))))
      .select(col("dim"), col("mu"), col("v1"), col("v2"), col("lambda"))
      .orderBy("dim")
  }

  /** L266 — operating-point table: precision / recall / F1 / accuracy
    * at the nine thresholds 0.1..0.9 (the table a model reviewer reads
    * AFTER the threshold-free AUC/AP to pick the deployment cutoff).
    * Same bounded-histogram contract as L242/L255: the corpus collapses
    * to the per-score frame once, then a 9-row threshold grid
    * broadcast-joins it (s ≥ t) and each operating point is four
    * exact-integer sums; ratios round-6 with the 0-prediction /
    * 0-denominator edges NULLed honestly rather than coerced to 0. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val perScore = scoredDocs(spark, dir).groupBy("s")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
    val tot = perScore.agg(sum(col("n_pos")).as("p_tot"),
      sum(col("n")).as("n_tot"))
    val grid = spark.range(1, 10)
      .select((col("id").cast("double") / 10.0).as("t"))
    val sums = perScore.join(broadcast(grid), col("s") >= col("t"), "inner")
      .groupBy("t")
      .agg(sum(col("n_pos")).as("tp0"),
        sum(col("n") - col("n_pos")).as("fp0"))
    grid.join(sums, Seq("t"), "left").crossJoin(broadcast(tot))
      .select(col("t").as("threshold"),
        coalesce(col("tp0"), lit(0L)).as("tp"),
        coalesce(col("fp0"), lit(0L)).as("fp"),
        col("p_tot"), col("n_tot"))
      .select(col("threshold"), col("tp"), col("fp"),
        (col("p_tot") - col("tp")).as("fn"),
        (col("n_tot") - col("p_tot") - col("fp")).as("tn"),
        when(col("tp") + col("fp") > 0, round(col("tp").cast("double") /
          (col("tp") + col("fp")).cast("double"), 6)).as("precision"),
        round(col("tp").cast("double") / col("p_tot").cast("double"), 6)
          .as("recall"),
        when(col("tp") > 0, round(lit(2.0) * col("tp").cast("double") /
          (col("tp") + col("fp") + col("p_tot")).cast("double"), 6)).as("f1"),
        round((col("tp") + col("n_tot") - col("p_tot") - col("fp"))
          .cast("double") / col("n_tot").cast("double"), 6).as("accuracy"))
      .orderBy("threshold")
  }

  /** L269 — per-dimension feature profile of the embedding corpus
    * (the feature-screening table a training pipeline reads before
    * whitening: mean / std / min / max / skewness / excess kurtosis
    * per dimension, plus the near-constant flag that marks dead
    * features). One posexplode scan → four raw power sums per dim
    * (map-combinable); central moments recovered from raw sums in the
    * 64-row frame. The ~0.1-magnitude entries are profiled in ×8
    * DYADIC-scaled space (exact exponent shift; x⁴ lands ~0.4 where
    * the round-6 grid is relatively fine, vs ~1e-4 raw where it is
    * 0.5% coarse) and descaled on output — skew/kurtosis are
    * scale-free and need no descaling at all. */
  def featureStats(spark: SparkSession, dir: String): DataFrame = {
    val agged = embeddings(spark, dir)
      .select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim", "x0")))
      .select(col("dim"), (col("x0") * 8.0).as("x"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        dsum(col("x")).as("s1"),
        dsum(round(col("x") * col("x"), 6)).as("s2"),
        dsum(round(col("x") * col("x") * col("x"), 6)).as("s3"),
        dsum(round(col("x") * col("x") * col("x") * col("x"), 6)).as("s4"),
        min(col("x")).as("mn"), max(col("x")).as("mx"))
    // the float expression TREES below mirror the oracle SQL exactly
    // (same associativity), so every double op rounds identically
    val nd = col("n").cast("double")
    val m = col("s1") / nd
    val r2 = col("s2") / nd
    val r3 = col("s3") / nd
    val r4 = col("s4") / nd
    val m2 = r2 - m * m
    val m3 = r3 - lit(3.0) * m * r2 + lit(2.0) * m * m * m
    val m4 = r4 - lit(4.0) * m * r3 + lit(6.0) * m * m * r2 -
      lit(3.0) * m * m * m * m
    val std8 = sqrt(greatest(m2, lit(0.0)))
    agged.select(col("dim"), col("n"),
        round(m / 8.0, 6).as("mean"),
        round(std8 / 8.0, 6).as("std"),
        round(col("mn") / 8.0, 6).as("min_v"),
        round(col("mx") / 8.0, 6).as("max_v"),
        round(m3 / (std8 * std8 * std8), 6).as("skewness"),
        round(m4 / (std8 * std8 * std8 * std8) - 3.0, 6).as("kurtosis_ex"),
        (std8 / 8.0 < 0.001).as("near_constant"))
      .orderBy("dim")
  }

  /** L282 — distributed k-fold cross-validation harness (k=5,
    * leave-fold-out in CLOSED FORM: because the baseline model is the
    * train mean, every fold's train statistic is recoverable from
    * per-fold aggregates alone — m_f = (S − s_f)/(N − n_f) — so the
    * "train on k−1 folds, test on 1" loop that naively rescans the
    * corpus k times is ONE aggregate pass + one deviation pass.
    * Fold assignment is the deterministic h48 split (the L110/L159
    * convention). Test RMSE per fold is computed per the L275 parity
    * rule: deviations scaled to thousand-units so every decimal cast
    * stays small-magnitude and midpoint-free; the fold-to-fold RMSE
    * spread is the stability readout. */
  /** L323 — learning curve of the L225 trend model (the classic
    * bias/variance diagnostic: train the same model on growing
    * fractions and plot train vs held-out error — converging curves
    * say "more data won't help", a persistent gap says variance;
    * the companion readout to L260's k-fold, which fixes the fraction
    * and varies the fold). Rows are hash-sharded into 10 deterministic
    * buckets (the L260 h48 contract); buckets 0..b−1 train, bucket 9
    * is the FIXED holdout. The whole curve costs ONE corpus scan: all
    * six OLS sums per bucket (decimal/int, order-free), cumulative
    * prefix sums over the 10-row bucket frame, and both RMSEs recovered
    * in closed form from the sums — SSE = Σy² − 2aΣy − 2βΣxy + na² +
    * 2aβΣx + β²Σxx — so NO residual re-scan per fraction (the naive
    * curve is b scans; this is the algebra production learning-curve
    * jobs use). y in revenue-thousands (L225 magnitude rule). */
  def learningCurve(spark: SparkSession, dir: String): DataFrame = {
    val B = 10
    val base = orders(spark, dir).select(
      datediff(col("o_orderdate").cast("date"),
        lit("1995-01-01").cast("date")).cast("long").as("x"),
      round(col("o_totalprice") / 1e3, 6).as("y"),
      (h48(col("o_orderkey").cast("string")) % B).as("g"))
    val perG = base.groupBy("g").agg(
      count(lit(1)).as("n_g"),
      sum(col("x")).as("sx_g"),
      sum(col("x") * col("x")).as("sxx_g"),
      sum(col("y").cast("decimal(18,6)")).as("sy_g"),
      sum(round(col("x") * col("y"), 6).cast("decimal(28,6)")).as("sxy_g"),
      sum(round(col("y") * col("y"), 6).cast("decimal(28,6)")).as("syy_g"))
    val wCum = Window.orderBy(col("g"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    def tst(c: String) = max(when(col("g") === B - 1, col(c))).over(wAll)
    val cum = perG
      .withColumn("n_t", sum(col("n_g")).over(wCum))
      .withColumn("sx_t", sum(col("sx_g")).over(wCum))
      .withColumn("sxx_t", sum(col("sxx_g")).over(wCum))
      .withColumn("sy_t", sum(col("sy_g")).over(wCum).cast("double"))
      .withColumn("sxy_t", sum(col("sxy_g")).over(wCum).cast("double"))
      .withColumn("syy_t", sum(col("syy_g")).over(wCum).cast("double"))
      .withColumn("n_h", tst("n_g"))
      .withColumn("sx_h", tst("sx_g"))
      .withColumn("sxx_h", tst("sxx_g"))
      .withColumn("sy_h", tst("sy_g").cast("double"))
      .withColumn("sxy_h", tst("sxy_g").cast("double"))
      .withColumn("syy_h", tst("syy_g").cast("double"))
      .where(col("g") < B - 1)
    val nd = col("n_t").cast("double")
    val sxd = col("sx_t").cast("double")
    val sxxd = col("sxx_t").cast("double")
    val beta = (nd * col("sxy_t") - sxd * col("sy_t")) /
      (nd * sxxd - sxd * sxd)
    val alpha = (col("sy_t") - beta * sxd) / nd
    def sse(n: org.apache.spark.sql.Column, sx: org.apache.spark.sql.Column,
        sxx: org.apache.spark.sql.Column, sy: org.apache.spark.sql.Column,
        sxy: org.apache.spark.sql.Column, syy: org.apache.spark.sql.Column) =
      syy - lit(2.0) * alpha * sy - lit(2.0) * beta * sxy +
        n * alpha * alpha + lit(2.0) * alpha * beta * sx +
        beta * beta * sxx
    cum.select(
        ((col("g") + 1) * 10).cast("int").as("frac_pct"),
        col("n_t").as("n_train"),
        round(beta, 6).as("slope"),
        round(alpha, 6).as("intercept"),
        round(sqrt(sse(nd, sxd, sxxd, col("sy_t"), col("sxy_t"),
          col("syy_t")) / nd), 6).as("rmse_train"),
        round(sqrt(sse(col("n_h").cast("double"),
          col("sx_h").cast("double"), col("sxx_h").cast("double"),
          col("sy_h"), col("sxy_h"), col("syy_h")) /
          col("n_h").cast("double")), 6).as("rmse_test"))
      .orderBy("frac_pct")
  }

  def kfoldCv(spark: SparkSession, dir: String): DataFrame = {
    val K = 5
    val base = orders(spark, dir).select(col("o_totalprice").as("y"),
      (h48(col("o_orderkey").cast("string")) % K).as("fold"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val folds = base.groupBy(col("fold"))
      .agg(count(lit(1)).as("n_test"), round(dsum(col("y")), 6).as("s_f"))
      .withColumn("n", sum(col("n_test")).over(wAll))
      .withColumn("s", round(sum(col("s_f").cast("decimal(18,6)")).over(wAll)
        .cast("double"), 6))
      .withColumn("train_mean", round((col("s") - col("s_f")) /
        (col("n") - col("n_test")).cast("double"), 2))
    val dev = (col("y") - col("train_mean")) / 1000.0
    base.join(broadcast(folds), Seq("fold"))
      .groupBy(col("fold"), col("n_test"), col("train_mean"))
      .agg(sum(round(dev * dev, 6).cast("decimal(28,6)")).as("ssq"))
      .select(col("fold"), col("n_test"), col("train_mean"),
        round(sqrt(col("ssq").cast("double") / col("n_test").cast("double")), 6)
          .as("rmse_k"))
      .orderBy("fold")
  }

  /** L297 — Davies–Bouldin cluster-quality index over the labeled
    * embedding space (Davies & Bouldin TPAMI 1979: for each cluster,
    * its worst-case (σᵢ+σⱼ)/d(cᵢ,cⱼ) against every other cluster,
    * averaged — LOW is good; the internal-validity score read beside
    * L215's silhouette before trusting a clustering, and the quality
    * gate on L117's SemDeDup cells). Everything is the exploded-join
    * formulation so both engines compute identical plans of scalars:
    * per-dim centroid means (decimal), member→centroid distances via
    * one (label, dim) equi-join + per-vector decimal sum (corpus-linear,
    * one shuffle), pairwise centroid distances from the 640-row
    * centroid frame self-joined on dim. All ratio frames are k-row
    * bounded. */
  def daviesBouldin(spark: SparkSession, dir: String): DataFrame = {
    val ex = embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("label"), col("dim"),
        col("x").cast("double").as("x"))
    val cent = ex.groupBy(col("label"), col("dim"))
      .agg(round(davg(col("x")), 6).as("m"))
    val dist = ex.join(cent, Seq("label", "dim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(round((col("x") - col("m")) * (col("x") - col("m")), 6)
        .cast("decimal(18,6)")).cast("double").as("d2"))
      .select(col("label"), round(sqrt(col("d2")), 6).as("d"))
    val sigma = dist.groupBy(col("label"))
      .agg(count(lit(1)).as("n"), round(davg(col("d")), 6).as("sigma"))
    val cd = cent.select(col("label").as("li"), col("dim"), col("m").as("mi"))
      .join(cent.select(col("label").as("lj"), col("dim"), col("m").as("mj")),
        Seq("dim"))
      .where(col("li") =!= col("lj"))
      .groupBy(col("li"), col("lj"))
      .agg(round(sqrt(sum(round((col("mi") - col("mj")) *
        (col("mi") - col("mj")), 6).cast("decimal(18,6)")).cast("double")), 6)
        .as("d_ij"))
    val r = cd
      .join(sigma.select(col("label").as("li"), col("sigma").as("si")), "li")
      .join(sigma.select(col("label").as("lj"), col("sigma").as("sj")), "lj")
      .select(col("li"), col("lj"),
        round((col("si") + col("sj")) / col("d_ij"), 6).as("r_ij"))
    val perI = r.groupBy(col("li").as("label"))
      .agg(max(col("r_ij")).as("r_max"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    sigma.join(perI, "label")
      .withColumn("db_index", round(sum(col("r_max").cast("decimal(18,6)"))
        .over(wAll).cast("double") / count(lit(1)).over(wAll).cast("double"),
        6))
      .select(col("label"), col("n"), col("sigma"), col("r_max"),
        col("db_index"))
      .orderBy("label")
  }

  /** L300 — cumulative gains / lift table by score decile (the
    * deployment-facing readout beside L242's AUC and L243's
    * calibration: "if I contact the top 30% by model score, what share
    * of all positives do I reach, and how much better than random is
    * that?" — the chart every targeting campaign is sized from).
    * Scale shape is the L242/L251 machinery verbatim: round-6 scores
    * collapse to the ≤10⁶-row distinct-score frame, cumulative counts
    * descend by score through [[PrefixScan]] (round 13 — formerly the
    * last unpartitioned cumsum window of the score family), and each
    * decile depth k = ⌈N·d/10⌉ is located INSIDE its straddling tie
    * group by linear interpolation (the Lorenz trick — tie-order-free
    * by construction). Corpus cost: one score-keyed agg; the decile
    * grid is a 10-row broadcast built from the scan's exact totals. */
  def gainsTable(spark: SparkSession, dir: String): DataFrame = {
    val byS = scoredDocs(spark, dir).groupBy(col("s"))
      .agg(count(lit(1)).as("c"), sum(col("y")).as("pos"))
      .withColumn("neg_s", -col("s"))
    val (scanned, tot) = PrefixScan(byS, Seq("neg_s"),
      sumsLong = Seq("c" -> "cum_n", "pos" -> "cum_pos"))
    val nTot = tot.longs("c")
    val pTot = tot.longs("pos")
    val frame = scanned
      .withColumn("n", lit(nTot)).withColumn("p", lit(pTot))
    val grid = spark.range(1, 11)
      .select(col("id").cast("int").as("decile"))
      .withColumn("k", expr(
        s"(CAST($nTot AS BIGINT) * CAST(decile AS BIGINT) + 9) div 10"))
    frame.join(broadcast(grid),
        col("cum_n") - col("c") < col("k") && col("k") <= col("cum_n"))
      .select(col("decile"), col("k").as("depth_n"),
        round((col("cum_pos") - col("pos")).cast("double") +
          (col("k") - (col("cum_n") - col("c"))).cast("double") *
            col("pos").cast("double") / col("c").cast("double"), 6)
          .as("pos_at_depth"),
        col("p"))
      .withColumn("gain", round(col("pos_at_depth") / col("p").cast("double"),
        6))
      .withColumn("lift", round(col("gain") * 10.0 /
        col("decile").cast("double"), 6))
      .drop("p")
      .orderBy("decile")
  }

  /** L303 — per-dimension feature drift between embedding halves (the
    * ML-ops standing monitor: PSI per FEATURE between the train-time
    * and serve-time distributions — the vector-space widening of
    * L200's scalar PSI and L273's streaming window form; a drifted
    * dimension is the first symptom of an upstream featurizer change).
    * Halves by vec_id parity (the deterministic stand-in for
    * train/serve cohorts); 10 fixed buckets over the audited value
    * range; Laplace-smoothed PSI per dimension, decimal-summed. One
    * explode scan + a (dim, bucket)-keyed aggregate — corpus-linear,
    * 64×10 bounded frames after. */
  def featureDrift(spark: SparkSession, dir: String): DataFrame = {
    val ex = embeddings(spark, dir)
      .select((col("vec_id") % 2).as("half"),
        posexplode(col("embedding")).as(Seq("dim", "xf")))
      .withColumn("x", col("xf").cast("double"))
      .withColumn("bucket", least(greatest(floor((col("x") + 0.6) / 0.12),
        lit(0.0)), lit(9.0)).cast("long"))
    val cells = ex.groupBy(col("dim"), col("bucket"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n1"))
    val wDim = Window.partitionBy(col("dim"))
    val p = (col("n0") + 1).cast("double") / (col("t0") + 10).cast("double")
    val q = (col("n1") + 1).cast("double") / (col("t1") + 10).cast("double")
    cells
      .withColumn("t0", sum(col("n0")).over(wDim))
      .withColumn("t1", sum(col("n1")).over(wDim))
      .withColumn("term", round((p - q) * round(log(p / q), 6), 6))
      .groupBy(col("dim"), col("t0"), col("t1"))
      .agg(round(sum(col("term").cast("decimal(18,6)")).cast("double"), 6)
        .as("psi"))
      .withColumn("drifted", col("psi") > 0.1)
      .select(col("dim"), col("t0").as("n_train"), col("t1").as("n_serve"),
        col("psi"), col("drifted"))
      .orderBy("dim")
  }

  private val Dim = 64

  /** DuckDB twin of [[scoredDocs]] (shared CTE text for the eval rows). */
  private val scoredSql =
    """scored AS (SELECT doc_id,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS y,
         round(1.0 / (1.0 + exp(-((-1.0)
           + (-1.5) * (CAST(n_chars AS DOUBLE) / 100.0)
           + 1.2 * (CAST(len(string_split(text, ' ')) AS DOUBLE) / 10.0)))),
           6) AS s
       FROM documents)"""

  val entries: Map[String, Op] = Map(
    "ml_feature_drift" -> Op(featureDrift,
      """WITH ex AS (SELECT vec_id % 2 AS half,
             CAST(unnest(range(0, len(embedding))) AS INT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings),
         bk AS (SELECT half, dim,
             CAST(LEAST(GREATEST(FLOOR((x + 0.6) / 0.12), 0), 9) AS BIGINT)
               AS bucket
           FROM ex),
         cells AS (SELECT dim, bucket,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
           FROM bk GROUP BY 1, 2),
         wt AS (SELECT *,
             CAST(SUM(n0) OVER (PARTITION BY dim) AS BIGINT) AS t0,
             CAST(SUM(n1) OVER (PARTITION BY dim) AS BIGINT) AS t1
           FROM cells),
         terms AS (SELECT dim, t0, t1,
             round((CAST(n0 + 1 AS DOUBLE) / CAST(t0 + 10 AS DOUBLE)
                 - CAST(n1 + 1 AS DOUBLE) / CAST(t1 + 10 AS DOUBLE))
               * round(ln((CAST(n0 + 1 AS DOUBLE) / CAST(t0 + 10 AS DOUBLE))
                 / (CAST(n1 + 1 AS DOUBLE) / CAST(t1 + 10 AS DOUBLE))), 6),
               6) AS term
           FROM wt),
         agg AS (SELECT dim, t0, t1,
             round(CAST(SUM(CAST(term AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS psi
           FROM terms GROUP BY 1, 2, 3)
         SELECT dim, t0 AS n_train, t1 AS n_serve, psi, psi > 0.1 AS drifted
         FROM agg ORDER BY dim"""),
    "ml_gains_table" -> Op(gainsTable,
      s"""WITH $scoredSql,
         bys AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(y) AS BIGINT) AS pos
           FROM scored GROUP BY 1),
         fr AS (SELECT *,
             CAST(SUM(c) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_n,
             CAST(SUM(pos) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_pos,
             CAST(SUM(c) OVER () AS BIGINT) AS n,
             CAST(SUM(pos) OVER () AS BIGINT) AS p
           FROM bys),
         grid AS (SELECT g.decile,
             (MAX(n) * g.decile + 9) // 10 AS k
           FROM fr, (SELECT unnest(generate_series(1, 10)) AS decile) g
           GROUP BY g.decile),
         j AS (SELECT decile, k AS depth_n,
             round(CAST(cum_pos - pos AS DOUBLE)
               + CAST(k - (cum_n - c) AS DOUBLE) * CAST(pos AS DOUBLE)
                 / CAST(c AS DOUBLE), 6) AS pos_at_depth,
             p
           FROM fr JOIN grid ON cum_n - c < k AND k <= cum_n)
         SELECT decile, depth_n, pos_at_depth,
           round(pos_at_depth / CAST(p AS DOUBLE), 6) AS gain,
           round(round(pos_at_depth / CAST(p AS DOUBLE), 6) * 10.0
             / CAST(decile AS DOUBLE), 6) AS lift
         FROM j ORDER BY decile"""),
    "ml_davies_bouldin" -> Op(daviesBouldin,
      s"""WITH ex AS (SELECT vec_id, label,
             CAST(unnest(range(0, len(embedding))) AS INT) AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS x
           FROM embeddings),
         cent AS (SELECT label, dim,
             round(${dsumSql("x")} / COUNT(x), 6) AS m
           FROM ex GROUP BY 1, 2),
         dist AS (SELECT vec_id, ex.label,
             round(sqrt(CAST(SUM(CAST(round((x - m) * (x - m), 6)
               AS DECIMAL(18,6))) AS DOUBLE)), 6) AS d
           FROM ex JOIN cent ON ex.label = cent.label AND ex.dim = cent.dim
           GROUP BY 1, 2),
         sigma AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
             round(${dsumSql("d")} / COUNT(d), 6) AS sigma
           FROM dist GROUP BY 1),
         cd AS (SELECT a.label AS li, b.label AS lj,
             round(sqrt(CAST(SUM(CAST(round((a.m - b.m) * (a.m - b.m), 6)
               AS DECIMAL(18,6))) AS DOUBLE)), 6) AS d_ij
           FROM cent a JOIN cent b ON a.dim = b.dim AND a.label != b.label
           GROUP BY 1, 2),
         r AS (SELECT li, lj,
             round((si.sigma + sj.sigma) / d_ij, 6) AS r_ij
           FROM cd JOIN sigma si ON cd.li = si.label
             JOIN sigma sj ON cd.lj = sj.label),
         peri AS (SELECT li AS label, MAX(r_ij) AS r_max FROM r GROUP BY 1),
         f AS (SELECT sigma.label, n, sigma, r_max,
             round(CAST(SUM(CAST(r_max AS DECIMAL(18,6))) OVER () AS DOUBLE)
               / CAST(COUNT(*) OVER () AS DOUBLE), 6) AS db_index
           FROM sigma JOIN peri ON sigma.label = peri.label)
         SELECT * FROM f ORDER BY label"""),
    "ml_learning_curve" -> Op(learningCurve, {
      val sseOf = (n: String, sx: String, sxx: String, sy: String,
          sxy: String, syy: String) =>
        s"""($syy - 2.0 * alpha * $sy - 2.0 * beta * $sxy
           + $n * alpha * alpha + 2.0 * alpha * beta * $sx
           + beta * beta * $sxx)"""
      s"""WITH base AS (SELECT
             CAST(datediff('day', CAST('1995-01-01' AS DATE),
               CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             round(o_totalprice / 1e3, 6) AS y,
             ${graft.Tables.h48Sql("CAST(o_orderkey AS VARCHAR)")} % 10 AS g
           FROM orders),
         perg AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(x) AS BIGINT) AS sx_g,
             CAST(SUM(x * x) AS BIGINT) AS sxx_g,
             SUM(CAST(y AS DECIMAL(18,6))) AS sy_g,
             SUM(CAST(round(x * y, 6) AS DECIMAL(28,6))) AS sxy_g,
             SUM(CAST(round(y * y, 6) AS DECIMAL(28,6))) AS syy_g
           FROM base GROUP BY 1),
         cum AS (SELECT g,
             CAST(SUM(n_g) OVER wc AS BIGINT) AS n_t,
             CAST(SUM(sx_g) OVER wc AS BIGINT) AS sx_t,
             CAST(SUM(sxx_g) OVER wc AS BIGINT) AS sxx_t,
             CAST(SUM(sy_g) OVER wc AS DOUBLE) AS sy_t,
             CAST(SUM(sxy_g) OVER wc AS DOUBLE) AS sxy_t,
             CAST(SUM(syy_g) OVER wc AS DOUBLE) AS syy_t,
             CAST(MAX(CASE WHEN g = 9 THEN n_g END) OVER () AS BIGINT)
               AS n_h,
             CAST(MAX(CASE WHEN g = 9 THEN sx_g END) OVER () AS BIGINT)
               AS sx_h,
             CAST(MAX(CASE WHEN g = 9 THEN sxx_g END) OVER () AS BIGINT)
               AS sxx_h,
             CAST(MAX(CASE WHEN g = 9 THEN sy_g END) OVER () AS DOUBLE)
               AS sy_h,
             CAST(MAX(CASE WHEN g = 9 THEN sxy_g END) OVER () AS DOUBLE)
               AS sxy_h,
             CAST(MAX(CASE WHEN g = 9 THEN syy_g END) OVER () AS DOUBLE)
               AS syy_h
           FROM perg
           WINDOW wc AS (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
             AND CURRENT ROW)),
         fit AS (SELECT *,
             (CAST(n_t AS DOUBLE) * sxy_t - CAST(sx_t AS DOUBLE) * sy_t)
               / (CAST(n_t AS DOUBLE) * CAST(sxx_t AS DOUBLE)
                 - CAST(sx_t AS DOUBLE) * CAST(sx_t AS DOUBLE)) AS beta
           FROM cum WHERE g < 9),
         ab AS (SELECT *,
             (sy_t - beta * CAST(sx_t AS DOUBLE)) / CAST(n_t AS DOUBLE)
               AS alpha
           FROM fit)
         SELECT CAST((g + 1) * 10 AS INT) AS frac_pct, n_t AS n_train,
           round(beta, 6) AS slope, round(alpha, 6) AS intercept,
           round(sqrt(${sseOf("CAST(n_t AS DOUBLE)", "CAST(sx_t AS DOUBLE)",
             "CAST(sxx_t AS DOUBLE)", "sy_t", "sxy_t", "syy_t")}
             / CAST(n_t AS DOUBLE)), 6) AS rmse_train,
           round(sqrt(${sseOf("CAST(n_h AS DOUBLE)", "CAST(sx_h AS DOUBLE)",
             "CAST(sxx_h AS DOUBLE)", "sy_h", "sxy_h", "syy_h")}
             / CAST(n_h AS DOUBLE)), 6) AS rmse_test
         FROM ab ORDER BY frac_pct"""
    }),
    "ml_kfold_cv" -> Op(kfoldCv,
      s"""WITH base AS (SELECT o_totalprice AS y,
             ${graft.Tables.h48Sql("CAST(o_orderkey AS VARCHAR)")} % 5 AS fold
           FROM orders),
         folds AS (SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_test,
             round(${dsumSql("y")}, 6) AS s_f
           FROM base GROUP BY 1),
         w AS (SELECT *,
             CAST(SUM(n_test) OVER () AS BIGINT) AS n,
             round(CAST(SUM(CAST(s_f AS DECIMAL(18,6))) OVER () AS DOUBLE), 6)
               AS s
           FROM folds),
         m AS (SELECT fold, n_test,
             round((s - s_f) / CAST(n - n_test AS DOUBLE), 2) AS train_mean
           FROM w),
         d AS (SELECT base.fold, n_test, train_mean,
             CAST(SUM(CAST(round(((y - train_mean) / 1000.0)
               * ((y - train_mean) / 1000.0), 6) AS DECIMAL(28,6)))
               AS DOUBLE) AS ssq
           FROM base JOIN m ON base.fold = m.fold
           GROUP BY 1, 2, 3)
         SELECT fold, n_test, train_mean,
           round(sqrt(ssq / CAST(n_test AS DOUBLE)), 6) AS rmse_k
         FROM d ORDER BY fold"""),
    "ml_feature_stats" -> Op(featureStats,
      s"""WITH xe AS (SELECT i - 1 AS dim,
             CAST(embedding[i] AS DOUBLE) * 8.0 AS x
           FROM embeddings CROSS JOIN
             (SELECT unnest(generate_series(1, $Dim)) AS i) g),
         a AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             ${dsumSql("x")} AS s1,
             ${dsumSql("round(x * x, 6)")} AS s2,
             ${dsumSql("round(x * x * x, 6)")} AS s3,
             ${dsumSql("round(x * x * x * x, 6)")} AS s4,
             MIN(x) AS mn, MAX(x) AS mx
           FROM xe GROUP BY 1),
         d AS (SELECT dim, n, mn, mx,
             s1 / CAST(n AS DOUBLE) AS m,
             s2 / CAST(n AS DOUBLE) AS r2,
             s3 / CAST(n AS DOUBLE) AS r3,
             s4 / CAST(n AS DOUBLE) AS r4
           FROM a),
         c AS (SELECT dim, n, mn, mx, m,
             sqrt(GREATEST(r2 - m * m, 0.0)) AS std8,
             r3 - 3.0 * m * r2 + 2.0 * m * m * m AS m3,
             r4 - 4.0 * m * r3 + 6.0 * m * m * r2 - 3.0 * m * m * m * m AS m4
           FROM d)
         SELECT dim, n, round(m / 8.0, 6) AS mean,
           round(std8 / 8.0, 6) AS std,
           round(mn / 8.0, 6) AS min_v, round(mx / 8.0, 6) AS max_v,
           round(m3 / (std8 * std8 * std8), 6) AS skewness,
           round(m4 / (std8 * std8 * std8 * std8) - 3.0, 6) AS kurtosis_ex,
           std8 / 8.0 < 0.001 AS near_constant
         FROM c ORDER BY dim"""),
    "ml_threshold_sweep" -> Op(thresholdSweep,
      s"""WITH $scoredSql,
         ps AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos
           FROM scored GROUP BY 1),
         tot AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS p_tot,
             CAST(SUM(n) AS BIGINT) AS n_tot FROM ps),
         grid AS (SELECT CAST(i AS DOUBLE) / 10.0 AS threshold
           FROM (SELECT unnest(generate_series(1, 9)) AS i)),
         sums AS (SELECT threshold, CAST(SUM(n_pos) AS BIGINT) AS tp0,
             CAST(SUM(n - n_pos) AS BIGINT) AS fp0
           FROM grid JOIN ps ON s >= threshold GROUP BY 1),
         j AS (SELECT threshold, COALESCE(tp0, 0) AS tp,
             COALESCE(fp0, 0) AS fp, p_tot, n_tot
           FROM grid LEFT JOIN sums USING (threshold), tot)
         SELECT threshold, tp, fp, p_tot - tp AS fn,
           n_tot - p_tot - fp AS tn,
           CASE WHEN tp + fp > 0 THEN
             round(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE), 6)
           END AS "precision",
           round(CAST(tp AS DOUBLE) / CAST(p_tot AS DOUBLE), 6) AS recall,
           CASE WHEN tp > 0 THEN round(2.0 * CAST(tp AS DOUBLE)
             / CAST(tp + fp + p_tot AS DOUBLE), 6) END AS f1,
           round(CAST(tp + n_tot - p_tot - fp AS DOUBLE)
             / CAST(n_tot AS DOUBLE), 6) AS accuracy
         FROM j ORDER BY threshold"""),
    "ml_avg_precision" -> Op(avgPrecision,
      s"""WITH $scoredSql,
         ps AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos
           FROM scored GROUP BY 1),
         rk AS (SELECT *,
             SUM(n_pos) OVER (ORDER BY s DESC) AS cum_pos,
             SUM(n) OVER (ORDER BY s DESC) AS cum_n,
             SUM(n_pos) OVER () AS p_tot,
             SUM(n) OVER () AS n_tot
           FROM ps),
         a AS (SELECT CAST(MAX(p_tot) AS BIGINT) AS n_pos,
             CAST(MAX(n_tot) - MAX(p_tot) AS BIGINT) AS n_neg,
             round(${dsumSql("round(CAST(n_pos AS DOUBLE) * CAST(cum_pos AS DOUBLE) / (CAST(p_tot AS DOUBLE) * CAST(cum_n AS DOUBLE)), 6)")}, 6)
               AS avg_precision
           FROM rk)
         SELECT n_pos, n_neg,
           round(CAST(n_pos AS DOUBLE) / CAST(n_pos + n_neg AS DOUBLE), 6)
             AS prevalence,
           avg_precision
         FROM a"""),
    "ml_pca_power" -> Op(pcaPower,
      s"""WITH x AS (SELECT vec_id,
             list_transform(embedding, t -> CAST(t AS DOUBLE)) AS e
           FROM embeddings),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x),
         xe AS (SELECT vec_id, i - 1 AS dim, e[i] AS xd
           FROM x CROSS JOIN (SELECT unnest(generate_series(1, $Dim)) AS i) g),
         mu AS (SELECT dim, round(${dsumSql("xd")} / COUNT(*), 6) AS mu
           FROM xe GROUP BY 1),
         m AS (SELECT list(mu ORDER BY dim) AS mu_arr FROM mu),
         s1 AS (SELECT vec_id, round(list_sum(list_transform(
             range(1, ${Dim + 1}), i -> (e[i] - mu_arr[i]) * 0.125)), 6) AS s
           FROM x, m),
         t1 AS (SELECT dim,
             round(${dsumSql("round(s1.s * (xe.xd - mu.mu) * 1024, 6)")}
               / (SELECT n FROM nn), 6) AS y1
           FROM xe JOIN mu USING (dim) JOIN s1 USING (vec_id) GROUP BY dim),
         n1 AS (SELECT round(sqrt(${dsumSql("round(y1 * y1, 6)")}), 6) AS nrm
           FROM t1),
         v1 AS (SELECT dim, round(y1 / nrm, 6) AS v1 FROM t1, n1),
         va1 AS (SELECT list(v1 ORDER BY dim) AS v_arr FROM v1),
         s2 AS (SELECT vec_id, round(list_sum(list_transform(
             range(1, ${Dim + 1}), i -> (e[i] - mu_arr[i]) * v_arr[i])), 6) AS s
           FROM x, m, va1),
         t2 AS (SELECT dim,
             round(${dsumSql("round(s2.s * (xe.xd - mu.mu) * 1024, 6)")}
               / (SELECT n FROM nn), 6) AS y2
           FROM xe JOIN mu USING (dim) JOIN s2 USING (vec_id) GROUP BY dim),
         l AS (SELECT round(sqrt(${dsumSql("round(y2 * y2, 6)")}), 6) AS nrm2
           FROM t2),
         v2 AS (SELECT dim, round(y2 / nrm2, 6) AS v2 FROM t2, l)
         SELECT mu.dim, mu.mu, v1.v1, v2.v2,
           (SELECT round(nrm2 / 1024.0, 6) FROM l) AS lambda
         FROM mu JOIN v1 USING (dim) JOIN v2 USING (dim) ORDER BY dim"""),
    "ml_average_precision" -> Op(averagePrecision,
      s"""WITH $scoredSql,
         ps AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS np
           FROM scored GROUP BY 1),
         cum AS (SELECT np,
             SUM(np) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS tp,
             SUM(n) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cum_n
           FROM ps),
         t AS (SELECT np,
             round(CAST(tp AS DOUBLE) / CAST(cum_n AS DOUBLE), 6) AS p_at
           FROM cum),
         tot AS (SELECT CAST(SUM(y) AS BIGINT) AS np_t,
             CAST(COUNT(*) AS BIGINT) AS n_t FROM scored)
         SELECT np_t AS n_pos, n_t - np_t AS n_neg,
           round(CAST(SUM(CAST(round(CAST(np AS DOUBLE) * p_at, 6)
               AS DECIMAL(18,6))) AS DOUBLE) / CAST(np_t AS DOUBLE), 6)
             AS average_precision
         FROM t, tot GROUP BY np_t, n_t HAVING np_t >= 1"""),
    "ml_auc_roc" -> Op(aucRoc,
      s"""WITH $scoredSql,
         ps AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos
           FROM scored GROUP BY 1),
         rk AS (SELECT *,
             SUM(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS cum
           FROM ps),
         m AS (SELECT n_pos, n, 2 * (cum - n) + n + 1 AS mid2 FROM rk),
         agg AS (SELECT CAST(SUM(n_pos) AS BIGINT) AS np,
             CAST(SUM(n - n_pos) AS BIGINT) AS nn,
             CAST(SUM(n_pos * mid2) AS BIGINT) AS sum_mid2
           FROM m)
         SELECT np AS n_pos, nn AS n_neg,
           round((CAST(sum_mid2 AS DOUBLE) / 2.0 -
               CAST(np AS DOUBLE) * CAST(np + 1 AS DOUBLE) / 2.0) /
             CAST(np * nn AS DOUBLE), 6) AS auc,
           round(2.0 * round((CAST(sum_mid2 AS DOUBLE) / 2.0 -
               CAST(np AS DOUBLE) * CAST(np + 1 AS DOUBLE) / 2.0) /
             CAST(np * nn AS DOUBLE), 6) - 1.0, 6) AS gini
         FROM agg"""),
    "ml_brier_decomposition" -> Op(brierDecomposition,
      s"""WITH $scoredSql,
         b AS (SELECT LEAST(CAST(floor(s * 10) AS BIGINT), 9) AS bin, s, y
           FROM scored),
         g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_k,
             round(${dsumSql("s")} / CAST(COUNT(*) AS DOUBLE), 6) AS sbar_k,
             CAST(SUM(y) AS BIGINT) AS y_k,
             round(${dsumSql("round((s - y) * (s - y), 6)")}, 6) AS se_k
           FROM b GROUP BY 1),
         w AS (SELECT *,
             round(CAST(y_k AS DOUBLE) / CAST(n_k AS DOUBLE), 6) AS ybar_k,
             CAST(SUM(n_k) OVER () AS BIGINT) AS n,
             round(CAST(SUM(y_k) OVER () AS DOUBLE)
               / CAST(SUM(n_k) OVER () AS DOUBLE), 6) AS ybar
           FROM g),
         t AS (SELECT n, ybar, se_k,
             round(CAST(n_k AS DOUBLE) * (sbar_k - ybar_k)
               * (sbar_k - ybar_k), 6) AS rel_t,
             round(CAST(n_k AS DOUBLE) * (ybar_k - ybar)
               * (ybar_k - ybar), 6) AS res_t
           FROM w),
         a AS (SELECT MAX(n) AS n_docs,
             round(${dsumSql("se_k")} / CAST(MAX(n) AS DOUBLE), 6) AS brier,
             MAX(ybar) AS mean_y,
             round(${dsumSql("rel_t")} / CAST(MAX(n) AS DOUBLE), 6)
               AS reliability,
             round(${dsumSql("res_t")} / CAST(MAX(n) AS DOUBLE), 6)
               AS resolution
           FROM t)
         SELECT n_docs, brier, mean_y, reliability, resolution,
           round(mean_y * (1.0 - mean_y), 6) AS uncertainty,
           round(brier - (reliability - resolution
             + round(mean_y * (1.0 - mean_y), 6)), 6) AS decomp_gap
         FROM a"""),
    "ml_farthest_first" -> Op(farthestFirstInit, {
      val dotSC = dotSql("s.embedding", "c.embedding")
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         sq AS (SELECT vec_id, embedding, ${sumSqSql("embedding")} AS aa
           FROM e),
         c0 AS (SELECT vec_id, embedding, aa AS cc FROM sq
           ORDER BY vec_id LIMIT 1),
         d0 AS (SELECT s.vec_id,
             round(s.aa + c.cc - 2.0 * $dotSC, 6) AS d2
           FROM sq s, c0 c),
         p1 AS (SELECT vec_id, d2 FROM d0 ORDER BY d2 DESC, vec_id LIMIT 1),
         c1 AS (SELECT s.vec_id, s.embedding, s.aa AS cc
           FROM sq s JOIN p1 USING (vec_id)),
         d1 AS (SELECT s.vec_id,
             LEAST(d0.d2, round(s.aa + c.cc - 2.0 * $dotSC, 6)) AS d2
           FROM sq s JOIN d0 ON s.vec_id = d0.vec_id, c1 c),
         p2 AS (SELECT vec_id, d2 FROM d1 ORDER BY d2 DESC, vec_id LIMIT 1),
         c2 AS (SELECT s.vec_id, s.embedding, s.aa AS cc
           FROM sq s JOIN p2 USING (vec_id)),
         d2c AS (SELECT s.vec_id,
             LEAST(d1.d2, round(s.aa + c.cc - 2.0 * $dotSC, 6)) AS d2
           FROM sq s JOIN d1 ON s.vec_id = d1.vec_id, c2 c),
         p3 AS (SELECT vec_id, d2 FROM d2c ORDER BY d2 DESC, vec_id LIMIT 1)
         SELECT CAST(0 AS INT) AS pick_round, vec_id, 0.0 AS min_d2 FROM c0
         UNION ALL SELECT CAST(1 AS INT), vec_id, d2 FROM p1
         UNION ALL SELECT CAST(2 AS INT), vec_id, d2 FROM p2
         UNION ALL SELECT CAST(3 AS INT), vec_id, d2 FROM p3
         ORDER BY pick_round"""
    }),
    "ml_ndcg" -> Op(ndcg,
      s"""WITH $scoredSql,
         top AS (SELECT y, row_number() OVER (ORDER BY s DESC, doc_id) AS i
           FROM scored ORDER BY s DESC, doc_id LIMIT 20),
         tt AS (SELECT i,
             round(CAST(y AS DOUBLE) / log2(CAST(i + 1 AS DOUBLE)), 6) AS term
           FROM top),
         d AS (SELECT
             round(${dsumSql("CASE WHEN i <= 5 THEN term END")}, 6) AS dcg_5,
             round(${dsumSql("CASE WHEN i <= 10 THEN term END")}, 6) AS dcg_10,
             round(${dsumSql("CASE WHEN i <= 20 THEN term END")}, 6) AS dcg_20
           FROM tt),
         np AS (SELECT CAST(SUM(y) AS BIGINT) AS n_pos FROM scored),
         ii AS (SELECT n_pos, UNNEST(range(1, LEAST(20, n_pos) + 1)) AS i
           FROM np),
         it AS (SELECT n_pos, i,
             round(1.0 / log2(CAST(i + 1 AS DOUBLE)), 6) AS term
           FROM ii),
         idl AS (SELECT n_pos,
             round(${dsumSql("CASE WHEN i <= 5 THEN term END")}, 6) AS idcg_5,
             round(${dsumSql("CASE WHEN i <= 10 THEN term END")}, 6) AS idcg_10,
             round(${dsumSql("CASE WHEN i <= 20 THEN term END")}, 6) AS idcg_20
           FROM it GROUP BY n_pos),
         u AS (SELECT * FROM d, idl),
         rows_k AS (
           SELECT 5 AS k, n_pos, dcg_5 AS dcg, idcg_5 AS idcg FROM u
           UNION ALL
           SELECT 10 AS k, n_pos, dcg_10 AS dcg, idcg_10 AS idcg FROM u
           UNION ALL
           SELECT 20 AS k, n_pos, dcg_20 AS dcg, idcg_20 AS idcg FROM u)
         SELECT k, n_pos, dcg, idcg, round(dcg / idcg, 6) AS ndcg
         FROM rows_k ORDER BY k"""),
    "ml_cohens_kappa" -> Op(cohensKappa,
      s"""WITH $scoredSql,
         cm AS (SELECT
             CAST(SUM(CASE WHEN s >= 0.5 AND y = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN s >= 0.5 AND y = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN s < 0.5 AND y = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN s < 0.5 AND y = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS tn
           FROM scored),
         d AS (SELECT *,
             CAST(tp + fp + fn + tn AS DOUBLE) AS n,
             CAST(tp + tn AS DOUBLE) / CAST(tp + fp + fn + tn AS DOUBLE)
               AS po,
             CAST((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn) AS DOUBLE)
               / (CAST(tp + fp + fn + tn AS DOUBLE)
                 * CAST(tp + fp + fn + tn AS DOUBLE)) AS pe
           FROM cm)
         SELECT tp, fp, fn, tn,
           round(po, 6) AS accuracy,
           round((po - pe) / (1.0 - pe), 6) AS kappa,
           round(CAST(tp * tn - fp * fn AS DOUBLE)
             / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
               * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)), 6)
             AS mcc
         FROM d"""),
    "ml_calibration_bins" -> Op(calibrationBins,
      s"""WITH $scoredSql,
         b AS (SELECT LEAST(CAST(floor(s * 10) AS BIGINT), 9) AS bin, s, y
           FROM scored),
         g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             round(${dsumSql("s")} / COUNT(s), 6) AS mean_pred,
             CAST(SUM(y) AS BIGINT) AS n_pos
           FROM b GROUP BY 1)
         SELECT bin, n, mean_pred, n_pos,
           round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac_pos,
           round(mean_pred - round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6),
             6) AS gap
         FROM g ORDER BY bin"""),
    "ml_chi2_terms" -> Op(chi2Terms,
      """WITH dw AS (SELECT DISTINCT doc_id, lang, u.word
           FROM documents, LATERAL (SELECT unnest(string_split(text, ' '))
             AS word) u),
         a AS (SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS a
           FROM dw GROUP BY 1, 2),
         wdf AS (SELECT word, CAST(SUM(a) AS BIGINT) AS df_w
           FROM a GROUP BY 1),
         cn AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_c
           FROM documents GROUP BY 1),
         t AS (SELECT a.word, a.lang, a.a,
             wdf.df_w - a.a AS b, cn.n_c - a.a AS c,
             (SELECT COUNT(*) FROM documents) - cn.n_c - (wdf.df_w - a.a) AS d,
             (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS n
           FROM a JOIN wdf USING (word) JOIN cn USING (lang))
         SELECT word, lang, a, CAST(b AS BIGINT) AS b, CAST(c AS BIGINT) AS c,
           CAST(d AS BIGINT) AS d,
           round(n * CAST(a * d - b * c AS DOUBLE)
               * CAST(a * d - b * c AS DOUBLE) /
             (CAST((a + b) * (c + d) AS DOUBLE)
               * CAST((a + c) * (b + d) AS DOUBLE)), 6) AS chi2
         FROM t ORDER BY chi2 DESC, word ASC, lang ASC LIMIT 20"""),
    "ml_naive_bayes" -> Op(naiveBayes,
      """WITH train AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 <> 0),
         test AS (SELECT doc_id, lang, text FROM documents WHERE doc_id % 5 = 0),
         ttok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM train),
         cls AS (SELECT t.lang, t.n_tok, d.n_docs
           FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_tok FROM ttok GROUP BY 1) t
           JOIN (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM train GROUP BY 1) d
             USING (lang)),
         ntr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM train),
         voc AS (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) AS v FROM ttok),
         cw AS (SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM ttok GROUP BY 1, 2),
         grid AS (SELECT c.lang, tw.word,
             round(ln(CAST(COALESCE(cw.cnt, 0) + 1 AS DOUBLE)
               / CAST(c.n_tok + voc.v AS DOUBLE)), 6) AS term
           FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS word FROM test) tw
           CROSS JOIN cls c
           LEFT JOIN cw ON cw.lang = c.lang AND cw.word = tw.word
           CROSS JOIN voc),
         prior AS (SELECT lang,
             round(ln(CAST(n_docs AS DOUBLE) / CAST(ntr.n_train AS DOUBLE)), 6) AS prior
           FROM cls CROSS JOIN ntr),
         stok AS (SELECT doc_id, lang AS lang_true,
             unnest(string_split(text, ' ')) AS word FROM test),
         sc AS (SELECT s.doc_id, s.lang_true, g.lang AS lang_c,
             SUM(CAST(g.term AS DECIMAL(18,6))) + CAST(p.prior AS DECIMAL(18,6)) AS score
           FROM stok s JOIN grid g ON g.word = s.word
           JOIN prior p ON p.lang = g.lang
           GROUP BY s.doc_id, s.lang_true, g.lang, p.prior),
         best AS (SELECT doc_id, lang_true, lang_c,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY score DESC, lang_c ASC) AS rn
           FROM sc)
         SELECT lang_true, lang_c AS lang_pred, CAST(COUNT(*) AS BIGINT) AS n
         FROM best WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2"""),
    "ml_gini_split" -> Op(giniSplit,
      """WITH ev AS (SELECT LEAST(CAST(FLOOR(value / 20.0) AS BIGINT), 9) AS b,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
           FROM events),
         hist AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS np FROM ev GROUP BY 1),
         cum AS (SELECT b,
             CAST(SUM(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_left,
             CAST(SUM(np) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pos_left,
             CAST(SUM(n) OVER () AS BIGINT) AS n_tot,
             CAST(SUM(np) OVER () AS BIGINT) AS pos_tot
           FROM hist),
         cand AS (SELECT 20 * (b + 1) AS threshold, n_left, pos_left,
             n_tot - n_left AS n_right, pos_tot - pos_left AS pos_right
           FROM cum WHERE n_left < n_tot),
         g AS (SELECT threshold, n_left, pos_left, n_right, pos_right,
             round((CAST(n_left AS DOUBLE) * (1.0 -
                 (CAST(pos_left AS DOUBLE) * CAST(pos_left AS DOUBLE)
                  + CAST(n_left - pos_left AS DOUBLE) * CAST(n_left - pos_left AS DOUBLE))
                 / (CAST(n_left AS DOUBLE) * CAST(n_left AS DOUBLE)))
               + CAST(n_right AS DOUBLE) * (1.0 -
                 (CAST(pos_right AS DOUBLE) * CAST(pos_right AS DOUBLE)
                  + CAST(n_right - pos_right AS DOUBLE) * CAST(n_right - pos_right AS DOUBLE))
                 / (CAST(n_right AS DOUBLE) * CAST(n_right AS DOUBLE))))
               / CAST(n_left + n_right AS DOUBLE), 6) AS wgini
           FROM cand)
         SELECT threshold, n_left, pos_left, n_right, pos_right, wgini,
           ROW_NUMBER() OVER (ORDER BY wgini ASC, threshold ASC) = 1 AS is_best
         FROM g ORDER BY threshold"""),
    "ml_logreg_gradient" -> Op(logregGradient, {
      val z = "(0.1 * 1.0 + (-0.05) * x2 + 0.02 * x3)"
      s"""WITH d AS (SELECT CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             1.0 AS x1, CAST(n_chars AS DOUBLE) / 100.0 AS x2,
             CAST(len(string_split(text, ' ')) AS DOUBLE) / 10.0 AS x3
           FROM documents),
         r AS (SELECT y, x1, x2, x3,
             1.0 / (1.0 + exp(-$z)) AS p FROM d),
         terms AS (
           SELECT 1 AS feature, round((p - y) * x1, 6) AS t, 0.1 AS w_old FROM r
           UNION ALL SELECT 2, round((p - y) * x2, 6), -0.05 FROM r
           UNION ALL SELECT 3, round((p - y) * x3, 6), 0.02 FROM r),
         g AS (SELECT feature, CAST(COUNT(*) AS BIGINT) AS n,
             ${dsumSql("t")} AS gs, w_old
           FROM terms GROUP BY feature, w_old)
         SELECT feature, n, round(gs, 6) AS grad_sum,
           round(gs / CAST(n AS DOUBLE), 6) AS grad_mean, w_old,
           round(w_old - 0.1 * round(gs / CAST(n AS DOUBLE), 6), 6) AS w_new
         FROM g ORDER BY feature"""
    }),
    "llm_silhouette" -> Op(silhouette, {
      val dist = (a: String, b: String) =>
        s"sqrt(list_sum(list_transform(range(1,${Dim + 1}), " +
          s"i -> (CAST($a[i] AS DOUBLE) - $b[i]) * (CAST($a[i] AS DOUBLE) - $b[i]))))"
      s"""WITH ex AS (SELECT label, vec_id, embedding FROM embeddings),
         cpos AS (SELECT label, i.pos,
             ${dsumSql("embedding[i.pos]")} / CAST(COUNT(*) AS DOUBLE) AS c
           FROM ex, (SELECT unnest(range(1,${Dim + 1})) AS pos) i
           GROUP BY label, i.pos),
         cent AS (SELECT label AS cluster,
             list(c ORDER BY pos) AS cemb FROM cpos GROUP BY label),
         dists AS (SELECT e.vec_id, e.label, c.cluster,
             round(${dist("e.embedding", "c.cemb")}, 6) AS dist
           FROM ex e CROSS JOIN cent c),
         ab AS (SELECT vec_id, label,
             MAX(CASE WHEN cluster = label THEN dist END) AS a,
             MIN(CASE WHEN cluster <> label THEN dist END) AS b
           FROM dists GROUP BY 1, 2),
         s AS (SELECT label, round((b - a) / GREATEST(a, b), 6) AS s FROM ab)
         SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
           round(${dsumSql("s")} / CAST(COUNT(*) AS DOUBLE), 6) AS avg_sil,
           round(MIN(s), 6) AS min_sil, round(MAX(s), 6) AS max_sil
         FROM s GROUP BY label ORDER BY label""".stripMargin
    }),
  )
}
