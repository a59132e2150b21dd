package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-pipeline widening (rounds 3–5): TF-IDF term scoring, corpus-level
  * token frequency (the Zipf table every tokenizer build starts from),
  * PII redaction, connected-components clustering of near-duplicate
  * pairs (the step after pair generation that every dedup pipeline needs:
  * pairs → clusters → keep one representative per cluster), repetition
  * quality filtering, BPE pair counting, and context-window packing.
  *
  * Scale notes (100 TB):
  *  - TF-IDF and wordcount are explode → partial-aggregated groupBys —
  *    the canonical map-side-combine shape; the corpus size N joins in as
  *    a broadcast of a 1-row aggregate, never a driver-side collect.
  *  - PII redaction is row-local regexp (whole-stage codegen'd), zero
  *    shuffles — exactly the shape a 100 TB scrub pass needs.
  *  - Connected components runs Pregel-style min-label propagation:
  *    O(component diameter) rounds, each one join + one aggregate on the
  *    (tiny relative to corpus) candidate-pair edge set, with
  *    `localCheckpoint` truncating lineage between rounds. Edges here
  *    come from the Jaccard pair generator; at warehouse scale the same
  *    loop consumes MinHash-LSH candidate pairs (llm_dedup_near) —
  *    the loop is agnostic to the pair source.
  */
object Llm3 {

  private def wordsOf(df: DataFrame) =
    df.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))

  /** TF-IDF top terms: score = tf · ln((N+1)/(df+1)) (smoothed IDF), top-3
    * terms per document for the first 30 docs (output bound only — tf and
    * df are computed over the FULL corpus). Ranking and output use the
    * 6dp-rounded score so cross-engine double noise cannot reorder. */
  def tfidfTopterms(spark: SparkSession, dir: String): DataFrame = {
    val w = wordsOf(documents(spark, dir))
    val tf = w.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    // r18 probe, rejected change: rewriting df as tf.groupBy(word).count
    // and pre-filtering tf to doc_id < 30 produces a PLAN-ISOMORPHIC
    // query (Catalyst already folds w.distinct().groupBy into the same
    // two-phase aggregate and pushes the readout filter through the
    // join) — plans/r18/llm_tfidf_topterms_{before,after}.txt differ
    // only in expression ids. The key's loaded-run cost is its 16
    // exchanges' stage latency, inherent to tf/df over one corpus.
    val dfreq = w.distinct().groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, "word").crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"),
        round(col("tf").cast("double") *
          log((col("n_docs") + lit(1)).cast("double") / (col("df") + lit(1)).cast("double")),
          6).as("tfidf"))
    val rk = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word").asc)
    scored.where(col("doc_id") < 30)
      .withColumn("rn", row_number().over(rk)).where(col("rn") <= 3)
      .select(col("doc_id"), col("rn"), col("word"), col("tfidf"))
      .orderBy("doc_id", "rn")
  }

  /** Corpus token frequency top-20 (Zipf head): the global wordcount that
    * seeds tokenizer vocabularies. Partial aggregation collapses each
    * partition's counts before the single shuffle on the word key. */
  def wordcountTop20(spark: SparkSession, dir: String): DataFrame =
    wordsOf(documents(spark, dir))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(20)

  /** L335 — nucleus (top-p) vocabulary selection (the tokenizer-build
    * step after L56's raw wordcount: the SMALLEST count-ranked prefix
    * of the vocabulary covering ≥90% of corpus token mass — the
    * coverage-targeted sibling of L241's fixed top-K cut, and the same
    * rule nucleus sampling applies to logits at inference). Inclusion
    * in exact integers: keep a word while 10·cum_prev < 9·total (the
    * minimal-prefix convention — the word that CROSSES the threshold is
    * kept). The cumulative-mass-and-rank pass runs through
    * [[PrefixScan]] over the vocabulary-grain frame ordered by
    * (count desc, word) — vocabulary grows with the corpus (millions of
    * types at 100 TB), so the running sum is the distributed two-pass
    * scan, never a single-partition window; the corpus itself is
    * touched only by the wordcount aggregate. */
  def vocabNucleus(spark: SparkSession, dir: String): DataFrame = {
    val counts = wordsOf(documents(spark, dir))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .withColumn("neg_cnt", -col("cnt"))
      .withColumn("one", lit(1L))
    val (cum, tot) = PrefixScan(counts, Seq("neg_cnt", "word"),
      sumsLong = Seq("cnt" -> "cum_mass", "one" -> "rank"))
    val total = tot.longs("cnt")
    cum.where(lit(10L) * (col("cum_mass") - col("cnt")) < lit(9L * total))
      .select(col("rank"), col("word"), col("cnt"),
        round(col("cum_mass").cast("double") / lit(total).cast("double"), 6)
          .as("cum_share"))
      .orderBy("rank")
  }

  /** PII redaction pass (row-local scrub): digits masked to '#', digit
    * count and a stable fingerprint retained for audit joins. The same
    * shape extends to a bank of email/phone/ssn regexes at scale. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .select(col("c_custkey"),
        regexp_replace(col("c_name"), "[0-9]", "#").as("masked_name"),
        length(regexp_replace(col("c_name"), "[^0-9]", "")).as("n_digits"),
        substring(md5(col("c_name")), 1, 8).as("name_fp"))
      .orderBy("c_custkey")

  /** Near-duplicate CLUSTERS over the WHOLE corpus: banded MinHash
    * candidates ([[Llm.nearCandidates]] — the llm_dedup_near machinery,
    * band value as the shuffle key, pair volume ∝ actual collisions) →
    * exact integer Jaccard ≥ 9/10 verification (candidate-proportional,
    * the L112 contract) → connected components by min-label propagation
    * with a pointer-doubling compress half-step (O(log diameter)
    * rounds) → (doc, cluster, cluster_size). Round 12 lifted the old
    * `doc_id < 50` pair-gen bound (VERDICT r11 #4): the bound existed
    * so the DuckDB oracle's transitive closure stayed tractable over an
    * all-pairs word join — the oracle now mirrors the banding, so its
    * closure also sees only the (collision-proportional) verified edge
    * set and runs corpus-wide. The operator contract is therefore the
    * published RefinedWeb/FineWeb shape: clusters over banded MinHash
    * candidates, not over the (unscalable) exhaustive pair set — a
    * J ≥ 0.9 pair missed by all 4 bands (P ≈ 0.1% at J = 0.9, falling
    * fast toward J = 1) lands in separate clusters in BOTH engines. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClustersAt(spark, dir, parallelism = 0)

  /** Edge-count ceiling for the driver union-find fast path (~16 MB of
    * longs at the cap — well inside boundedCollect territory). */
  private[graft] val DriverUfCap = 500000

  /** Pointer-doubling round budget for [[componentLabelsDf]]'s
    * distributed path. Label propagation with the compress half-step
    * converges in O(log diameter) rounds, so 60 covers any component a
    * physical graph can produce (diameter ~2⁶⁰); the `require` below
    * names this constant so a hypothetical raise is one edit. */
  private[graft] val PregelRoundBudget = 60

  /** Component labels (node → min member) for every node APPEARING IN
    * an edge `(d1, d2)`, as a DataFrame `(node, label)` — the one
    * connected-components kernel (dedup clusters, co-purchase
    * components, golden-record clusters, DBSCAN). Below [[DriverUfCap]]
    * edges the labels come from the driver union-find over a capped
    * collect (a few-hundred-edge graph spends ~10× its own cost on
    * Pregel job scheduling); above it, or whenever `parallelism` > 0,
    * from min-label propagation with a pointer-doubling compress
    * half-step (Kiveris et al., SoCC 2014: O(log diameter) rounds), run
    * to the fixpoint within [[PregelRoundBudget]] rounds. The fixpoint
    * is the componentwise MIN, so both paths return the same rows.
    * Callers left-join and label isolated nodes themselves; Round13Spec
    * pins the two paths row-identical on the fixture edge set.
    * @param parallelism 0 = choose the path by edge count, Pregel rounds
    *   at `defaultParallelism` partitions; > 0 = force the Pregel loop
    *   at that many node-keyed partitions. */
  private[graft] def componentLabelsDf(spark: SparkSession,
      edges: DataFrame, parallelism: Int = 0): DataFrame = {
    import spark.implicits._
    // small path first, in ONE job: a capped collect that reports
    // overflow replaces the former checkpoint + size-probe count +
    // boundedCollect trio (3 eager jobs → 1; the barrier latency was
    // the measured floor of the iterative cluster keys under load).
    // On overflow (deployment-scale edge sets) the Pregel path below
    // recomputes the edge frame once into its own checkpoint.
    if (parallelism == 0) {
      collectWithin(edges.select(col("d1"), col("d2"))
        .as[(Long, Long)], DriverUfCap).foreach { es =>
        return unionFindMinLabels(es).toSeq.toDF("node", "label")
      }
    }
    val edgesCk = edges.select(col("d1"), col("d2")).localCheckpoint()
    val p = if (parallelism > 0) parallelism
      else spark.sparkContext.defaultParallelism
    def part(df: DataFrame, key: String): DataFrame =
      df.repartition(p, col(key))
    val und = part(edgesCk.union(
      edgesCk.select(col("d2").as("d1"), col("d1").as("d2"))), "d1")
      .localCheckpoint()
    // min-neighbor seed = the first propagation round for free
    var labels = part(und.groupBy(col("d1")).agg(min(col("d2")).as("nb0"))
      .select(col("d1").as("node"),
        least(col("d1"), col("nb0")).as("label")), "node")
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < PregelRoundBudget) {
      val nb = und.join(labels, col("d2") === col("node"))
        .groupBy(col("d1")).agg(min(col("label")).as("nb_min"))
      // carry the previous label through the round so convergence is a
      // filter over the already-materialized checkpoint
      val prop = labels.join(nb, col("node") === col("d1"), "left")
        .select(col("node"), col("label").as("prev_label"),
          least(col("label"), coalesce(col("nb_min"), col("label"))).as("label"))
      // pointer-doubling compress: follow each label to ITS label, so a
      // chain of length d resolves in O(log d) rounds, not O(d).
      // Re-apply the node partitioning before checkpointing so every
      // round's `und ⋈ labels` reuses the seed frame's layout instead of
      // re-shuffling labels that drifted onto the join-output partitioning
      val next = part(prop
        .join(prop.select(col("node").as("lk"), col("label").as("l2")),
          col("label") === col("lk"), "left")
        .select(col("node"), col("prev_label"),
          coalesce(col("l2"), col("label")).as("label")), "node")
        .localCheckpoint()
      converged = next.where(col("label") =!= col("prev_label")).limit(1).count() == 0
      labels = next.select(col("node"), col("label"))
      iter += 1
    }
    require(converged,
      s"connected-components did not converge within $PregelRoundBudget " +
        "pointer-doubling rounds — component diameter exceeds the " +
        "budget; raise PregelRoundBudget")
    labels
  }

  /** Driver-side union-find with path compression; returns node →
    * (min member of its component) for every node that appears in an
    * edge (isolated docs label themselves at the join site). */
  private def unionFindMinLabels(
      es: Array[(Long, Long)]): collection.Map[Long, Long] = {
    val parent = collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent(c); parent(c) = r; c = nxt
      }
      r
    }
    es.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      parent.getOrElseUpdate(math.min(ra, rb), math.min(ra, rb))
    }
    // root chosen as min at every union, so find(x) IS the min member
    val out = collection.mutable.HashMap.empty[Long, Long]
    es.foreach { case (a, b) => out(a) = find(a); out(b) = find(b) }
    out
  }

  /** [[dedupClusters]] with explicit round parallelism.
    * @param parallelism passed to [[componentLabelsDf]]: 0 = driver
    *   union-find below [[DriverUfCap]] edges, else the Pregel loop at
    *   `defaultParallelism` partitions; > 0 = the Pregel loop at that
    *   many partitions, hash-partitioned on the node key. */
  def dedupClustersAt(spark: SparkSession, dir: String, parallelism: Int): DataFrame = {
    val docs = documents(spark, dir)
    // checkpoint the (tiny, banding-proportional) candidate set once so
    // the involved-doc id frame and the verify join read it without
    // re-running the whole MinHash pipeline
    val cand = Llm.nearCandidates(spark, dir)
      .select(col("doc1").as("d1"), col("doc2").as("d2"))
      .localCheckpoint()
    // verification is candidate-proportional END TO END: only docs that
    // appear in a candidate pair are exploded into words (semi-join
    // BEFORE the explode — at any corpus size the verify stage costs
    // O(candidate docs), never O(corpus))
    val ids = cand.select(explode(array(col("d1"), col("d2"))).as("doc_id"))
      .distinct()
    val w = docs.join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("word"))
    val sizes = w.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val edges = cand
      .join(w.as("w1"), col("d1") === col("w1.doc_id"))
      .join(w.as("w2"),
        col("d2") === col("w2.doc_id") && col("w1.word") === col("w2.word"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.as("z1"), col("d1") === col("z1.doc_id"))
      .join(sizes.as("z2"), col("d2") === col("z2.doc_id"))
      .where(lit(10) * col("inter") >=
        lit(9) * (col("z1.sz") + col("z2.sz") - col("inter")))
      .select(col("d1"), col("d2"))
    // docs in no verified pair label themselves. The verified edge set
    // is banding-proportional (413 edges at sf0.1: the driver union-find
    // path, 0.1 s against 2.6 s for the Pregel loop); Round12Spec pins
    // the two paths row-identical and ScaleRehearsalSpec drives the
    // Pregel form at 10x replica density.
    val cw = Window.partitionBy(col("cluster"))
    docs.select(col("doc_id"))
      .join(componentLabelsDf(spark, edges, parallelism)
        .select(col("node").as("doc_id"), col("label").as("cl")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cl"), col("doc_id")).as("cluster"))
      .withColumn("cluster_size", count(lit(1)).over(cw))
      .orderBy("doc_id")
  }

  /** Benchmark DECONTAMINATION (the training-data hygiene pass): flag
    * corpus docs sharing ≥3 distinct word-trigrams with the held-out
    * benchmark set (source = 'src0' stands in for an eval suite). Trigram
    * construction is the codegen'd zipped-shifted-slices shape (zero
    * shuffles); the benchmark gram set is orders of magnitude smaller than
    * the corpus, so the gram equi-join broadcasts it — the standard
    * n-gram-hash decontamination layout at 100 TB. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    def grams(df: DataFrame) = trigrams(df, "gram")
    val docs = documents(spark, dir)
    val bench = grams(docs.where(col("source") === "src0"))
      .select(col("gram")).distinct()
    val corpus = grams(docs.where(col("source") =!= "src0")).distinct()
    corpus.join(broadcast(bench), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      .withColumn("contaminated", col("n_shared_grams") >= 3)
      .orderBy("doc_id")
  }

  /** Duplicated-span fraction (the cross-corpus substring-duplication
    * metric of Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", public): for each document, the fraction of
    * its distinct 3-word shingles that also occur in at least one OTHER
    * document. This is the measurement that decides how aggressive a
    * span-level dedup pass must be — distinct from [[Llm.fingerprint]]
    * (per-doc winnowing sketch, no cross-doc comparison) and
    * [[decontaminate]] (overlap vs a fixed benchmark set).
    *
    * Scale shape: one shingle-keyed aggregation for document frequency
    * (map-side combinable — shingles repeat heavily), one equi-join of the
    * per-doc shingle set against it, one doc-keyed aggregation. Shuffle
    * volume ∝ distinct (doc, shingle) pairs; nothing is pairwise. */
  /** Duplicated-span REMOVAL — the actionable counterpart of the
    * [[dupSpans]] metric (Lee et al. 2022: span-level dedup beats
    * document-level on memorization): scrub from every document the
    * words covered by a 3-word shingle that also occurs in ANOTHER
    * document, keeping the rest in order. Shapes, all
    * shingle-proportional (no pairwise work anywhere):
    * positional shingles (posexplode over zipped slices) → cross-doc df
    * (distinct doc–shingle, two-phase agg) → covered word indices
    * (interval explode + distinct) → anti join against the positional
    * word list → ordered rebuild per doc (sort_array over (idx, word)
    * structs). Docs shorter than 3 words carry no shingles and survive
    * whole; a doc whose every word is covered comes back as the empty
    * string (left join + coalesce, not a dropped row). */
  def dupSpanRemoval(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    // positional shingles: i is the 1-based index of the span start
    val sh = docs.where(size(col("ws")) >= 3)
      .select(col("doc_id"), posexplode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 2),
        slice(col("ws"), lit(2), size(col("ws")) - 2),
        slice(col("ws"), lit(3), size(col("ws")) - 2))))
      .select(col("doc_id"), (col("pos") + 1).as("i"),
        concat_ws(" ", col("col.0"), col("col.1"), col("col.2")).as("s"))
    val dfreq = sh.select(col("doc_id"), col("s")).distinct()
      .groupBy("s").agg(count(lit(1)).as("df"))
    // word indices covered by any cross-document duplicated span
    val covered = sh.join(dfreq.where(col("df") >= 2), "s")
      .select(col("doc_id"), explode(sequence(col("i"), col("i") + 2)).as("j"))
      .distinct()
    val words = docs.select(col("doc_id"), posexplode(col("ws")))
      .select(col("doc_id"), (col("pos") + 1).as("j"), col("col").as("w"))
    val kept = words.join(covered, Seq("doc_id", "j"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          sort_array(collect_list(struct(col("j"), col("w")))),
          e => e.getField("w")), " ").as("clean_text"))
    docs.select(col("doc_id"), size(col("ws")).cast("long").as("n_words"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
      .orderBy("doc_id")
  }

  /** The word trigrams of each document of `docs(keys…, text)` with at
    * least 3 words, as (keys…, `name`) rows, one per position. Zipped
    * shifted slices keep it in codegen with zero shuffles (an element_at
    * lambda over `sequence` re-evaluates the split per element — measured
    * 6.9 s vs 1.3 s at sf0.1). */
  private[ops] def trigrams(docs: DataFrame, name: String,
      keys: Seq[String] = Seq("doc_id")): DataFrame = {
    val k = keys.map(col)
    docs.select(k :+ split(col("text"), " ").as("ws"): _*)
      .where(size(col("ws")) >= 3)
      .select(k :+ explode(arrays_zip(
        slice(col("ws"), lit(1), size(col("ws")) - 2),
        slice(col("ws"), lit(2), size(col("ws")) - 2),
        slice(col("ws"), lit(3), size(col("ws")) - 2))).as("g"): _*)
      .select(k :+ concat_ws(" ", col("g.0"), col("g.1"), col("g.2")).as(name): _*)
  }

  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    // distinct per (doc, shingle)
    val sh = trigrams(documents(spark, dir), "s").distinct()
    // df counts DOCS per shingle (rows are distinct per doc already)
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    sh.join(dfreq, "s")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(col("n_dup").cast("double") / col("n_shingles").cast("double"), 6))
      .orderBy("doc_id")
  }

  /** Weighted dataset mixing: deterministic per-source sampling rates
    * (0.05/0.10/0.15/0.20 cycling by source index — the "mixture weights"
    * of a training-data recipe), membership decided by the cross-engine
    * h48 hash so the sample is reproducible across engines, partitionings
    * and reruns. Row-local decision → two-phase count; no shuffle of the
    * unsampled data. */
  def sampleWeightedMix(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .withColumn("rate",
        (substring(col("source"), 4, 8).cast("int") % 4 + 1).cast("double") * 0.05)
      .groupBy(col("source"), col("rate"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(pmod(h48(col("doc_id").cast("string")), lit(10000)) <
          col("rate") * 10000, 1L).otherwise(0L)).as("n_sampled"))
      .orderBy("source")

  /** Gopher-style repetition quality signal: per-document duplicate-word
    * and duplicate-3-gram fractions plus a keep/drop verdict (the
    * "repetitious documents are low quality" filter every pretraining
    * pipeline runs before dedup).
    *
    * Scale shape: ENTIRELY row-local — words, distinct words and distinct
    * 3-grams are array HOFs over the split text, so the pass is
    * embarrassingly parallel with zero shuffles at any corpus size (the
    * final orderBy is output determinism for the fixture dump only;
    * a production run would write unordered). Fractions are compared
    * UNROUNDED for the verdict and rounded to 6dp only for output, so the
    * keep decision is engine-exact. */
  def repetitionFilter(spark: SparkSession, dir: String): DataFrame = {
    val ws = filter(split(col("text"), " "), w => w =!= lit(""))
    val dupW = lit(1.0) - col("n_distinct_words").cast("double") / col("n_words")
    // CaseWhen guards the division: under ANSI (Spark 4 default) a bare
    // x/0 throws, and coalesce would still evaluate it for 0-gram docs
    val dupG = when(col("n_grams") > 0,
      lit(1.0) - col("n_distinct_grams").cast("double") / col("n_grams"))
    documents(spark, dir)
      .select(col("doc_id"), ws.as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_words"),
        size(array_distinct(col("ws"))).cast("long").as("n_distinct_words"),
        when(size(col("ws")) >= 3, size(col("ws")) - 2).otherwise(0)
          .cast("long").as("n_grams"),
        when(size(col("ws")) >= 3, size(array_distinct(
          transform(sequence(lit(0), size(col("ws")) - 3), i => concat_ws(" ",
            element_at(col("ws"), i + 1), element_at(col("ws"), i + 2),
            element_at(col("ws"), i + 3)))))).otherwise(0)
          .cast("long").as("n_distinct_grams"))
      .where(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"),
        round(dupW, 6).as("dup_word_frac"),
        round(dupG, 6).as("dup_3gram_frac"),
        (dupW <= 0.5 && coalesce(dupG, lit(0.0)) <= 0.2).as("keep"))
      .orderBy("doc_id")
  }

  /** One BPE merge-step pair count: the corpus-wide frequency of adjacent
    * character pairs inside whitespace tokens — the statistic a byte-pair
    * tokenizer build computes at every merge iteration. Top-20 by count
    * with the pair string as tiebreak.
    *
    * Scale shape: explode words → explode in-word pairs (both row-local
    * Generate nodes) → groupBy(pair) with map-side partial aggregation
    * (pair cardinality is tiny — bounded by alphabet², so partial aggs
    * collapse almost everything before the shuffle) → TakeOrderedAndProject
    * for the top-20. This is the canonical two-phase count at 100 TB. */
  def bpePairs(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("word")) - 1),
        i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(20)

  /** Context-window packing manifest (concat-then-chunk): documents are
    * concatenated per source in doc_id order and cut every 4096
    * whitespace tokens; each document is assigned to the context window
    * (bin) its FIRST token lands in. Output per (source, bin): docs and
    * tokens starting there plus the doc_id range — the shard manifest a
    * packed-pretraining loader consumes.
    *
    * Scale shape: token counting is row-local; assignment is one running
    * sum over the per-source ordered window, and the following groupBy
    * reuses the same source partitioning — one shuffle + sort total, the
    * minimum any order-sensitive packer needs. Packing is per-source
    * (= per-shard), so there is no global coordination at 100 TB. */
  def packContext(spark: SparkSession, dir: String): DataFrame = {
    val binTokens = 4096.0
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(filter(split(col("text"), " "), t => t =!= lit("")))
          .cast("long").as("n_tokens"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("start_tok") / lit(binTokens)).cast("long"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy("source", "bin")
  }

  /** Deterministic training-shard assignment + balance audit: doc →
    * shard `h48(doc_id) % 16`, then per-shard doc and token totals — the
    * layout check a distributed trainer runs before consuming shards.
    * The portable h48 makes assignment reproducible across engines,
    * partitionings and reruns; one groupBy on a 16-value key, which
    * map-side combine collapses almost entirely before the shuffle. */
  def shardAssign(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(pmod(h48(col("doc_id").cast("string")), lit(16L)).as("shard"),
        size(filter(split(col("text"), " "), w => w =!= lit("")))
          .cast("long").as("n_tokens"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .orderBy("shard")

  /** Corpus-to-corpus similarity via the custom MinHash-signature SKETCH
    * ([[graft.functions.MinHashSig]], a TypedImperativeAggregate): one
    * 16-component signature per source over its distinct shingle set,
    * then the Broder estimate (fraction of agreeing components) for
    * every source pair. The 100 TB story is the whole point of the
    * sketch: the per-source state is O(k) longs however large the
    * corpus, partials combine map-side (ObjectHashAggregate
    * partial/final — plan-asserted), and the pairwise stage joins k·S
    * signature rows, never the shingle sets themselves. Estimator
    * arithmetic is exact integer math mirrored by the DuckDB oracle, so
    * this sketch IS hash-verified, unlike the tolerance-gated built-ins
    * (HLL++, quantile sketch). */
  def minhashSourceSim(spark: SparkSession, dir: String): DataFrame = {
    // |sources| bounds the S² pair join; fail loudly past the bound (the
    // repo's boundedCollect convention) rather than limit(1000), which
    // would nondeterministically DROP sources from the similarity matrix
    // and silently diverge from the oracle. The count probe is one tiny
    // distinct on the source column, far cheaper than the shingle agg.
    val nSrc = documents(spark, dir).select(col("source")).distinct().count()
    require(nSrc <= 1000,
      s"llm_minhash_src_sim: $nSrc sources exceed the 1000-source pair-join " +
        "bound; band the signature join (as llm_dedup_near does) before lifting it")
    val sh = trigrams(documents(spark, dir), "gram", Seq("source"))
      .select(col("source"), graft.Tables.h48(col("gram")).as("x"))
      .distinct()
    val sigs = sh.groupBy("source")
      .agg(graft.functions.MinHash.sig(col("x"), 16).as("sig"))
    val a = sigs.select(col("source").as("source_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("source").as("source_b"), col("sig").as("sig_b"))
    a.join(b, col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1.0).otherwise(0.0)),
          lit(0.0), _ + _) / 16.0).as("est_jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Leakage-safe train/val/test split: the split key is the near-dup
    * CLUSTER, not the document — so two near-duplicates can never land on
    * opposite sides of a train/test boundary (the contamination that
    * silently inflates eval scores). Assignment is the deterministic h48
    * of the cluster representative: 0-7 train, 8 val, 9 test. Cost on top
    * of [[dedupClusters]] is one row-local hash — no extra shuffle; at
    * corpus scale the split inherits the CC machinery's O(diameter)
    * rounds, which the 10× rehearsal already bounds. */
  def leakageSafeSplit(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .withColumn("bucket",
        pmod(graft.Tables.h48(concat(lit("split:"), col("cluster").cast("string"))),
          lit(10L)))
      .withColumn("split",
        when(col("bucket") < 8, "train").when(col("bucket") === 8, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("cluster"), col("split"))
      .orderBy("doc_id")

  /** Oracle twin of [[decontaminate]]'s gram sets: the benchmark
    * (source 'src0') trigrams `bench(gram)` and every other doc's distinct
    * trigrams `corp(doc_id, gram)`. */
  private[ops] val benchGramsSql =
    """g AS (
           SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
         tri AS (
           SELECT doc_id, source,
             unnest(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
           FROM g WHERE len(ws) >= 3),
         bench AS (SELECT DISTINCT gram FROM tri WHERE source = 'src0'),
         corp AS (SELECT DISTINCT doc_id, gram FROM tri WHERE source <> 'src0')"""

  val entries: Map[String, Op] = Map(
    "llm_leakage_safe_split" -> Op(leakageSafeSplit, {
      val h = graft.Tables.h48Sql("'split:' || CAST(cluster AS VARCHAR)")
      s"""WITH RECURSIVE $dedupClustersCcSql
         SELECT doc_id, cluster,
           CASE WHEN ($h) % 10 < 8 THEN 'train'
                WHEN ($h) % 10 = 8 THEN 'val'
                ELSE 'test' END AS split
         FROM cc ORDER BY doc_id"""
    }),
    "llm_dup_span_removal" -> Op(dupSpanRemoval,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           base AS (SELECT doc_id, ws, len(ws) AS n FROM d),
           sh AS (SELECT doc_id, unnest(list_transform(range(1, n - 1),
                    i -> {'i': i, 's': ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]})) AS u
                  FROM base WHERE n >= 3),
           sh2 AS (SELECT doc_id, u.i AS i, u.s AS s FROM sh),
           dfq AS (SELECT s, COUNT(DISTINCT doc_id) AS df FROM sh2 GROUP BY 1),
           cov AS (SELECT DISTINCT doc_id, j FROM (
                     SELECT sh2.doc_id, unnest([i, i + 1, i + 2]) AS j
                     FROM sh2 JOIN dfq USING (s) WHERE dfq.df >= 2)),
           w AS (SELECT doc_id, unnest(list_transform(range(1, n + 1),
                   j -> {'j': j, 'w': ws[j]})) AS u FROM base),
           w2 AS (SELECT doc_id, u.j AS j, u.w AS w FROM w),
           kept AS (SELECT w2.doc_id, w2.j, w2.w FROM w2
                    WHERE NOT EXISTS (SELECT 1 FROM cov
                      WHERE cov.doc_id = w2.doc_id AND cov.j = w2.j)),
           agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                   string_agg(w, ' ' ORDER BY j) AS clean_text FROM kept GROUP BY 1)
         SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_words,
           CAST(b.n - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.clean_text, '') AS clean_text
         FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"""),
    "llm_minhash_src_sim" -> Op(minhashSourceSim,
      s"""WITH d AS (SELECT source, string_split(text, ' ') AS ws FROM documents
             WHERE len(string_split(text, ' ')) >= 3),
          sh AS (SELECT DISTINCT source,
              unnest(list_distinct(list_transform(range(1, len(ws) - 1),
                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
            FROM d),
          hx AS (SELECT DISTINCT source, ${graft.Tables.h48Sql("s")} AS x FROM sh),
          mins AS (SELECT source, i,
              MIN(${graft.functions.MinHash.sigSqlComponent("x", "i")}) AS m
            FROM hx, range(16) t(i) GROUP BY 1, 2)
          SELECT a.source AS source_a, b.source AS source_b,
            CAST(SUM(CASE WHEN a.m = b.m THEN 1.0 ELSE 0.0 END) / 16.0 AS DOUBLE)
              AS est_jaccard
          FROM mins a JOIN mins b ON a.i = b.i AND a.source < b.source
          GROUP BY 1, 2 ORDER BY 1, 2"""),
    "sample_shard_assign" -> Op(shardAssign,
      s"""WITH d AS (
            SELECT (${graft.Tables.h48Sql("CAST(doc_id AS VARCHAR)")}) % 16 AS shard,
              CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
                AS n_tokens
            FROM documents)
          SELECT shard, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
          FROM d GROUP BY shard ORDER BY shard"""),
    "llm_pack_context" -> Op(packContext,
      """WITH d AS (
           SELECT doc_id, source,
             CAST(len(list_filter(string_split(text, ' '), w -> w <> '')) AS BIGINT)
               AS n_tokens
           FROM documents),
         s AS (
           SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_tok
           FROM d)
         SELECT source, CAST(FLOOR(start_tok / 4096.0) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         FROM s GROUP BY 1, 2 ORDER BY 1, 2"""),
    "llm_repetition_filter" -> Op(repetitionFilter,
      """WITH g AS (
           SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ws
           FROM documents),
         s AS (
           SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
             CAST(CASE WHEN len(ws) >= 3 THEN len(ws) - 2 ELSE 0 END AS BIGINT) AS n_grams,
             CAST(CASE WHEN len(ws) >= 3 THEN len(list_distinct(
               list_transform(range(1, len(ws) - 1),
                 i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) ELSE 0 END AS BIGINT)
               AS n_distinct_grams
           FROM g WHERE len(ws) > 0)
         SELECT doc_id, n_words,
           round(1.0 - CAST(n_distinct_words AS DOUBLE) / n_words, 6) AS dup_word_frac,
           CASE WHEN n_grams > 0
             THEN round(1.0 - CAST(n_distinct_grams AS DOUBLE) / n_grams, 6) END
             AS dup_3gram_frac,
           (1.0 - CAST(n_distinct_words AS DOUBLE) / n_words) <= 0.5
             AND (CASE WHEN n_grams > 0
               THEN 1.0 - CAST(n_distinct_grams AS DOUBLE) / n_grams
               ELSE 0.0 END) <= 0.2 AS keep
         FROM s ORDER BY doc_id"""),
    "llm_bpe_pairs" -> Op(bpePairs,
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
         p AS (SELECT substr(word, CAST(i AS INT), 2) AS pair
               FROM w, LATERAL (SELECT unnest(range(1, length(word))) AS i) t
               WHERE length(word) >= 2)
         SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20"""),
    "llm_decontaminate" -> Op(decontaminate,
      s"""WITH $benchGramsSql
         SELECT doc_id, COUNT(*) AS n_shared_grams, COUNT(*) >= 3 AS contaminated
         FROM corp JOIN bench USING (gram)
         GROUP BY doc_id ORDER BY doc_id"""),
    "llm_dup_spans" -> Op(dupSpans,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
             WHERE len(string_split(text, ' ')) >= 3),
         sh AS (SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) AS s
           FROM d),
         dfreq AS (SELECT s, COUNT(*) AS df FROM sh GROUP BY 1)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           round(CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS dup_frac
         FROM sh JOIN dfreq USING (s)
         GROUP BY 1 ORDER BY 1"""),
    "sample_weighted_mix" -> Op(sampleWeightedMix,
      s"""WITH t AS (
            SELECT source, doc_id,
              CAST(CAST(substring(source, 4, 8) AS INT) % 4 + 1 AS DOUBLE) * 0.05 AS rate
            FROM documents)
          SELECT source, rate, COUNT(*) AS n_total,
            CAST(SUM(CASE WHEN (${graft.Tables.h48Sql("CAST(doc_id AS VARCHAR)")}) % 10000
              < rate * 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
          FROM t GROUP BY source, rate ORDER BY source"""),
    "llm_tfidf_topterms" -> Op(tfidfTopterms,
      """WITH w AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY 1, 2),
         dfreq AS (SELECT word, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, word FROM w) GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, word,
             round(CAST(tf AS DOUBLE) *
               ln(CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)), 6) AS tfidf
           FROM tf JOIN dfreq USING (word) CROSS JOIN n),
         rk AS (
           SELECT doc_id, word, tfidf, row_number() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, word) AS rn
           FROM scored WHERE doc_id < 30)
         SELECT doc_id, CAST(rn AS INT) AS rn, word, tfidf
         FROM rk WHERE rn <= 3 ORDER BY doc_id, rn"""),
    "llm_wordcount_top20" -> Op(wordcountTop20,
      """SELECT word, COUNT(*) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word ORDER BY n DESC, word LIMIT 20"""),
    "llm_pii_redact" -> Op(piiRedact,
      """SELECT c_custkey,
         regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name,
         CAST(length(regexp_replace(c_name, '[^0-9]', '', 'g')) AS INT) AS n_digits,
         substring(md5(c_name), 1, 8) AS name_fp
         FROM customer ORDER BY c_custkey"""),
    "llm_vocab_nucleus" -> Op(vocabNucleus,
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word
             FROM documents),
         c AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM w GROUP BY 1),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
         cum AS (SELECT word, cnt,
             SUM(cnt) OVER (ORDER BY cnt DESC, word
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_mass,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, word) AS rank
           FROM c)
         SELECT CAST(rank AS BIGINT) AS rank, word, cnt,
           round(CAST(cum_mass AS DOUBLE) / CAST(total AS DOUBLE), 6)
             AS cum_share
         FROM cum, tot
         WHERE 10 * (cum_mass - cnt) < 9 * total
         ORDER BY rank"""),
    "llm_dedup_clusters" -> Op(dedupClusters,
      s"""WITH RECURSIVE $dedupClustersCcSql
         SELECT doc_id, cluster,
           COUNT(*) OVER (PARTITION BY cluster) AS cluster_size
         FROM cc ORDER BY doc_id"""),
  )

  /** Shared DuckDB CTE chain ending in `cc(doc_id, cluster)` — the
    * corpus-wide banded-candidate connected components, composed by the
    * clusters oracle, the leakage-split oracle, and (via the clusters
    * entry) Llm8's keep-best oracle. Mirrors [[dedupClustersAt]]:
    * banding ([[Llm.nearCandidatesSql]]) → exact integer Jaccard ≥ 9/10
    * verify → recursive transitive closure over the verified edges. */
  private[graft] def dedupClustersCcSql: String =
    s"""${Llm.nearCandidatesSql},
       wd AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
              FROM documents),
       sz AS (SELECT doc_id, COUNT(*) AS sz FROM wd GROUP BY 1),
       iv AS (SELECT d1, d2, COUNT(*) AS i
              FROM cand JOIN wd w1 ON d1 = w1.doc_id
              JOIN wd w2 ON d2 = w2.doc_id AND w1.word = w2.word
              GROUP BY 1, 2),
       edges AS (SELECT d1, d2 FROM iv
                 JOIN sz a ON d1 = a.doc_id JOIN sz b ON d2 = b.doc_id
                 WHERE 10 * i >= 9 * (a.sz + b.sz - i)),
       und AS (SELECT d1 AS src, d2 AS dst FROM edges
               UNION ALL SELECT d2, d1 FROM edges),
       nodes AS (SELECT doc_id AS node FROM documents),
       reach(node, r) AS (
         SELECT node, node FROM nodes
         UNION
         SELECT reach.node, und.dst FROM reach JOIN und ON reach.r = und.src),
       cc AS (SELECT node AS doc_id, MIN(r) AS cluster FROM reach GROUP BY 1)"""
}
