package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 retrieval widening: lexical BM25 ranking and hybrid
  * lexical+semantic fusion (RRF) — the two retrieval primitives a
  * training-data pipeline runs beside its vector-ANN stack (hard-negative
  * mining, "more-like-this" corpus expansion, eval-set retrieval).
  *
  * Both scorers are FIXED-POINT: BM25's per-term score is an exact
  * rational A/B of 64-bit integers (k1 = 1.2 and b = 0.75 folded in by
  * multiplying through by 10·Σdl and the idf kept as the un-logged odds
  * ratio (2N−2df+1)/(2df+1) — the Robertson idf without the order-only
  * `ln`), emitted as `floor(A·1000/B)` millis via the overflow-safe split
  * `(A div B)·1000 + ((A mod B)·1000) div B`. Integer millis sum
  * order-independently across partitions — the determinism the bit-exact
  * gate demands and a float Σ can't give. Headroom: A < 2^63 up to
  * ~10^9-token corpora per partition-set; beyond that the same formulas
  * run in DECIMAL(38,0) unchanged.
  */
object Llm7 {

  private def toks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))

  private def dlOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))

  /** Per-doc BM25 fixed-point scores against a (dim-sized, broadcast)
    * query-term set: (doc_id, n_terms, milli). `df` counts the FULL
    * corpus (including any excluded probe doc); `tf` honors `excludeDoc`
    * so a query document never retrieves itself. */
  private def bm25Milli(docs: DataFrame, qTerms: DataFrame,
      excludeDoc: Option[Long]): DataFrame = {
    val t = toks(docs)
    val dl = dlOf(docs)
    val st = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("dls"))
    val df = t.join(broadcast(qTerms), "term")
      .groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
    val tf0 = t.join(broadcast(qTerms), "term")
    val tf = excludeDoc.fold(tf0)(d => tf0.where(col("doc_id") =!= d))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    tf.join(broadcast(df), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st)) // 1-row stats: CartesianGuard-exempt
      .withColumn("a",
        lit(22L) * col("dls") * col("tf") *
          (lit(2L) * col("n") - lit(2L) * col("df") + lit(1L)))
      .withColumn("b",
        (lit(10L) * col("dls") * col("tf") + lit(3L) * col("dls") +
          lit(9L) * col("n") * col("dl")) *
          (lit(2L) * col("df") + lit(1L)))
      .withColumn("milli",
        expr("(a div b) * 1000 + ((a % b) * 1000) div b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum(col("milli")).as("milli"))
  }

  /** BM25 top-10 for a fixed keyword query over `documents` — classic
    * lexical retrieval (Robertson & Walker 1994, fixed-point form above).
    * Scale shape: query terms / df / corpus stats are all dim-sized
    * broadcasts; tf is one (doc,term)-keyed agg over the exploded token
    * stream (map-side combinable); the final top-10 is a TakeOrdered —
    * per-partition heads, no global sort materialization. */
  def bm25Topk(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val q = Seq("window", "merge", "stream", "dup").toDF("term")
    bm25Milli(documents(spark, dir), q, None)
      .select(col("doc_id"), col("n_terms").cast("long").as("n_terms"),
        col("milli").cast("long").as("bm25_milli"))
      .orderBy(col("bm25_milli").desc, col("doc_id").asc)
      .limit(10)
  }

  /** Hybrid "more-like-this" retrieval for document 0, fused with
    * Reciprocal Rank Fusion (Cormack, Clarke & Buettcher SIGIR 2009):
    * lexical candidates = BM25 of doc 0's own (deduped) tokens against
    * the rest of the corpus; semantic candidates = exact cosine of
    * embedding 0 against the rest (same round-6 contract as
    * `llm_sim_topk`); each side keeps its top-20 via TakeOrdered, the
    * 20∪20 survivors fuse JOIN-FREE (union + per-doc max — a full-outer
    * join of two rank lists is exactly a grouped max over their union,
    * and unlike FULL OUTER it needs no SortMergeJoin), and
    * rrf = Σ 1e6/(60+rank) in integer micros (k = 60, the paper's
    * constant — integer division keeps the fusion bit-deterministic).
    * The fusion stage handles ≤40 rows at any corpus size; the heavy
    * lifting stays in the two bounded retrieval legs. */
  def hybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val qTerms = docs.where(col("doc_id") === 0)
      .select(explode(split(col("text"), " ")).as("term"))
      .where(col("term") =!= "").distinct()
    val lexTop = bm25Milli(docs, qTerms, excludeDoc = Some(0L))
      .orderBy(col("milli").desc, col("doc_id").asc).limit(20)
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("milli").desc, col("doc_id").asc)))
      .select("doc_id", "lex_rank")
    val e = embeddings(spark, dir)
      .withColumn("embedding", transform(col("embedding"), x => x.cast("double")))
      .withColumn("nrm", sqrt(graft.functions.ArrayMath.dotProduct(
        col("embedding"), col("embedding"))))
    val qe = e.where(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val semTop = e.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(qe)) // 1-row query vector: guard-exempt
      .withColumn("cos_r", round(
        graft.functions.ArrayMath.dotProduct(col("embedding"), col("q_emb")) /
          (col("nrm") * col("q_nrm")), 6))
      .orderBy(col("cos_r").desc, col("vec_id").asc).limit(20)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("cos_r").desc, col("vec_id").asc)))
      .select(col("vec_id").as("doc_id"), col("sem_rank"))
    lexTop.select(col("doc_id"), col("lex_rank"),
        lit(null).cast("int").as("sem_rank"))
      .unionAll(semTop.select(col("doc_id"),
        lit(null).cast("int").as("lex_rank"), col("sem_rank")))
      .groupBy("doc_id")
      .agg(max(col("lex_rank")).as("lex_rank"),
        max(col("sem_rank")).as("sem_rank"))
      .withColumn("rrf_micro",
        coalesce(expr("1000000 div (60 + lex_rank)"), lit(0L)) +
          coalesce(expr("1000000 div (60 + sem_rank)"), lit(0L)))
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
      .limit(10)
  }

  // ------------------------------------------------------------------
  // MMR diversified re-rank
  // ------------------------------------------------------------------

  private val MmrPool = 20
  private val MmrK = 5

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein SIGIR
    * 1998) for query vector 0: the distributed leg scans the corpus once
    * for the exact-cosine top-20 candidate pool (TakeOrdered, the
    * `llm_sim_topk` round-6 contract); the greedy selection then runs
    * driver-side over the BOUNDED pool (20 vectors via `boundedCollect`
    * — the same sanctioned driver-loop tier as the k-means/Pregel
    * steps), picking k=5 by `mmr = λ·rel − (1−λ)·max_sim-to-selected`
    * with λ=1/2. Halving a double is exact (power-of-two scale) and the
    * subtraction is one correctly-rounded op over round-6 inputs, so the
    * scores are bit-deterministic and the oracle replays the greedy loop
    * as k−1 unrolled SQL steps — no tolerance anywhere. First pick uses
    * the empty-set convention max_sim = 0 (pure relevance). At corpus
    * scale nothing here grows: the selection is O(k·pool) on 20 rows;
    * only the pool scan is distributed. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ArrayMath.{dotJvm, round6}
    import spark.implicits._
    val e = embeddings(spark, dir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .as[(Long, Array[Double])]
    val qRows = boundedCollect(e.filter(col("vec_id") === 0), 1,
      "mmr query vector")
    if (qRows.isEmpty) // empty corpus / no query vector: empty result, same schema
      return Seq.empty[(Int, Long, Double, Double)]
        .toDF("rank", "vec_id", "rel_r", "mmr_r")
    val qv = qRows.head._2
    val qn = math.sqrt(dotJvm(qv, qv))
    val scored = e.filter(col("vec_id") =!= 0)
      .map { case (id, v) =>
        (id, v, round6(dotJvm(qv, v) / (qn * math.sqrt(dotJvm(v, v)))))
      }
    // the one distributed stage: exact top-pool by (rel DESC, vec_id ASC)
    val pool = boundedCollect(
      scored.orderBy(col("_3").desc, col("_1").asc).limit(MmrPool),
      MmrPool, "mmr candidate pool")
    val norms = pool.map { case (_, v, _) => math.sqrt(dotJvm(v, v)) }
    def sim(i: Int, j: Int): Double =
      round6(dotJvm(pool(i)._2, pool(j)._2) / (norms(i) * norms(j)))
    val selected = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
    while (selected.length < math.min(MmrK, pool.length)) {
      val best = pool.indices.filterNot(selected.contains).map { i =>
        val maxSim = if (selected.isEmpty) 0.0 else selected.map(sim(i, _)).max
        (0.5 * pool(i)._3 - 0.5 * maxSim, pool(i)._1, i)
      }.minBy { case (m, id, _) => (-m, id) } // mmr DESC, vec_id ASC
      out += ((selected.length + 1, best._2, pool(best._3)._3, best._1))
      selected += best._3
    }
    spark.createDataFrame(out.toSeq)
      .toDF("rank", "vec_id", "rel_r", "mmr_r")
      .orderBy("rank")
  }

  // ------------------------------------------------------------------
  // DSIR importance weights
  // ------------------------------------------------------------------

  /** DSIR-style importance weights (Xie et al. NeurIPS 2023, "Data
    * Selection for Language Models via Importance Resampling" — public):
    * score every general-corpus document by how target-like it is under
    * two smoothed unigram LMs, `log w(d) = Σ_tokens log p_T − log p_C`
    * (target = the `src0` slice, the same framing as L77's benchmark
    * set; add-one smoothing over the shared vocabulary). The top-k by
    * log-weight is the resampling pool a mixture owner feeds into
    * sampling-without-replacement.
    *
    * Scale shape: both LM tables are VOCABULARY-sized (broadcast), the
    * totals are 1-row broadcasts, and the per-token score is row-local —
    * one explode + one doc-keyed agg over the corpus, nothing pairwise.
    * Determinism: each token's log-ratio is quantized through `dsum`'s
    * DECIMAL(18,6) before summation (order-free; absorbs sub-6dp `ln`
    * ulp drift between engines — the `llm_unigram_logprob` contract). */
  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val tok = documents(spark, dir)
      .select(col("doc_id"), col("source"), explode(split(col("text"), " ")).as("w"))
    val nv = tok.agg(countDistinct(col("w")).as("nv"))
    val tCnt = tok.where(col("source") === "src0")
      .groupBy("w").agg(count(lit(1)).as("c_t"))
    val tTot = tok.where(col("source") === "src0")
      .agg(count(lit(1)).as("t_t"))
    val cCnt = tok.where(col("source") =!= "src0")
      .groupBy("w").agg(count(lit(1)).as("c_c"))
    val cTot = tok.where(col("source") =!= "src0")
      .agg(count(lit(1)).as("t_c"))
    tok.where(col("source") =!= "src0")
      .join(broadcast(tCnt), Seq("w"), "left")
      .join(broadcast(cCnt), Seq("w"), "left")
      .crossJoin(broadcast(tTot)).crossJoin(broadcast(cTot))
      .crossJoin(broadcast(nv)) // 1-row totals: CartesianGuard-exempt
      .withColumn("lr",
        log((coalesce(col("c_t"), lit(0L)) + lit(1L)).cast("double") /
          (col("t_t") + col("nv")).cast("double")) -
        log((coalesce(col("c_c"), lit(0L)) + lit(1L)).cast("double") /
          (col("t_c") + col("nv")).cast("double")))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tokens"),
        round(dsum(col("lr")), 6).as("log_ratio_r"))
      .orderBy(col("log_ratio_r").desc, col("doc_id").asc)
      .limit(20)
  }

  // ------------------------------------------------------------------

  /** L201 — INVERTED-INDEX build (the materialized artifact behind
    * BM25 above: term → df, collection tf, and the posting list
    * itself — the thing a search system writes to storage; building it
    * as a dataset is the batch half of every retrieval stack, and at
    * 100 TB it is a textbook two-level aggregation: (term, doc) tf
    * counts first — map-side combinable, the shuffle carries one row
    * per distinct (term, doc) — then a term-keyed fold of postings).
    * Postings are emitted as a `doc:tf` CSV string in ascending doc_id
    * order rather than an array column: deterministic, and the
    * compare gate's pandas row-sort cannot hash array cells (the H6
    * map-cell lesson — representation chosen FOR the gate, the index
    * content is unchanged). `sort_array(collect_list(struct(…)))` pins
    * posting order engine-independently; capped at the 20 most
    * frequent terms by collection tf (ties by term) to keep output
    * bounded. */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val tf = toks(documents(spark, dir))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"),
        sum(col("tf")).as("ctf"),
        array_join(transform(
          sort_array(collect_list(struct(col("doc_id"), col("tf")))),
          e => concat_ws(":", e.getField("doc_id"), e.getField("tf"))), ",")
          .as("postings"))
      .orderBy(col("ctf").desc, col("term").asc)
      .limit(20)
  }

  /** Shared oracle CTE text for the fixed-point BM25 leg; `tfWhere`
    * optionally excludes the probe doc from retrieval (never from df). */
  private def bm25Sql(qCte: String, tfWhere: String): String =
    s"""$qCte,
       tok AS (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM documents),
       dl AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS dl FROM documents),
       st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS dls FROM dl),
       df AS (SELECT t.term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
         FROM tok t JOIN q USING (term) GROUP BY 1),
       tf AS (SELECT doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS tf
         FROM tok t JOIN q USING (term) $tfWhere GROUP BY 1, 2),
       sc AS (SELECT tf.doc_id,
           (22*st.dls*tf.tf*(2*st.n - 2*df.df + 1)) AS a,
           ((10*st.dls*tf.tf + 3*st.dls + 9*st.n*dl.dl) * (2*df.df + 1)) AS b
         FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st),
       bm AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM((a // b)*1000 + ((a % b)*1000) // b) AS BIGINT) AS milli
         FROM sc GROUP BY 1)"""

  /** Cosine of candidate `c` to the query `qe`, rounded to 6 dp. */
  private val cosQSql =
    s"round(${dotSql("c.embedding", "qe.embedding")} / (qe.nrm * c.nrm), 6)"

  val entries: Map[String, Op] = Map(
    "llm_inverted_index" -> Op(invertedIndex,
      """WITH tf AS (
           SELECT term, doc_id, COUNT(*) AS tf FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents)
           GROUP BY 1, 2),
         idx AS (
           SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS ctf,
             string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
               ',' ORDER BY doc_id) AS postings
           FROM tf GROUP BY 1)
         SELECT term, df, ctf, postings FROM idx
         ORDER BY ctf DESC, term LIMIT 20"""),
    "llm_bm25_topk" -> Op(bm25Topk,
      "WITH " + bm25Sql(
        "q AS (SELECT unnest(['window','merge','stream','dup']) AS term)", "") +
      """
       SELECT doc_id, n_terms, milli AS bm25_milli
       FROM bm ORDER BY bm25_milli DESC, doc_id LIMIT 10"""),
    "llm_hybrid_rrf" -> Op(hybridRrf,
      "WITH " + bm25Sql(
        """qt AS (SELECT DISTINCT unnest(string_split(text,' ')) AS term
             FROM documents WHERE doc_id = 0),
           q AS (SELECT term FROM qt WHERE term <> '')""",
        "WHERE doc_id <> 0") +
      s""",
       lexr AS (SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY milli DESC, doc_id) AS lex_rank FROM bm),
       lex AS (SELECT doc_id, lex_rank FROM lexr WHERE lex_rank <= 20),
       e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
       qe AS (SELECT embedding, nrm FROM e WHERE vec_id = 0),
       semr AS (SELECT c.vec_id AS doc_id,
           ROW_NUMBER() OVER (ORDER BY $cosQSql DESC,
             c.vec_id) AS sem_rank
         FROM e c CROSS JOIN qe WHERE c.vec_id <> 0),
       sem AS (SELECT doc_id, sem_rank FROM semr WHERE sem_rank <= 20),
       f AS (SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id, l.lex_rank, s.sem_rank
         FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id)
       SELECT doc_id, CAST(lex_rank AS INT) AS lex_rank,
         CAST(sem_rank AS INT) AS sem_rank,
         CAST(COALESCE(1000000 // (60 + lex_rank), 0)
            + COALESCE(1000000 // (60 + sem_rank), 0) AS BIGINT) AS rrf_micro
       FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 10"""),
    "llm_mmr_rerank" -> Op(mmrRerank, {
      // the greedy selection unrolled: step s picks the argmax of
      // 0.5·rel − 0.5·max(sim to picked_{s−1}) over the un-picked pool —
      // the same loop the driver runs, replayed as k−1 mechanical CTEs
      val steps = (2 to MmrK).map { s =>
        s"""st$s AS (SELECT $s AS rank, c.vec_id, c.rel,
             0.5*c.rel - 0.5*(SELECT MAX(p.sim) FROM pair p
               JOIN picked${s - 1} pk ON p.vb = pk.vec_id
               WHERE p.va = c.vec_id) AS mmr
           FROM cand c
           WHERE c.vec_id NOT IN (SELECT vec_id FROM picked${s - 1})
           ORDER BY mmr DESC, c.vec_id LIMIT 1),
         picked$s AS (SELECT vec_id FROM picked${s - 1}
           UNION ALL SELECT vec_id FROM st$s)"""
      }.mkString(",\n")
      val union = (1 to MmrK).map(s => s"SELECT * FROM st$s").mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm
             FROM embeddings),
         qe AS (SELECT embedding, nrm FROM e WHERE vec_id = 0),
         cand AS (SELECT c.vec_id,
             $cosQSql AS rel
           FROM e c CROSS JOIN qe WHERE c.vec_id <> 0
           ORDER BY rel DESC, c.vec_id LIMIT $MmrPool),
         ce AS (SELECT c.vec_id, e.embedding, e.nrm FROM cand c JOIN e USING (vec_id)),
         pair AS (SELECT a.vec_id AS va, b.vec_id AS vb,
             round(${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS sim
           FROM ce a JOIN ce b ON a.vec_id <> b.vec_id),
         st1 AS (SELECT 1 AS rank, vec_id, rel, 0.5*rel - 0.5*0 AS mmr
           FROM cand ORDER BY rel DESC, vec_id LIMIT 1),
         picked1 AS (SELECT vec_id FROM st1),
         $steps
         SELECT CAST(rank AS INT) AS rank, vec_id, rel AS rel_r, mmr AS mmr_r
         FROM ($union) ORDER BY rank"""
    }),
    "llm_dsir_weights" -> Op(dsirWeights,
      """WITH tok AS (SELECT doc_id, source,
             unnest(string_split(text, ' ')) AS w FROM documents),
         v AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS nv FROM tok),
         tcnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_t FROM tok
           WHERE source = 'src0' GROUP BY 1),
         ttot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_t FROM tok
           WHERE source = 'src0'),
         ccnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_c FROM tok
           WHERE source <> 'src0' GROUP BY 1),
         ctot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_c FROM tok
           WHERE source <> 'src0'),
         sc AS (SELECT t.doc_id, t.source,
             ln(CAST(COALESCE(tc.c_t, 0) + 1 AS DOUBLE)
                / CAST(tt.t_t + v.nv AS DOUBLE))
           - ln(CAST(COALESCE(cc.c_c, 0) + 1 AS DOUBLE)
                / CAST(ct.t_c + v.nv AS DOUBLE)) AS lr
           FROM tok t LEFT JOIN tcnt tc ON t.w = tc.w
           LEFT JOIN ccnt cc ON t.w = cc.w
           CROSS JOIN ttot tt CROSS JOIN ctot ct CROSS JOIN v
           WHERE t.source <> 'src0')
       SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         round(CAST(SUM(CAST(lr AS DECIMAL(18,6))) AS DOUBLE), 6) AS log_ratio_r
       FROM sc GROUP BY doc_id, source
       ORDER BY log_ratio_r DESC, doc_id LIMIT 20"""),
  )
}
