package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-15 LLM-pipeline widening: exact-substring (verbatim-span)
  * deduplication — the Lee et al. ACL 2022 "Deduplicating Training Data
  * Makes Language Models Better" ExactSubstr mode, the one standard
  * pretraining-dedup grain the family lacked: `llm_dedup_exact` is
  * whole-document, MinHash/SimHash/Jaccard are document-level
  * similarity, and `llm_cdc_chunks` is chunk-grain — none of them
  * catches a 50-token licence block or boilerplate header embedded
  * verbatim in two otherwise-distinct documents. */
object Llm10 {

  /** Shingle width in words. Lee et al. dedup spans of ≥50 BPE tokens;
    * at the fixture's whitespace-token grain 16 words is the same
    * order, and any shared verbatim span of ≥ K words is recovered with
    * EXACT word boundaries (see [[perDocSpans]]). */
  private[graft] val ShingleK = 16

  /** Every K-word shingle start: (doc_id, nw, pos, sh) with `pos` the
    * 0-based word index of the shingle's first word and `sh` the
    * portable 48-bit hash of the shingle text. The shingle hash is
    * computed INSIDE the per-row `transform` lambda so only (doc_id,
    * pos, sh:long) rows ever leave the scan — the K× text blowup of
    * materialized shingle strings exists transiently per row, never in
    * a shuffle. */
  private[graft] def shingleStarts(spark: SparkSession, dir: String): DataFrame =
    // fanout: ~nw md5s per doc run in the SCAN stage, which is one task
    // on the single-row-group fixtures (Tables.fanout scaladoc, r17)
    fanout(documents(spark, dir).select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .withColumn("nw", size(col("w")).cast("long"))
      .where(col("nw") >= ShingleK)
      .select(col("doc_id"), col("nw"), posexplode(expr(
        s"transform(sequence(1, cast(nw as int) - ${ShingleK - 1}), " +
          "i -> cast(conv(substring(md5(concat_ws(' ', " +
          s"slice(w, i, $ShingleK))), 1, 12), 16, 10) as bigint))"))
        .as(Seq("pos", "sh")))

  /** Per-document maximal duplicated spans, the suffix-array result of
    * Lee et al. 2022 computed at shingle grain so it distributes: a
    * shingle occurring ≥2 times corpus-wide (across docs OR repeated
    * within one doc) is a duplicated position; a doc's maximal runs of
    * duplicated starts with gap ≤ K merge into spans (gaps-and-islands
    * per doc). EXACTNESS: a verbatim span of length L ≥ K words shared
    * anywhere in the corpus duplicates exactly its L−K+1 shingle
    * starts, so the island recovers the span boundaries [a, a+L−1]
    * word-exact; spans shorter than K words are below the detection
    * threshold (by design — the Lee et al. min-match length), and two
    * distinct duplicated spans closer than K words coarsen into one
    * (the shingle-grain trade for never building a suffix array).
    * False positives only via 48-bit hash collisions (~2⁻⁴⁸ per
    * pair — the MinHash-family contract).
    *
    * 100-TB shape: the only corpus-wide shuffle is keyed by the SHINGLE
    * HASH (bucketed, collision-proportional — exactly the MinHash-band
    * key discipline; never all-pairs, never a suffix array's global
    * sort of every token position); the island merge is a per-doc
    * window (partitionBy doc_id); output is one row per affected doc —
    * the column you'd write back beside the corpus. Round15Spec pins a
    * planted 60-word span (word-exact boundaries, off-by-one would
    * shift dup_words), the two-span island split, and the sub-K miss. */
  /** Gaps-and-islands merge of duplicated shingle starts into maximal
    * per-doc spans, then doc-grain span stats — shared by [[perDocSpans]]
    * (corpus-count semantics, L358) and [[dedupSubstringIncr]]
    * (keep-first prefix semantics, L364). Expects (doc_id, nw, pos). */
  private[graft] def spansFromDupPos(dupPos: DataFrame): DataFrame = {
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dupPos
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wd) > ShingleK, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(run))
      .groupBy(col("doc_id"), col("nw"), col("island"))
      .agg(min(col("pos")).as("sp_s"),
        (max(col("pos")) + lit(ShingleK - 1)).as("sp_e"))
      .groupBy(col("doc_id"), col("nw"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("sp_e") - col("sp_s") + 1).cast("long").as("dup_words"))
  }

  private[graft] def perDocSpans(spark: SparkSession, dir: String): DataFrame = {
    val s = shingleStarts(spark, dir)
    val dup = s.groupBy(col("sh")).agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") >= 2)
    spansFromDupPos(s.join(dup.select("sh"), "sh")
      .select(col("doc_id"), col("nw"), col("pos")))
  }

  /** L358 — exact-substring dedup report: per affected document, the
    * number of maximal duplicated spans, the words they cover, and the
    * duplicated fraction — the Lee et al. 2022 ExactSubstr readout
    * (their pipeline then drops or trims those spans; the report is the
    * audit artifact a dataset card cites, and [[Llm9.datasetCard]]
    * folds its per-language rate in as `substr_dup_rate`). */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    perDocSpans(spark, dir)
      .select(col("doc_id"), col("nw").as("n_words"), col("n_dup_spans"),
        col("dup_words"),
        round(col("dup_words").cast("double") / col("nw").cast("double"), 6)
          .as("dup_ratio"))
      .orderBy(col("doc_id"))

  /** L359 — top offending duplicated spans: the 10 most-repeated
    * K-word shingles corpus-wide with occurrence count, distinct-doc
    * spread, and the span text recovered from the first (doc, pos)
    * occurrence — the "what IS this boilerplate" drill-down every
    * dedup audit runs right after the per-doc rates. The top-10 sort is
    * total (n_occ desc, then the shingle hash both engines compute
    * identically); the representative occurrence is the row_number-1
    * row per shingle under (doc_id, pos) — deterministic at any
    * parallelism. The text recovery joins the ≤10 representative rows
    * back to the corpus (broadcast side is the 10 rows). */
  def dedupSubstringSpans(spark: SparkSession, dir: String): DataFrame = {
    val s = shingleStarts(spark, dir)
    val top = s.groupBy(col("sh")).agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") >= 2)
      .orderBy(col("n_occ").desc, col("sh"))
      .limit(10)
    val j = s.join(broadcast(top), "sh")
      .select(col("sh"), col("n_occ"), col("doc_id"), col("pos"))
    val ag = j.groupBy(col("sh"), col("n_occ"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val rep = j.withColumn("rn", row_number().over(
        Window.partitionBy(col("sh")).orderBy(col("doc_id"), col("pos"))))
      .where(col("rn") === 1)
      .select(col("sh"), col("doc_id"), col("pos"))
    val docsW = documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    ag.join(rep, "sh").join(docsW, "doc_id")
      .select(col("n_occ"), col("n_docs"), col("doc_id").as("rep_doc"),
        col("pos").cast("long").as("rep_pos"),
        expr(s"concat_ws(' ', slice(w, pos + 1, $ShingleK))").as("span_text"))
      .orderBy(col("n_occ").desc, col("span_text"))
  }

  /** L364 — incremental (keep-first) exact-substring dedup: the span
    * report under the semantics an ONLINE deduper actually applies —
    * the lexicographically FIRST occurrence of each shingle (by
    * (doc_id, pos)) is the keeper, and only LATER occurrences are
    * duplicated material to trim. Lee et al. 2022 drop one side of
    * each duplicated span exactly this way; L358 by contrast marks
    * every occurrence (the audit grain — "how much of the corpus
    * participates in duplication"), so L358's dup_words bounds this
    * one's from above, and the difference is precisely the kept
    * canonical copies. Same shingle-hash shuffle key (the row_number
    * window partitions by sh — collision-proportional, never
    * all-pairs), same per-doc island merge via [[spansFromDupPos]].
    * The streaming twin ([[graft.streaming.Streams3.substrDedupTws]])
    * replays this prefix semantics one arriving doc at a time against
    * shingle-keyed state — the twin table pins batch ≡ streaming. */
  def dedupSubstringIncr(spark: SparkSession, dir: String): DataFrame = {
    val s = shingleStarts(spark, dir)
    val wf = Window.partitionBy(col("sh")).orderBy(col("doc_id"), col("pos"))
    spansFromDupPos(s
      .withColumn("rn", row_number().over(wf))
      .where(col("rn") >= 2)
      .select(col("doc_id"), col("nw"), col("pos")))
      .select(col("doc_id"), col("nw").as("n_words"), col("n_dup_spans"),
        col("dup_words"),
        round(col("dup_words").cast("double") / col("nw").cast("double"), 6)
          .as("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** L362 — Heaps'-law vocabulary-growth fit (Heaps 1978; Herdan 1960):
    * V(N) ≈ k·N^β over cumulative corpus prefixes — the growth-curve
    * companion to L228's Zipf rank–frequency fit (the two laws are the
    * standard paired sanity probes that a scraped corpus is
    * language-like: natural text keeps β ≈ 0.4–0.6; template spam shows
    * β → 0, id-heavy logs β → 1) and the dynamic counterpart of L258's
    * point-in-time TTR. Checkpoints are 25-doc blocks in doc_id order:
    * a word's contribution to vocabulary growth is located at its
    * FIRST-occurrence doc (one vocabulary-bounded min-agg — no
    * per-token global positions, no unpartitioned token-grain window),
    * per-block token and new-type counts aggregate doc-grain, and the
    * cumulative (N, V) curve comes from [[PrefixScan]] over the
    * block-grain frame (the r11 scale rule: the scan frame is 1/25th
    * of doc grain, never value grain). Fit = the L228 six-sums
    * closed form over (ln N, ln V), lns rounded 6dp before the
    * decimal sums (the cross-libm contract); intercept reported as
    * ln k (exp would reopen the libm question the contract closes).
    * Grand totals ride free off the PrefixScan pass-1 offsets.
    * On the synthetic fixture the probe FIRES: the corpus vocabulary
    * saturates at 31 types inside the first 25-doc block, so β ≈ 0 —
    * precisely the template-spam signature the probe exists to
    * surface (a natural-language corpus would fit β ≈ 0.4–0.6). */
  def heapsLaw(spark: SparkSession, dir: String): DataFrame = {
    val dl = documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("nw"))
    val tok = dl.groupBy(expr("doc_id div 25").as("cg"))
      .agg(sum(col("nw")).as("toks"))
    val vn = dl.select(col("doc_id"), explode(col("w")).as("word"))
      .groupBy("word").agg(min(col("doc_id")).as("fd"))
      .groupBy(expr("fd div 25").as("cg")).agg(count(lit(1)).as("nv"))
    val cg = tok.join(vn, Seq("cg"), "left")
      .select(col("cg"), col("toks"), coalesce(col("nv"), lit(0L)).as("nv"))
    val (scanned, totals) = PrefixScan(cg, Seq("cg"),
      sumsLong = Seq("toks" -> "n_tok", "nv" -> "n_voc"))
    val xy = scanned.select(
      round(log(col("n_tok").cast("double")), 6).as("x"),
      round(log(col("n_voc").cast("double")), 6).as("y"))
    val s = Llm8.sixSums(xy)
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(col("n").as("n_checkpoints"),
      lit(totals.longs("toks")).as("n_tokens"),
      lit(totals.longs("nv")).as("v_types"),
      round(slope, 6).as("beta"),
      round((col("sy") - col("sx") * slope) / col("n").cast("double"), 6)
        .as("ln_k"),
      round(((col("n") * col("sxy") - col("sx") * col("sy")) *
          (col("n") * col("sxy") - col("sx") * col("sy"))) /
        ((col("n") * col("sxx") - col("sx") * col("sx")) *
          (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("r2"))
  }

  /** DuckDB CTE chain ending in `ss_doc(doc_id, nw, n_dup_spans,
    * dup_words)` — the [[perDocSpans]] twin, shared verbatim by the
    * `llm_dedup_substring` oracle and [[Llm9]]'s dataset-card oracle so
    * the two keys cannot drift on the span arithmetic. */
  private[graft] val perDocSpansSql: String =
    s"""ss_d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       ss_n AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS nw
         FROM ss_d WHERE len(w) >= 16),
       ss_u AS (SELECT doc_id, nw, w, unnest(range(1, nw - 14)) AS i
         FROM ss_n),
       ss_s AS (SELECT doc_id, nw, i - 1 AS pos,
           ${h48Sql("array_to_string(w[i:i+15], ' ')")} AS sh
         FROM ss_u),
       ss_dup AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS n_occ
         FROM ss_s GROUP BY sh HAVING COUNT(*) >= 2),
       ss_dp AS (SELECT doc_id, nw, pos FROM ss_s JOIN ss_dup USING (sh)),
       ss_brk AS (SELECT doc_id, nw, pos,
           CASE WHEN pos - LAG(pos) OVER
                 (PARTITION BY doc_id ORDER BY pos) > 16
             THEN 1 ELSE 0 END AS brk
         FROM ss_dp),
       ss_isl AS (SELECT doc_id, nw, pos,
           SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         FROM ss_brk),
       ss_sp AS (SELECT doc_id, nw, island, MIN(pos) AS sp_s,
           MAX(pos) + 15 AS sp_e
         FROM ss_isl GROUP BY 1, 2, 3),
       ss_doc AS (SELECT doc_id, nw,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(sp_e - sp_s + 1) AS BIGINT) AS dup_words
         FROM ss_sp GROUP BY 1, 2)"""

  val entries: Map[String, Op] = Map(
    "llm_dedup_substring" -> Op(dedupSubstring,
      s"""WITH $perDocSpansSql
         SELECT doc_id, nw AS n_words, n_dup_spans, dup_words,
           round(CAST(dup_words AS DOUBLE) / CAST(nw AS DOUBLE), 6)
             AS dup_ratio
         FROM ss_doc ORDER BY doc_id"""),
    "llm_dedup_substring_spans" -> Op(dedupSubstringSpans,
      s"""WITH $perDocSpansSql,
         top10 AS (SELECT sh, n_occ FROM ss_dup
           ORDER BY n_occ DESC, sh LIMIT 10),
         j AS (SELECT s.sh, t.n_occ, s.doc_id, s.pos
           FROM ss_s s JOIN top10 t USING (sh)),
         ag AS (SELECT sh, n_occ,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
           FROM j GROUP BY 1, 2),
         rep AS (SELECT sh, doc_id, pos FROM
             (SELECT sh, doc_id, pos, ROW_NUMBER() OVER
               (PARTITION BY sh ORDER BY doc_id, pos) AS rn FROM j)
           WHERE rn = 1)
         SELECT ag.n_occ, ag.n_docs, rep.doc_id AS rep_doc,
           CAST(rep.pos AS BIGINT) AS rep_pos,
           array_to_string(d.w[rep.pos + 1 : rep.pos + 16], ' ')
             AS span_text
         FROM ag JOIN rep USING (sh) JOIN ss_d d ON rep.doc_id = d.doc_id
         ORDER BY ag.n_occ DESC, span_text"""),
    "llm_dedup_substring_incr" -> Op(dedupSubstringIncr,
      s"""WITH $perDocSpansSql,
         inc_d AS (SELECT doc_id, nw, pos FROM
             (SELECT doc_id, nw, pos, ROW_NUMBER() OVER
               (PARTITION BY sh ORDER BY doc_id, pos) AS rn FROM ss_s)
           WHERE rn >= 2),
         inc_b AS (SELECT doc_id, nw, pos,
             CASE WHEN pos - LAG(pos) OVER
                   (PARTITION BY doc_id ORDER BY pos) > 16
               THEN 1 ELSE 0 END AS brk
           FROM inc_d),
         inc_i AS (SELECT doc_id, nw, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
           FROM inc_b),
         inc_s AS (SELECT doc_id, nw, island, MIN(pos) AS sp_s,
             MAX(pos) + 15 AS sp_e
           FROM inc_i GROUP BY 1, 2, 3)
         SELECT doc_id, nw AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(sp_e - sp_s + 1) AS BIGINT) AS dup_words,
           round(CAST(SUM(sp_e - sp_s + 1) AS BIGINT)
             / CAST(nw AS DOUBLE), 6) AS dup_ratio
         FROM inc_s GROUP BY doc_id, nw ORDER BY doc_id"""),
    "llm_heaps_law" -> Op(heapsLaw,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         dl AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS nw FROM d),
         tok AS (SELECT doc_id // 25 AS cg, CAST(SUM(nw) AS BIGINT) AS toks
           FROM dl GROUP BY 1),
         fst AS (SELECT word, MIN(doc_id) AS fd FROM
             (SELECT doc_id, unnest(w) AS word FROM dl) GROUP BY 1),
         vn AS (SELECT fd // 25 AS cg, CAST(COUNT(*) AS BIGINT) AS nv
           FROM fst GROUP BY 1),
         cp AS (SELECT t.cg,
             SUM(t.toks) OVER (ORDER BY t.cg) AS n_tok,
             SUM(COALESCE(v.nv, 0)) OVER (ORDER BY t.cg) AS n_voc
           FROM tok t LEFT JOIN vn v USING (cg)),
         xy AS (SELECT round(ln(n_tok), 6) AS x, round(ln(n_voc), 6) AS y
           FROM cp),
         s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(round(y * y, 6) AS DECIMAL(18,6))) AS DOUBLE) AS syy
           FROM xy),
         tot AS (SELECT CAST(SUM(nw) AS BIGINT) AS n_tokens FROM dl),
         vt AS (SELECT CAST(COUNT(*) AS BIGINT) AS v_types FROM fst)
         SELECT s.n AS n_checkpoints, tot.n_tokens, vt.v_types,
           round((s.n * sxy - sx * sy) / (s.n * sxx - sx * sx), 6) AS beta,
           round((sy - sx * ((s.n * sxy - sx * sy) / (s.n * sxx - sx * sx)))
             / s.n, 6) AS ln_k,
           round(((s.n * sxy - sx * sy) * (s.n * sxy - sx * sy)) /
             ((s.n * sxx - sx * sx) * (s.n * syy - sy * sy)), 6) AS r2
         FROM s, tot, vt"""),
  )
}
