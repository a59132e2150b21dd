package graft.ops

import graft.Tables._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.BinaryType

/** LLM-pipeline widening, round 9 continuation: the two sketch-backed
  * corpus operators every at-scale pipeline runs before its exact passes
  * (Bloom-prefiltered decontamination, count-min heavy hitters) and the
  * third real multimodal codec (WAV audio next to the PNG/BMP images of
  * [[graft.ops.MmDecode]]).
  */
object Llm6 {

  // ------------------------------------------------------------------
  // Bloom-prefiltered decontamination
  // ------------------------------------------------------------------

  /** Word-trigram stream per doc — [[Llm3.trigrams]], keeping the source. */
  private def grams(df: DataFrame): DataFrame =
    Llm3.trigrams(df, "gram", Seq("doc_id", "source"))

  /** `might_contain(bloomBytes, xxhash64(gram))` as a Column. The Bloom
    * side must be a CONSTANT (the expression contract Spark's own runtime
    * filters obey — `InjectRuntimeFilter` feeds it a scalar subquery), so
    * the distributed `bloom_filter_agg` result is collected once — the
    * sketch IS dim-sized by design, that being its entire point — and
    * re-embedded as a literal. Codegen'd on the probe side; no UDF. */
  private def mightContain(bloomBytes: Array[Byte], gram: Column): Column =
    ColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBytes, BinaryType),
      ColumnBridge.expression(xxhash64(gram))))

  /** Bloom-PREFILTERED benchmark decontamination — the scale-path variant
    * of [[Llm3.decontaminate]]. At 100 TB the corpus-side gram stream is
    * the expensive half of the confirm join's shuffle: the Bloom
    * prefilter (built distributed over the benchmark grams by the
    * engine's own `bloom_filter_agg`, shipped to every probe task as a
    * fixed ~50 KB bit array) discards non-member grams BEFORE any
    * shuffle, at a row-local `xxhash64` + bit-probe per gram. False
    * positives (~2% at these dimensions) pass the prefilter and die in
    * the exact broadcast-confirm join, so the RESULT is exact — the
    * oracle is pure SQL with no bloom replica — while the shuffle volume
    * drops from all-grams to true-matches + ε.
    *
    * Output is the per-source hygiene summary a mixture owner consumes
    * (docs checked / contaminated / clean per source), not the per-doc
    * flags [[Llm3.decontaminate]] already declares. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val g = grams(docs)
    val bench = g.where(col("source") === "src0")
      .select(col("gram")).distinct()
    // distributed build; one compact binary back to the driver (guarded)
    // the engine's own BloomFilterAggregate (what InjectRuntimeFilter
    // builds); not in the SQL FunctionRegistry, hence the bridge
    val bloomAgg = ColumnBridge.column(BloomFilterAggregate(
      ColumnBridge.expression(xxhash64(col("gram"))),
      Literal(50000L), Literal(400000L), 0, 0).toAggregateExpression())
    val skRow = boundedCollect(bench.agg(bloomAgg.as("sk")), 1, "bloom sketch")
    val skBytes: Option[Array[Byte]] =
      Option(skRow.head.getAs[Array[Byte]]("sk"))
    val corpus = g.where(col("source") =!= "src0")
      .select(col("doc_id"), col("gram")).distinct()
    val cand = skBytes match {
      case Some(bytes) => corpus.where(mightContain(bytes, col("gram")))
      case None => corpus.where(lit(false)) // empty benchmark ⇒ all clean
    }
    val shared = cand.join(broadcast(bench), "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    docs.where(col("source") =!= "src0")
      .select(col("doc_id"), col("source"))
      .join(shared, Seq("doc_id"), "left")
      .withColumn("contaminated",
        coalesce(col("n_shared") >= 3, lit(false)))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("n_contaminated"),
        sum(when(col("contaminated"), 0L).otherwise(1L)).as("n_clean"))
      .orderBy("source")
  }

  // ------------------------------------------------------------------
  // Count-min heavy hitters
  // ------------------------------------------------------------------

  private val CmsDepth = 4
  private val CmsWidth = 16

  /** Heavy hitters THROUGH the count-min sketch: the top-20 tokens by
    * exact count, each carrying the CMS point estimate and its overcount
    * (est − exact ≥ 0 always — CMS never underestimates). The sketch is
    * one [[graft.functions.CountMinAgg]] pass (fixed depth·width longs of
    * state regardless of stream length, partial/merge = cell-wise adds),
    * deliberately sized at width 16 < |vocab| = 31 so collisions — and
    * therefore nonzero overcounts — provably occur on the fixtures.
    *
    * Because the hash family is portable integer arithmetic, the oracle
    * rebuilds every counter AND every estimate exactly in SQL: this
    * sketch is hash-gated, not tolerance-gated (same bar as
    * `llm_minhash_src_sim`, stronger than the `approx_*` verdict rows).
    * The estimate probe is `element_at`/`least` over the broadcast 1-row
    * sketch — codegen'd, no UDF, no driver loop. */
  def cmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val tok = documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("token"))
    val sk = tok.agg(
      graft.functions.CountMin.sketch(h48(col("token")), CmsDepth, CmsWidth)
        .as("sk"))
    val top = tok.groupBy("token").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("token").asc)
      .limit(20)
    top.crossJoin(broadcast(sk)) // 1-row broadcast: CartesianGuard-exempt
      .withColumn("n_cms", graft.functions.CountMin.estimate(
        col("sk"), h48(col("token")), CmsDepth, CmsWidth))
      .select(col("token"), col("n_exact"), col("n_cms"),
        (col("n_cms") - col("n_exact")).as("overcount"))
      .orderBy(col("n_exact").desc, col("token").asc)
  }

  // ------------------------------------------------------------------
  // KMV bottom-k distinct sketch with set operations
  // ------------------------------------------------------------------

  private val KmvK = 256

  /** L193 — KMV/bottom-k distinct sketch with SET-OPERATION estimates
    * (Beyer et al. SIGMOD 2007; the DataSketches theta-sketch design):
    * the sketch family's cardinality-with-algebra member — HLL (D4)
    * estimates one set's size, but only KMV sketches COMPOSE: the union
    * of two sketches is a sketch of the union, and the intersection is
    * estimated through the Jaccard fraction of the union's bottom-k
    * that lands in both sides. The at-scale shape: each side's exact
    * distinct pass shuffles every key; the sketch ships one O(k) buffer
    * per side, and every set-algebra answer is then a few array ops on
    * two 1-row broadcasts — the pattern a 100 TB audience-overlap /
    * join-cardinality estimator actually deploys.
    *
    * Sets: customers with URGENT (A) vs LOW (B) priority orders —
    * genuinely partial overlap on the fixtures (sf0.01: |A|=1297,
    * |B|=1280, |A∪B|=1468, |A∩B|=1109, all past k=256 so the ESTIMATOR
    * path is exercised; sf0.001's |A|=132 < k exercises the
    * exact-below-k path — both regimes gated across the two SFs).
    * Beside each estimate rides a 3·rsd verdict (rsd = 1/√(k−2)) in
    * EXACT integer arithmetic — (est−exact)²·(k−2) ≤ 9·exact² — so the
    * statistical contract itself is hash-gated, not merely asserted.
    *
    * Estimator arithmetic is exact BIGINT (`(k−1)·2^48 div h_(k)`,
    * union = k smallest of the deduped merge, intersection =
    * n_both·est_union div k) over the portable h48 hash, so the oracle
    * rebuilds the sketches with `ROW_NUMBER() ≤ k` and hash-gates every
    * ESTIMATE bit-for-bit — same bar as the CMS above. Exact sides ride
    * beside the estimates, one flags-pass over the filtered orders.
    * Every estimator input is a 1-row broadcast; `array_union` /
    * `array_intersect` / `slice` are codegen'd built-ins, no UDF. */
  def kmvSetops(spark: SparkSession, dir: String): DataFrame = {
    val flagged = orders(spark, dir)
      .where(col("o_orderpriority").startsWith("1") ||
        col("o_orderpriority").startsWith("5"))
      .select(col("o_custkey"),
        col("o_orderpriority").startsWith("1").as("is_a"),
        col("o_orderpriority").startsWith("5").as("is_b"))
    val exact = flagged.groupBy("o_custkey")
      .agg(max(when(col("is_a"), 1L).otherwise(0L)).as("a"),
        max(when(col("is_b"), 1L).otherwise(0L)).as("b"))
      .agg(sum("a").as("n_a_exact"), sum("b").as("n_b_exact"),
        count(lit(1)).as("n_union_exact"),
        sum(expr("a * b")).as("n_inter_exact"))
    def side(flag: String, as: String) =
      flagged.where(col(flag)).agg(graft.functions.Kmv.sketch(
        h48(col("o_custkey").cast("string")), KmvK).as(as))
    import graft.functions.Kmv.estimateSql
    exact.crossJoin(broadcast(side("is_a", "ska"))) // 1-row broadcasts:
      .crossJoin(broadcast(side("is_b", "skb"))) // CartesianGuard-exempt
      .withColumn("sku",
        slice(array_sort(array_union(col("ska"), col("skb"))), 1, KmvK))
      .withColumn("n_a_kmv", expr(estimateSql("ska", KmvK)))
      .withColumn("n_b_kmv", expr(estimateSql("skb", KmvK)))
      .withColumn("n_union_kmv", expr(estimateSql("sku", KmvK)))
      .withColumn("n_both", size(
        array_intersect(array_intersect(col("sku"), col("ska")), col("skb"))))
      .withColumn("n_inter_kmv",
        expr(s"CASE WHEN size(sku) < $KmvK THEN CAST(n_both AS BIGINT) " +
          s"ELSE (n_both * n_union_kmv) div $KmvK END"))
      .select(col("n_a_exact"), col("n_a_kmv"), col("n_b_exact"),
        col("n_b_kmv"), col("n_union_exact"), col("n_union_kmv"),
        col("n_inter_exact"), col("n_inter_kmv"),
        inBand("n_a_kmv", "n_a_exact").as("a_in_3rsd"),
        inBand("n_b_kmv", "n_b_exact").as("b_in_3rsd"),
        inBand("n_union_kmv", "n_union_exact").as("union_in_3rsd"))
  }

  /** |est−exact| ≤ 3·exact/√(k−2) as exact BIGINT arithmetic (square
    * both sides): true ⟺ (est−exact)²·(k−2) ≤ 9·exact². */
  private def inBand(est: String, exact: String): Column =
    (col(est) - col(exact)) * (col(est) - col(exact)) * lit((KmvK - 2).toLong) <=
      lit(9L) * col(exact) * col(exact)

  // ------------------------------------------------------------------
  // Text normalization (mutate → normalize → prove recovery)
  // ------------------------------------------------------------------

  /** L197 — text NORMALIZATION pass (case folding, whitespace collapse,
    * trim — the first mechanical scrub of every ingest pipeline, run
    * before tokenization or any dedup hash is computed, because "Foo
    * bar" and "foo  bar" must collide). The fixture text is already
    * canonical (lowercase, single-spaced, trimmed — asserted by the
    * recovery contract), so a normalizer run directly on it would be the
    * identity and its transform paths dead code. Instead the corpus is
    * deterministically DIRTIED first (the `cdc_table_diff` mutated-twin
    * pattern): doc_id≡0 (mod 3) uppercased, (mod 5) double-spaced,
    * (mod 7) wrapped in tab/space padding, (mod 11) spaces turned into
    * newlines — overlapping rules compose. Normalization (lower →
    * collapse `[ \t\n]+` → trim) must then RECOVER the original text
    * exactly: `n_recovered = n_docs`, and the corpus-sum of h48 hashes
    * of normalized text equals that of the originals — a corpus-level
    * checksum the oracle re-derives, so a single mangled character
    * anywhere fails the gate. Row-local end-to-end (regexp/case ops are
    * codegen'd `string` expressions); one global aggregate. */
  def textNormalize(spark: SparkSession, dir: String): DataFrame = {
    val d = documents(spark, dir).select(col("doc_id"), col("text"))
    val t1 = when(col("doc_id") % 3 === 0, upper(col("text")))
      .otherwise(col("text"))
    val t2 = when(col("doc_id") % 5 === 0, regexp_replace(t1, " ", "  "))
      .otherwise(t1)
    val t3 = when(col("doc_id") % 7 === 0, concat(lit(" \t"), t2, lit(" ")))
      .otherwise(t2)
    val dirty = when(col("doc_id") % 11 === 0, regexp_replace(t3, " ", "\n"))
      .otherwise(t3)
    val norm = trim(regexp_replace(lower(dirty), "[ \t\n]+", " "))
    d.select(col("doc_id"), col("text"), dirty.as("dirty"), norm.as("norm"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("dirty") =!= col("text"), 1L).otherwise(0L))
          .as("n_mutated"),
        sum(when(col("norm") === col("text"), 1L).otherwise(0L))
          .as("n_recovered"),
        sum(length(col("dirty")).cast("long")).as("chars_dirty"),
        sum(length(col("norm")).cast("long")).as("chars_norm"),
        (sum(h48(col("norm"))) === sum(h48(col("text")))).as("h_sum_match"))
  }

  // ------------------------------------------------------------------
  // Real WAV audio codec path
  // ------------------------------------------------------------------

  /** Audio decode + feature extraction over a REAL binary WAV column —
    * the audio sibling of [[Llm.mmDecodeMeta]]: stage 1 synthesizes a
    * genuine RIFF/WAVE container per document ([[MmAudio.synthesize]] —
    * no audio fixtures ship in the container), stage 2 parses it back
    * with `javax.sound.sampled.AudioSystem` (header sniff, format parse,
    * PCM frame read) and reports true encoding/rate/frames plus the
    * standard first-pass audio features (peak, mean |s|, RMS). The
    * waveform is a closed-form integer sawtooth, so the oracle predicts
    * every output — including both double-valued features, which are
    * exact rationals under 2^53 — without any decimal quantization. A
    * codec regression (header misparse, byte-order flip, frame
    * truncation) fails the hash gate. Row-local end-to-end: nothing
    * shuffles before the final sort at any corpus size. */
  def mmAudioDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    fanout(documents(spark, dir)
        .select(col("doc_id"), col("n_chars").cast("int").as("n_chars")))
      .as[(Long, Int)] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map { case (id, nc) =>
        MmAudio.Wav(id, MmAudio.synthesize(id, nc))
      })
      .mapPartitions(_.map(MmAudio.decode))
      .toDF()
      .orderBy("doc_id")
  }

  /** L331 — windowed audio energy over the DECODED multimodal column
    * (the frame-level RMS ladder every audio featurizer starts from —
    * VAD, loudness normalization, and silence trimming all read this
    * table; the frame-grain deepening of L:J5's whole-clip RMS in
    * [[mmAudioDecode]]). Each document's WAV payload is decoded
    * through the real RIFF/PCM reader ([[MmAudio.samplesOf]]) inside
    * mapPartitions — row-local, no shuffle — then split into
    * 64-sample frames (full frames only): per-frame RMS from EXACT
    * integer Σv², the peak frame by (rms, −index), and the mean frame
    * RMS as an exact micro-integer average. The oracle predicts every
    * number from the fixture's closed-form waveform — the decoder is
    * verified, not trusted. */
  def mmAudioEnergy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val W = 64
    fanout(documents(spark, dir)
        .select(col("doc_id"), col("n_chars").cast("int").as("n_chars")))
      .as[(Long, Int)] // fanout: r17, see Tables.fanout
      .mapPartitions(_.map { case (id, nc) =>
        val s = MmAudio.samplesOf(MmAudio.Wav(id, MmAudio.synthesize(id, nc)))
        val frames = s.grouped(W).filter(_.length == W).toArray
        val rms = frames.map { f =>
          var ssq = 0L
          f.foreach(v => ssq += v.toLong * v)
          graft.functions.ArrayMath.round6(math.sqrt(ssq.toDouble / W))
        }
        val peakIdx = rms.zipWithIndex.maxBy { case (r, i) => (r, -i) }._2
        val sumMicros = rms.map(r => math.rint(r * 1e6).toLong).sum
        // exact half-up micro division: the mean of k 6dp values lands
        // on true .5e-6 midpoints where double rounding splits engines
        val meanRms = ((2 * sumMicros + rms.length) / (2L * rms.length)) / 1e6
        (id, rms.length.toLong, peakIdx.toLong, rms(peakIdx), meanRms)
      })
      .toDF("doc_id", "n_windows", "peak_window", "peak_rms", "mean_rms")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------

  private def h48S(e: String): String = graft.Tables.h48Sql(e)

  val entries: Map[String, Op] = Map(
    // exact SQL — the bloom prefilter is a physical optimization whose
    // false positives the exact confirm join removes
    "llm_bloom_decontaminate" -> Op(bloomDecontaminate,
      s"""WITH ${Llm3.benchGramsSql},
         shared AS (SELECT doc_id, COUNT(*) AS n FROM corp
           JOIN bench USING (gram) GROUP BY 1),
         flags AS (SELECT d.doc_id, d.source, COALESCE(s.n, 0) >= 3 AS cont
           FROM (SELECT doc_id, source FROM documents WHERE source <> 'src0') d
           LEFT JOIN shared s USING (doc_id))
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN cont THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(SUM(CASE WHEN cont THEN 0 ELSE 1 END) AS BIGINT) AS n_clean
         FROM flags GROUP BY source ORDER BY source"""),
    "llm_cms_heavy_hitters" -> Op(cmsHeavyHitters, {
      val w = CmsWidth
      val cell = graft.functions.CountMin.cellSql("h", "j", w)
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
             FROM documents),
           counts AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY 1),
           ch AS (SELECT token, n, ${h48S("token")} AS h FROM counts),
           cells AS (SELECT token, n, j, $cell AS cell
             FROM ch CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS j) js),
           sketch AS (SELECT j, cell, CAST(SUM(n) AS BIGINT) AS v
             FROM cells GROUP BY 1, 2),
           est AS (SELECT c.token, MIN(s.v) AS n_cms
             FROM cells c JOIN sketch s USING (j, cell) GROUP BY 1),
           top AS (SELECT token, CAST(n AS BIGINT) AS n_exact FROM counts
             ORDER BY n DESC, token LIMIT 20)
           SELECT t.token, t.n_exact, e.n_cms,
             CAST(e.n_cms - t.n_exact AS BIGINT) AS overcount
           FROM top t JOIN est e USING (token)
           ORDER BY n_exact DESC, token"""
    }),
    "agg_kmv_setops" -> Op(kmvSetops, {
      val k = KmvK
      val h = h48S("CAST(o_custkey AS VARCHAR)")
      import graft.functions.Kmv.estimateDuck
      s"""WITH f AS (SELECT o_custkey,
             MAX(CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END) AS a,
             MAX(CASE WHEN o_orderpriority LIKE '5%' THEN 1 ELSE 0 END) AS b
           FROM orders
           WHERE o_orderpriority LIKE '1%' OR o_orderpriority LIKE '5%'
           GROUP BY 1),
         ex AS (SELECT CAST(SUM(a) AS BIGINT) AS n_a_exact,
             CAST(SUM(b) AS BIGINT) AS n_b_exact,
             CAST(COUNT(*) AS BIGINT) AS n_union_exact,
             CAST(SUM(a * b) AS BIGINT) AS n_inter_exact
           FROM f),
         ha AS (SELECT DISTINCT $h AS h FROM orders
           WHERE o_orderpriority LIKE '1%'),
         hb AS (SELECT DISTINCT $h AS h FROM orders
           WHERE o_orderpriority LIKE '5%'),
         ka AS (SELECT h FROM
           (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM ha)
           WHERE rn <= $k),
         kb AS (SELECT h FROM
           (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM hb)
           WHERE rn <= $k),
         ku AS (SELECT h FROM
           (SELECT h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM
             (SELECT h FROM ka UNION SELECT h FROM kb))
           WHERE rn <= $k),
         sa AS (SELECT COUNT(*) AS sz, MAX(h) AS hk FROM ka),
         sb AS (SELECT COUNT(*) AS sz, MAX(h) AS hk FROM kb),
         su AS (SELECT COUNT(*) AS sz, MAX(h) AS hk FROM ku),
         bo AS (SELECT COUNT(*) AS c FROM ku
           WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)),
         est AS (SELECT
             ${estimateDuck("sa.sz", "sa.hk", k)} AS n_a_kmv,
             ${estimateDuck("sb.sz", "sb.hk", k)} AS n_b_kmv,
             ${estimateDuck("su.sz", "su.hk", k)} AS n_union_kmv,
             su.sz AS szu, bo.c AS n_both
           FROM sa, sb, su, bo)
         SELECT ex.n_a_exact, est.n_a_kmv, ex.n_b_exact, est.n_b_kmv,
           ex.n_union_exact, est.n_union_kmv, ex.n_inter_exact,
           CASE WHEN est.szu < $k THEN CAST(est.n_both AS BIGINT)
             ELSE CAST((est.n_both * est.n_union_kmv) // $k AS BIGINT)
           END AS n_inter_kmv,
           (est.n_a_kmv - ex.n_a_exact) * (est.n_a_kmv - ex.n_a_exact)
             * ${k - 2} <= 9 * ex.n_a_exact * ex.n_a_exact AS a_in_3rsd,
           (est.n_b_kmv - ex.n_b_exact) * (est.n_b_kmv - ex.n_b_exact)
             * ${k - 2} <= 9 * ex.n_b_exact * ex.n_b_exact AS b_in_3rsd,
           (est.n_union_kmv - ex.n_union_exact)
             * (est.n_union_kmv - ex.n_union_exact) * ${k - 2}
             <= 9 * ex.n_union_exact * ex.n_union_exact AS union_in_3rsd
         FROM ex, est"""
    }),
    "llm_text_normalize" -> Op(textNormalize, {
      val h = h48S("norm")
      val hOrig = h48S("text")
      s"""WITH m AS (SELECT doc_id, text,
             CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END AS t1
           FROM documents),
         m2 AS (SELECT doc_id, text,
             CASE WHEN doc_id % 5 = 0
               THEN regexp_replace(t1, ' ', '  ', 'g') ELSE t1 END AS t2
           FROM m),
         m3 AS (SELECT doc_id, text,
             CASE WHEN doc_id % 7 = 0
               THEN ' ' || chr(9) || t2 || ' ' ELSE t2 END AS t3
           FROM m2),
         m4 AS (SELECT doc_id, text,
             CASE WHEN doc_id % 11 = 0
               THEN regexp_replace(t3, ' ', chr(10), 'g') ELSE t3 END AS dirty
           FROM m3),
         n AS (SELECT doc_id, text, dirty,
             trim(regexp_replace(lower(dirty), '[ \t\n]+', ' ', 'g')) AS norm
           FROM m4)
         SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dirty <> text THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mutated,
           CAST(SUM(CASE WHEN norm = text THEN 1 ELSE 0 END) AS BIGINT)
             AS n_recovered,
           CAST(SUM(length(dirty)) AS BIGINT) AS chars_dirty,
           CAST(SUM(length(norm)) AS BIGINT) AS chars_norm,
           CAST(SUM($h) AS BIGINT) = CAST(SUM($hOrig) AS BIGINT)
             AS h_sum_match
         FROM n"""
    }),
    "mm_audio_energy" -> Op(mmAudioEnergy,
      """WITH d AS (SELECT doc_id, 256 + (n_chars % 512) AS n,
             (doc_id % 37) + 3 AS st
           FROM documents),
         s AS (SELECT doc_id, i // 64 AS w,
             ((i * st + doc_id) % 4001) - 2000 AS v
           FROM (SELECT doc_id, st, unnest(range(0, (n // 64) * 64)) AS i
             FROM d)),
         fr AS (SELECT doc_id, w,
             round(sqrt(CAST(SUM(v * v) AS DOUBLE) / 64.0), 6) AS rms
           FROM s GROUP BY 1, 2),
         pk AS (SELECT doc_id, w, rms,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY rms DESC, w) AS rn
           FROM fr),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST((2 * CAST(SUM(CAST(rms AS DECIMAL(18,6))) * 1000000
                 AS BIGINT) + COUNT(*)) // (2 * COUNT(*)) AS DOUBLE) / 1e6
               AS mean_rms
           FROM fr GROUP BY 1)
         SELECT agg.doc_id, n_windows, CAST(pk.w AS BIGINT) AS peak_window,
           pk.rms AS peak_rms, mean_rms
         FROM agg JOIN pk ON agg.doc_id = pk.doc_id AND pk.rn = 1
         ORDER BY agg.doc_id"""),
    "mm_audio_decode" -> Op(mmAudioDecode,
      """WITH d AS (SELECT doc_id, 256 + (n_chars % 512) AS n,
             8000 + 1000 * (doc_id % 3) AS rate,
             (doc_id % 37) + 3 AS st
           FROM documents),
         s AS (SELECT doc_id, ((i * st + doc_id) % 4001) - 2000 AS v
           FROM (SELECT doc_id, st, unnest(range(0, n)) AS i FROM d)),
         agg AS (SELECT doc_id, MAX(abs(v)) AS peak,
             CAST(SUM(abs(v)) AS DOUBLE) AS sabs,
             CAST(SUM(v * v) AS DOUBLE) AS ssq,
             COUNT(*) AS cnt
           FROM s GROUP BY 1)
         SELECT d.doc_id, 'PCM_SIGNED' AS encoding,
           CAST(d.rate AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
           CAST(16 AS INT) AS bits, CAST(d.n AS BIGINT) AS n_frames,
           CAST((d.n * 1000000) // d.rate AS BIGINT) AS duration_us,
           CAST(a.peak AS INT) AS peak,
           a.sabs / d.n AS mean_abs,
           sqrt(a.ssq / d.n) AS rms
         FROM d JOIN agg a USING (doc_id) ORDER BY d.doc_id"""),
  )
}

/** REAL audio codec for [[Llm6.mmAudioDecode]] (see its scaladoc): the
  * container ships no audio fixtures, so each document's payload is
  * SYNTHESIZED as a genuine RIFF/WAVE container (PCM16 mono little-endian,
  * closed-form integer sawtooth samples) through
  * `javax.sound.sampled.AudioSystem`'s own WAVE writer, then DECODED with
  * its reader. Not circular: the reader parses the actual RIFF header and
  * PCM chunk, and the oracle independently predicts from (doc_id,
  * n_chars) what a correct decode must report. */
object MmAudio {

  case class Wav(doc_id: Long, payload: Array[Byte])
  case class AMeta(doc_id: Long, encoding: String, sample_rate: Int,
    channels: Int, bits: Int, n_frames: Long, duration_us: Long,
    peak: Int, mean_abs: Double, rms: Double)

  /** Frame count / rate / waveform stride — closed forms of the fixture
    * columns (mirrored by the oracle SQL verbatim). */
  def nFrames(nChars: Int): Int = 256 + (nChars % 512)
  def rate(docId: Long): Int = (8000 + 1000 * (docId % 3)).toInt
  private def stride(docId: Long): Long = (docId % 37) + 3

  /** Sample i: integer sawtooth in [−2000, 2000] — exact in 64-bit. */
  def sample(docId: Long, i: Int): Int =
    (((i * stride(docId) + docId) % 4001L) - 2000L).toInt

  /** Genuine WAV bytes via the JDK's WAVE file writer. */
  def synthesize(docId: Long, nChars: Int): Array[Byte] = {
    val n = nFrames(nChars)
    val pcm = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      val s = sample(docId, i)
      pcm(2 * i) = (s & 0xff).toByte // little-endian PCM16
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    // direct RIFF/WAVE bytes (byte-identical to AudioSystem.write —
    // FastCodec doc + Round17OptSpec); the DECODE side stays javax.sound
    FastCodec.wavPcm16Mono(rate(docId), pcm)
  }

  /** The JDK's WAVE AudioFileReader, resolved from the SPI registry ONCE.
    * Round-17 optimization (guide §1.2 per-task work, measured off
    * Spark): `AudioSystem.getAudioInputStream` re-walks the provider
    * registry on EVERY call behind a shared lock, so the row-local audio
    * kernels got SLOWER with more cores (0.39 s on 1 thread → 0.90 s on
    * 32 for the same 5 000 decodes). Calling the resolved provider
    * directly runs the identical JDK WAVE decoder — same parse, same
    * failure modes, pinned by Round17OptSpec against the AudioSystem
    * path — without the global registry walk. Falls back to AudioSystem
    * if the SPI enumeration yields no WAVE reader (never on this JDK). */
  private lazy val waveReader: Option[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    val probe = FastCodec.wavPcm16Mono(8000, new Array[Byte](2))
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.find { r =>
        try { r.getAudioInputStream(new java.io.ByteArrayInputStream(probe)).close(); true }
        catch { case _: Throwable => false }
      }
  }

  private def openWav(payload: Array[Byte]): javax.sound.sampled.AudioInputStream =
    waveReader match {
      case Some(r) => r.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
      case None => javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
    }

  /** Decoded PCM sample vector — the same RIFF parse as [[decode]],
    * returning the raw samples for downstream frame-level features. */
  def samplesOf(w: Wav): Array[Int] = {
    val ais = openWav(w.payload)
    try {
      val f = ais.getFormat
      require(!f.isBigEndian && f.getSampleSizeInBits == 16 &&
        f.getChannels == 1, s"unexpected WAV layout for doc ${w.doc_id}")
      val n = ais.getFrameLength.toInt
      val bytes = ais.readAllBytes()
      require(bytes.length == 2 * n, s"short PCM read for doc ${w.doc_id}")
      Array.tabulate(n)(i =>
        ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort.toInt)
    } finally ais.close()
  }

  /** Real decode: RIFF container parse (format chunk → encoding, rate,
    * channels, bits), full PCM frame read, then the first-pass features.
    * All sums are exact integers < 2^53, so `mean_abs` and `rms` are
    * single correctly-rounded double operations of the same rationals
    * DuckDB computes — bit-identical with no quantization. */
  def decode(w: Wav): AMeta = {
    val ais = openWav(w.payload)
    try {
      val f = ais.getFormat
      require(!f.isBigEndian && f.getSampleSizeInBits == 16 &&
        f.getChannels == 1, s"unexpected WAV layout for doc ${w.doc_id}")
      val n = ais.getFrameLength
      val bytes = ais.readAllBytes()
      require(bytes.length == 2 * n, s"short PCM read for doc ${w.doc_id}")
      var (sabs, ssq) = (0L, 0L)
      var peak = 0
      var i = 0
      while (i < n) {
        val s = ((bytes(2 * i + 1) << 8) | (bytes(2 * i) & 0xff)).toShort.toInt
        val a = math.abs(s)
        if (a > peak) peak = a
        sabs += a
        ssq += s.toLong * s
        i += 1
      }
      val sr = math.round(f.getSampleRate).toInt
      AMeta(w.doc_id, f.getEncoding.toString, sr, f.getChannels,
        f.getSampleSizeInBits, n, n * 1000000L / sr, peak,
        sabs.toDouble / n, math.sqrt(ssq.toDouble / n))
    } finally ais.close()
  }
}
