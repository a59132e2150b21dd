package graft.ops

import graft.Tables._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-16 tokenizer-induction widening: unigram language-model
  * tokenizer (Kudo, ACL 2018 — the SentencePiece *unigram* model, the
  * other default pretraining tokenizer beside L370's BPE). Training is
  * hard-EM: seed a piece vocabulary from frequent substrings, find each
  * word's best (Viterbi) segmentation under the current piece costs,
  * re-estimate piece frequencies from those segmentations, prune pieces
  * the EM never uses, and re-segment under the re-estimated model.
  *
  * Engine-stability design: the Viterbi DP's decisions NEVER touch
  * floating point. A piece's cost is −log₂(c/T) in 1/64-log₂ units
  * under [[qlogJvm]] — an integer log₂ (exponent via `bin()` length +
  * 6-bit mantissa) computable bit-identically in Spark SQL, DuckDB SQL,
  * and the JVM (the h48/h48jvm twin discipline). Costs and path sums
  * are int64 (a path of 10⁶ pieces stays < 2⁵³), so the same
  * segmentation wins in every engine at every scale; ties break on the
  * lexicographically smallest segmentation string. qlog(0) = −64 by the
  * same formula (bin(0)='0'), which makes a never-used single-char
  * piece the costliest-but-available fallback — coverage is total by
  * construction since every corpus character is a seed piece.
  *
  * 100-TB shape: everything after the one corpus tokenize lives at the
  * DISTINCT-WORD grain (the L370 trick — vocabulary stands in for the
  * corpus, `cnt` carrying the weight). Each EM round is one
  * vocab-bounded aggregate plus a row-local DP (the `aggregate` HOF —
  * no per-position shuffle, any word length); the only driver
  * round-trips are the two vocab-table collects, both capped at
  * [[VocabCap]] rows (L230 bounded-unroll tier). The piece table rides
  * into the DP as a ≤[[VocabCap]]-entry map literal — broadcast-free
  * by construction. */
object Llm14 {

  /** Same symbol separator as L370's BPE (`Llm11.Sep`): segmentations
    * are carried as U+0001-prefixed piece strings. */
  private val Sep = "\u0001"

  /** Multi-char seed pieces kept (top by seed count, piece-asc tiebreak). */
  private[graft] val TopMulti = 24

  /** Longest piece considered — bounds the DP's per-position fan-in to
    * 4 candidates and the oracle's join width. */
  private[graft] val MaxPieceLen = 4

  /** Driver-collect cap for the vocab tables: TopMulti + the corpus
    * alphabet. An alphabet past ~488 distinct characters fails loudly
    * in boundedCollect rather than growing the driver map silently. */
  private[graft] val VocabCap = 512

  /** Oracle-side word-length unroll bound: the DuckDB twin chains one
    * DP block per character position, so it assumes max word length ≤ 8
    * (true of every fixture SF; the L370 oracle makes the analogous
    * five-merge assumption). The ENGINE handles any length — the
    * `aggregate` HOF iterates `length(word)` steps per row. */
  private[graft] val OracleMaxLen = 8

  /** Integer log₂ in 1/64 units: exponent e = ⌊log₂ c⌋ plus a 6-bit
    * mantissa (top 7 bits of c, offset 64). Monotone in c; qlog(1)=0,
    * qlog(2ᵉ)=64e, qlog(0)=−64. Bit-identical to [[qlogSpark]] /
    * [[qlogDuck]] — pure integer ops, no libm anywhere. */
  private[graft] def qlogJvm(c: Long): Long = {
    require(c >= 0, s"qlog domain is non-negative counts, got $c")
    if (c == 0) -64L
    else {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(c)
      val m = if (e <= 6) c << (6 - e) else c >> (e - 6)
      e * 64L + m - 64L
    }
  }

  /** Spark SQL text of [[qlogJvm]] over expression `x` (a BIGINT ≥ 0).
    * Exposed to Round16Spec so the JVM/Spark parity test pins THIS
    * definition rather than a drift-prone pasted copy (round-17
    * ADVICE). */
  private[graft] def qlogSpark(x: String): String =
    s"((length(bin($x)) - 1) * 64 + (CASE WHEN length(bin($x)) - 1 <= 6 " +
      s"THEN CAST(shiftleft($x, 6 - (length(bin($x)) - 1)) AS BIGINT) " +
      s"ELSE CAST(shiftright($x, (length(bin($x)) - 1) - 6) AS BIGINT) END) - 64)"

  /** DuckDB SQL text of [[qlogJvm]] over expression `x`. */
  private[ops] def qlogDuck(x: String): String =
    s"((length(bin($x)) - 1) * 64 + (CASE WHEN length(bin($x)) - 1 <= 6 " +
      s"THEN $x << (6 - (length(bin($x)) - 1)) " +
      s"ELSE $x >> ((length(bin($x)) - 1) - 6) END) - 64)"

  /** The Viterbi DP as one row-local `aggregate` HOF over character
    * positions: acc[k] = best (cost, seg) covering the first k−1 chars;
    * position i considers the ≤[[MaxPieceLen]] pieces ending at i that
    * exist in the vocab map `v`; `array_min` on the (cost, seg) struct
    * IS the (cost asc, seg asc) total order. Single-char coverage makes
    * every position reachable, so the filter never empties. */
  private val DpAgg: String =
    s"""aggregate(
        sequence(1, length(word)),
        array(named_struct('cost', CAST(0 AS BIGINT), 'seg', '')),
        (acc, i) -> array_append(acc,
          array_min(filter(transform(
            sequence(greatest(1, i - ${MaxPieceLen - 1}), i),
            j -> IF(try_element_at(v, substr(word, j, i - j + 1)) IS NOT NULL,
                    named_struct(
                      'cost', element_at(acc, j).cost +
                        try_element_at(v, substr(word, j, i - j + 1)),
                      'seg', concat(element_at(acc, j).seg, chr(1),
                        substr(word, j, i - j + 1))),
                    CAST(NULL AS STRUCT<cost: BIGINT, seg: STRING>))),
            x -> x IS NOT NULL))),
        acc -> element_at(acc, length(word) + 1))"""

  private def wcFrame(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Seed substring counts at distinct-word grain: every substring of
    * length 1..[[MaxPieceLen]], weighted by word frequency (overlapping
    * occurrences counted — the Kudo seed convention). */
  private def seedCounts(w: DataFrame): DataFrame =
    w.select(col("word"), col("cnt"),
        explode(expr("sequence(1, length(word))")).as("j"))
      .select(col("word"), col("cnt"), col("j"),
        explode(expr(s"sequence(1, least($MaxPieceLen, length(word) - j + 1))")).as("l"))
      .select(expr("substr(word, j, l)").as("piece"), col("cnt"))
      .groupBy("piece").agg(sum(col("cnt")).as("c"))

  /** Best segmentation per distinct word under a (piece → cost) table:
    * (word, cnt, cost_q, seg, n_pieces). */
  private def dpFrame(w: DataFrame, vocab: Seq[(String, Long)]): DataFrame = {
    val vmap = map(vocab.flatMap { case (p, c) => Seq(lit(p), lit(c)) }: _*)
    w.withColumn("v", vmap)
      .withColumn("best", expr(DpAgg))
      .select(col("word"), col("cnt"),
        col("best.cost").as("cost_q"), col("best.seg").as("seg"),
        (size(split(col("best.seg"), Sep)) - 1).cast("long").as("n_pieces"))
  }

  /** Piece-usage counts from a segmentation frame (hard-EM expectations). */
  private def pieceUses(dp: DataFrame): DataFrame =
    dp.select(col("cnt"), explode(split(col("seg"), Sep)).as("piece"))
      .where(length(col("piece")) > 0)
      .groupBy("piece").agg(sum(col("cnt")).as("c"))

  /** The shared train loop: seed → EM round 1 → prune-unused → EM
    * round 2. Returns (vocab0 with costs, dp1, vocab1 with counts and
    * costs, dp2) — or None on an empty corpus (both queries then
    * return empty frames with their declared schemas, the
    * RobustnessSpec contract). */
  private def train(spark: SparkSession, dir: String): Option[(
      Seq[(String, Long)], DataFrame, Seq[(String, Long, Long)], DataFrame)] = {
    val w = wcFrame(spark, dir).localCheckpoint(true)
    val seed = seedCounts(w).localCheckpoint(true)
    val singles = boundedCollect(
      seed.where(length(col("piece")) === 1).orderBy("piece"),
      VocabCap - TopMulti, "unigram seed alphabet")
      .map(r => (r.getString(0), r.getLong(1)))
    if (singles.isEmpty) None
    else {
      val multis = boundedCollect(
        seed.where(length(col("piece")) >= 2)
          .orderBy(col("c").desc, col("piece").asc).limit(TopMulti),
        TopMulti, "unigram seed multi-char pieces")
        .map(r => (r.getString(0), r.getLong(1)))
      val v0counts = (singles ++ multis).toSeq
      val t0 = v0counts.map(_._2).sum
      val vocab0 = v0counts.map { case (p, c) => (p, qlogJvm(t0) - qlogJvm(c)) }

      val dp1 = dpFrame(w, vocab0).localCheckpoint(true)
      val c1 = boundedCollect(pieceUses(dp1), VocabCap, "unigram round-1 uses")
        .map(r => (r.getString(0), r.getLong(1))).toMap
      // prune: every single char stays (coverage; unused ones at qlog(0)
      // cost); a multi-char piece survives only if round 1 ever used it
      val v1counts = singles.map { case (p, _) => (p, c1.getOrElse(p, 0L)) } ++
        multis.collect { case (p, _) if c1.getOrElse(p, 0L) > 0 => (p, c1(p)) }
      val t1 = v1counts.map(_._2).sum
      val vocab1 = v1counts.map { case (p, c) =>
        (p, c, qlogJvm(t1) - qlogJvm(c)) }.toSeq
      val dp2 = dpFrame(w, vocab1.map(v => (v._1, v._3))).localCheckpoint(true)
      Some((vocab0, dp1, vocab1, dp2))
    }
  }

  private def emptyFrame(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** L393 — the learned unigram tokenizer: the post-prune piece table
    * with round-2 usage counts and the round-2 piece cost (the model's
    * −log₂ p in 1/64 units). */
  def unigramTokenizer(spark: SparkSession, dir: String): DataFrame =
    train(spark, dir) match {
      case None => emptyFrame(spark,
        "piece STRING, piece_len BIGINT, n_uses BIGINT, cost_q BIGINT")
      case Some((_, _, vocab1, dp2)) =>
        import spark.implicits._
        val c2 = pieceUses(dp2)
        vocab1.map(v => (v._1, v._3)).toDF("piece", "cost_q")
          .join(c2, Seq("piece"), "left")
          .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
            coalesce(col("c"), lit(0L)).as("n_uses"), col("cost_q"))
          .orderBy(col("n_uses").desc, col("piece").asc)
    }

  /** L394 — the EM trace: per-round corpus loss (Σ cnt·cost, the
    * quantized −log₂ likelihood), token count, and vocab size. Round 2
    * re-estimates probabilities from round 1's segmentations, so its
    * loss is the one the spec pins ≤ round 1's. */
  def unigramLoss(spark: SparkSession, dir: String): DataFrame =
    train(spark, dir) match {
      case None => emptyFrame(spark,
        "em_round BIGINT, loss_q BIGINT, n_tokens BIGINT, n_vocab BIGINT")
      case Some((vocab0, dp1, vocab1, dp2)) =>
        def lossRow(round: Int, dp: DataFrame, nVocab: Int): DataFrame =
          dp.agg(sum(col("cnt") * col("cost_q")).cast("long").as("loss_q"),
              sum(col("cnt") * col("n_pieces")).cast("long").as("n_tokens"))
            .select(lit(round.toLong).as("em_round"), col("loss_q"),
              col("n_tokens"), lit(nVocab.toLong).as("n_vocab"))
        lossRow(1, dp1, vocab0.size).unionAll(lossRow(2, dp2, vocab1.size))
          .orderBy("em_round")
    }

  /** Round-2 segmentations (word grain) — spec access for the
    * planted-word pin and the JVM-replica sweep. */
  private[graft] def segmentsRound2(spark: SparkSession, dir: String): DataFrame =
    train(spark, dir) match {
      case None => emptyFrame(spark,
        "word STRING, cnt BIGINT, cost_q BIGINT, seg STRING, n_pieces BIGINT")
      case Some((_, _, _, dp2)) => dp2
    }

  // ---------- DuckDB oracle ----------

  /** One oracle DP block: best path to position `i` of round `r`, from
    * the ≤MaxPieceLen predecessor blocks joined against vocab `vc`.
    * MATERIALIZED — the blocks fan out (each feeds up to 4 successors),
    * and un-hinted CTE re-inlining is exponential here (the k-center
    * oracle lesson, SURVEY §8p). */
  private def dpBlockSql(r: Int, i: Int, vc: String): String = {
    val cands = (math.max(1, i - MaxPieceLen + 1) to i).map { j =>
      val l = i - j + 1
      s"""SELECT d.word, d.cnt, d.cost + v.cost AS cost,
            d.seg || chr(1) || substr(d.word, $j, $l) AS seg
          FROM r${r}dp${j - 1} d JOIN $vc v ON v.piece = substr(d.word, $j, $l)
          WHERE len(d.word) >= $i"""
    }.mkString(" UNION ALL ")
    s"""r${r}dp$i AS MATERIALIZED (SELECT word, cnt, cost, seg FROM ($cands)
        QUALIFY row_number() OVER (PARTITION BY word ORDER BY cost ASC, seg ASC) = 1)"""
  }

  private def roundSql(r: Int, vc: String): String = {
    val blocks = (1 to OracleMaxLen).map(i => dpBlockSql(r, i, vc)).mkString(",\n")
    val best = (1 to OracleMaxLen).map(i =>
      s"SELECT word, cnt, cost, seg FROM r${r}dp$i WHERE len(word) = $i")
      .mkString(" UNION ALL ")
    s"""r${r}dp0 AS (SELECT word, cnt, CAST(0 AS BIGINT) AS cost, '' AS seg FROM wc),
       $blocks,
       r${r}best AS MATERIALIZED (SELECT word, cnt, cost, seg FROM ($best)),
       c$r AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c
         FROM (SELECT cnt, unnest(string_split(seg, chr(1))) AS piece FROM r${r}best)
         WHERE len(piece) > 0 GROUP BY 1)"""
  }

  /** The word-count CTE both tokenizer chains (and Llm16's bakeoff)
    * share. Fail-loud bound guard (round-17 ADVICE): the oracle DP
    * unrolls one block per character position up to [[OracleMaxLen]],
    * so a longer word would silently vanish from the `r{r}best` UNION
    * and surface only as an opaque hash mismatch — instead the `cnt`
    * column divides by zero the moment such a word exists, mirroring
    * the engine's boundedCollect fail-loud convention. (The ENGINE
    * itself handles any length.) */
  private[ops] val wcSql: String =
    s"""wc AS (SELECT word,
           CAST(COUNT(*) AS BIGINT)
             // (CASE WHEN len(word) > $OracleMaxLen THEN 0 ELSE 1 END) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         WHERE len(word) > 0 GROUP BY 1)"""

  /** The shared training prefix: word counts, seed substring counts,
    * vocab-0 selection + costs, round-1 DP, prune, vocab-1 costs,
    * round-2 DP. [[trainSqlBody]] is the same chain WITHOUT the leading
    * `wc` (for composition where `wc` is already in scope). */
  private def trainSql: String = s"$wcSql,\n       $trainSqlBody"

  private[ops] def trainSqlBody: String =
    s"""subs AS (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c FROM
           (SELECT substr(word, j, l) AS piece, cnt FROM
             (SELECT word, cnt, j,
                 unnest(range(1, least($MaxPieceLen, len(word) - j + 1) + 1)) AS l
               FROM (SELECT word, cnt, unnest(range(1, len(word) + 1)) AS j
                 FROM wc)))
         GROUP BY 1),
       v0s AS (SELECT piece, c FROM subs WHERE len(piece) = 1),
       v0m AS (SELECT piece, c FROM subs WHERE len(piece) >= 2
         ORDER BY c DESC, piece ASC LIMIT $TopMulti),
       v0 AS (SELECT * FROM v0s UNION ALL SELECT * FROM v0m),
       t0 AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM v0),
       vc0 AS MATERIALIZED (SELECT piece,
           ${qlogDuck("t")} - ${qlogDuck("c")} AS cost FROM v0, t0),
       ${roundSql(1, "vc0")},
       v1 AS (SELECT s.piece, COALESCE(c1.c, CAST(0 AS BIGINT)) AS c
           FROM v0s s LEFT JOIN c1 ON c1.piece = s.piece
         UNION ALL SELECT piece, c FROM c1 WHERE len(piece) >= 2),
       t1 AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM v1),
       vc1 AS MATERIALIZED (SELECT piece, c,
           ${qlogDuck("t")} - ${qlogDuck("c")} AS cost FROM v1, t1),
       ${roundSql(2, "vc1")}"""

  val entries: Map[String, Op] = Map(
    "llm_unigram_tokenizer" -> Op(unigramTokenizer,
      s"""WITH $trainSql
         SELECT v.piece, CAST(len(v.piece) AS BIGINT) AS piece_len,
           CAST(COALESCE(c2.c, 0) AS BIGINT) AS n_uses, v.cost AS cost_q
         FROM vc1 v LEFT JOIN c2 ON c2.piece = v.piece
         ORDER BY n_uses DESC, v.piece ASC"""),
    "llm_unigram_loss" -> Op(unigramLoss,
      s"""WITH $trainSql
         SELECT * FROM (
           SELECT CAST(1 AS BIGINT) AS em_round,
             CAST(SUM(cnt * cost) AS BIGINT) AS loss_q,
             CAST(SUM(cnt * (len(string_split(seg, chr(1))) - 1)) AS BIGINT) AS n_tokens,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM vc0) AS n_vocab
           FROM r1best
           UNION ALL
           SELECT CAST(2 AS BIGINT) AS em_round,
             CAST(SUM(cnt * cost) AS BIGINT) AS loss_q,
             CAST(SUM(cnt * (len(string_split(seg, chr(1))) - 1)) AS BIGINT) AS n_tokens,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM vc1) AS n_vocab
           FROM r2best)
         ORDER BY em_round"""),
  )
}
