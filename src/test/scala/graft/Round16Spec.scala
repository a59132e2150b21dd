package graft

import org.apache.spark.sql.functions._

/** Round-16 legs: the unigram-LM tokenizer (Kudo 2018, hard-EM) — qlog
  * integer-log parity across JVM and Spark SQL, a full independent JVM
  * replica of the two EM rounds swept over every fixture word, the
  * planted-word segmentation pin, and the per-round loss contract. */
class Round16Spec extends SparkTestBase {

  // ---------------------------------------------------------- qlog

  test("unigram qlog: JVM twin is bit-identical to the Spark SQL form") {
    val s = spark
    import s.implicits._
    val vals = Seq(0L, 1L, 2L, 3L, 63L, 64L, 65L, 127L, 128L, 129L, 255L,
      256L, 1000L, 1000000L, (1L << 40) - 1, 1L << 40, (1L << 40) + 12345,
      Long.MaxValue)
    // pin the engine's actual shared SQL text, not a pasted copy
    val sql = vals.toDF("x").selectExpr("x", ops.Llm14.qlogSpark("x") + " AS q")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vals.foreach { v =>
      assert(sql(v) === ops.Llm14.qlogJvm(v), s"qlog($v)")
    }
    // monotone over a dense small range (the DP's comparisons live here)
    (1L to 4096L).sliding(2).foreach { w =>
      assert(ops.Llm14.qlogJvm(w.head) <= ops.Llm14.qlogJvm(w.last))
    }
  }

  // ------------------------------------------- JVM replica of train

  /** Independent plain-Scala replica of the two hard-EM rounds (seed →
    * DP → re-estimate → prune → DP), sharing only qlogJvm with the
    * engine. Returns (round-2 segmentation per word, loss1, loss2). */
  private def replica(wc: Map[String, Long])
      : (Map[String, String], Long, Long) = {
    val MaxL = ops.Llm14.MaxPieceLen
    def seed: Map[String, Long] = {
      val m = scala.collection.mutable.Map.empty[String, Long]
      wc.foreach { case (w, c) =>
        for (j <- 0 until w.length; l <- 1 to math.min(MaxL, w.length - j))
          m.updateWith(w.substring(j, j + l))(o => Some(o.getOrElse(0L) + c))
      }
      m.toMap
    }
    val s0 = seed
    val singles = s0.filter(_._1.length == 1)
    val multis = s0.filter(_._1.length >= 2).toSeq
      .sortBy { case (p, c) => (-c, p) }.take(ops.Llm14.TopMulti)
    def dp(word: String, cost: Map[String, Long]): (Long, String) = {
      // best(k) = (cost, seg) over the first k chars; seg U+0001-prefixed
      val best = Array.fill[(Long, String)](word.length + 1)((Long.MaxValue, ""))
      best(0) = (0L, "")
      for (i <- 1 to word.length) {
        var acc: (Long, String) = (Long.MaxValue, "")
        for (j <- math.max(0, i - MaxL) until i) {
          val piece = word.substring(j, i)
          if (best(j)._1 != Long.MaxValue && cost.contains(piece)) {
            val cand = (best(j)._1 + cost(piece), best(j)._2 + "\u0001" + piece)
            if (cand._1 < acc._1 || (cand._1 == acc._1 && cand._2 < acc._2))
              acc = cand
          }
        }
        best(i) = acc
      }
      best(word.length)
    }
    def costs(counts: Seq[(String, Long)]): Map[String, Long] = {
      val t = counts.map(_._2).sum
      counts.map { case (p, c) =>
        p -> (ops.Llm14.qlogJvm(t) - ops.Llm14.qlogJvm(c)) }.toMap
    }
    val cost0 = costs((singles ++ multis).toSeq)
    val r1 = wc.map { case (w, c) => w -> (dp(w, cost0), c) }
    val loss1 = r1.values.map { case ((q, _), c) => q * c }.sum
    val c1 = scala.collection.mutable.Map.empty[String, Long]
    r1.foreach { case (_, ((_, seg), c)) =>
      seg.split("\u0001").filter(_.nonEmpty).foreach(p =>
        c1.updateWith(p)(o => Some(o.getOrElse(0L) + c)))
    }
    val v1 = singles.keys.map(p => p -> c1.getOrElse(p, 0L)).toSeq ++
      multis.collect { case (p, _) if c1.getOrElse(p, 0L) > 0 => p -> c1(p) }
    val cost1 = costs(v1)
    val r2 = wc.map { case (w, c) => w -> (dp(w, cost1), c) }
    val loss2 = r2.values.map { case ((q, _), c) => q * c }.sum
    (r2.map { case (w, ((_, seg), _)) => w -> seg }, loss1, loss2)
  }

  private lazy val fixtureWc: Map[String, Long] =
    Tables.documents(spark, sf0001)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("unigram round-2 segmentation matches the JVM replica for EVERY fixture word") {
    val engine = ops.Llm14.segmentsRound2(spark, sf0001)
      .select("word", "seg").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val (expected, _, _) = replica(fixtureWc)
    assert(engine.keySet === fixtureWc.keySet)
    expected.foreach { case (w, seg) =>
      assert(engine(w) === seg, s"word '$w' segmentation diverged")
    }
  }

  test("unigram EM loss: round 2 (re-estimated, pruned) <= round 1, engine = replica") {
    val rows = SparkEntry.queries("llm_unigram_loss")(spark, sf0001)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val (_, loss1, loss2) = replica(fixtureWc)
    assert(rows(1L)._1 === loss1 && rows(2L)._1 === loss2)
    assert(rows(2L)._1 <= rows(1L)._1,
      "hard-EM re-estimation must not increase the quantized corpus loss")
    // pruning can only shrink the vocabulary
    assert(rows(2L)._3 <= rows(1L)._3)
  }

  test("unigram tokenizer: multi-char pieces survive pruning and dominate usage") {
    val out = SparkEntry.queries("llm_unigram_tokenizer")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    // ordered by (n_uses desc, piece)
    assert(out.map(t => (-t._3, t._1)).toSeq === out.map(t => (-t._3, t._1)).sortBy(identity).toSeq)
    val multi = out.filter(_._2 >= 2)
    assert(multi.nonEmpty, "EM round 1 must keep at least one multi-char piece")
    // every surviving multi-char piece was actually used in round 2's
    // segmentations or priced: n_uses of the TOP multi piece is positive
    assert(multi.map(_._3).max > 0)
  }

  // ----------------------------------------- round-16 ADVICE guards

  test("bh_fdr fails loudly when the family outgrows the m=5 crit literals") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bh6").toString
    // six event types x 4 days — one more than the m=5 family the
    // Phi^-1 literals were computed for
    val rows = for (d <- 1 to 4; k <- 1 to 6) yield
      (d * 10L + k, k.toLong, ts(f"2026-01-$d%02d 0$k:00:00"),
        s"type_$k", d * 1.5 + k, """{"device":"x"}""")
    rows.toDF("event_id", "user_id", "ts", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ex = intercept[Exception] {
      SparkEntry.queries("stats_bh_fdr")(spark, dir).collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
    assert(chain(ex).exists(m => m != null && m.contains("crit literals")),
      chain(ex).mkString(" | "))
  }

  /** Replays the Page–Hinkley twin with and without a LATE partial for
    * an hour that already closed; the round-16 frontier guard must
    * drop it, leaving the decision log identical. */
  private def runPhLate(injectLate: Boolean): Seq[(Long, Long, Long)] = {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def hp(h: Long, x: Long) = streaming.Streams3.HourPoint(h * 3600000000L, x)
    val ms = MemoryStream[streaming.Streams3.HourPoint]
    val name = s"ph_late_$injectLate"
    val q = streaming.Streams3.pageHinkleyTws(ms.toDS(), 12000000L, 250000L)
      .toDF().writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      ms.addData(hp(1, 1000000L), hp(2, 1100000L), hp(3, 900000L))
      q.processAllAvailable() // hours 1 and 2 close and fold
      if (injectLate) ms.addData(hp(1, 5000000L)) // stale partial
      ms.addData(hp(4, 1200000L), hp(5, 1000000L))
      q.processAllAvailable()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    } finally q.stop()
  }

  test("Page–Hinkley frontier: a late partial for a closed hour is dropped, not re-folded") {
    val clean = runPhLate(injectLate = false)
    val late = runPhLate(injectLate = true)
    assert(clean.length === 4, s"hours 1..4 must close: $clean")
    assert(late === clean,
      "a stale partial re-opened a folded hour — the statistic is corrupted")
  }
}
