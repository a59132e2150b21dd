package graft

import org.apache.spark.sql.functions._

/** Round 12 third wave: the connected-components hybrid (driver
  * union-find below the edge cap / distributed Pregel above) must be
  * path-invariant, and the three new operators (iterated PageRank,
  * HBOS, Kneser–Ney perplexity) replicate JVM closed forms. */
class Round12cSpec extends SparkTestBase {

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("graph_connected_components: union-find and Pregel paths agree row-for-row") {
    val uf = ops.Analytics
      .connectedComponentsAt(spark, sf0001, parallelism = 0)
      .collect().map(_.toSeq)
    val pregel = ops.Analytics
      .connectedComponentsAt(spark, sf0001, parallelism = 4)
      .collect().map(_.toSeq)
    assert(uf.toSeq === pregel.toSeq)
    assert(uf.nonEmpty, "fixture co-purchase graph must have components")
  }

  /** The co-purchase edge set (a < b, support >= 2), replicated in JVM. */
  private lazy val jvmEdges: Set[(Long, Long)] = {
    val li = Tables.lineitem(spark, sf0001)
      .select("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    li.groupBy(_._1).values.flatMap { xs =>
      val ps = xs.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.toSeq.groupBy(identity).filter(_._2.size >= 2).keys.toSet
  }

  test("graph_pagerank_full: 5 power-iteration rounds replicate JVM") {
    val adj = jvmEdges.toSeq.flatMap(e => Seq(e, (e._2, e._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = adj.size
    var rank = adj.keys.map(_ -> r6(1.0 / n)).toMap
    for (_ <- 1 to ops.Analytics.PagerankRounds) {
      val in = scala.collection.mutable.HashMap.empty[Long, BigDecimal]
      adj.foreach { case (src, dsts) =>
        val c = BigDecimal(r6(rank(src) / dsts.length))
        dsts.foreach(d => in(d) = in.getOrElse(d, BigDecimal(0)) + c)
      }
      rank = in.map { case (v, s) =>
        v -> r6(0.15 / n + 0.85 * s.toDouble) }.toMap
    }
    val want = rank.toSeq.sortBy { case (v, r) => (-r, v) }.take(20)
    val got = SparkEntry.queries("graph_pagerank_full")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === want)
    got.foreach { case (_, r) => assert(r > 0.0 && r < 1.0) }
  }

  test("anomaly_hbos: scores replicate a JVM histogram scorer") {
    val ev = Tables.events(spark, sf0001)
      .select(col("event_id"), hour(col("ts")).as("hod"),
        dayofweek(col("ts")).as("dow"),
        least(floor(col("value") / 20.0).cast("long"), lit(9L)).as("vband"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val n = ev.length.toDouble
    val hHod = ev.groupBy(_._2).view.mapValues(_.length).toMap
    val hDow = ev.groupBy(_._3).view.mapValues(_.length).toMap
    val hV = ev.groupBy(_._4).view.mapValues(_.length).toMap
    val want = ev.map { case (id, hod, dow, v) =>
      val s = r6(r6(-math.log(hHod(hod) / n)) + r6(-math.log(hDow(dow) / n)) +
        r6(-math.log(hV(v) / n)))
      (id, s)
    }.sortBy { case (id, s) => (-s, id) }.take(20).toSeq
    val got = SparkEntry.queries("anomaly_hbos")(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("event_id"),
        r.getAs[Double]("hbos_score"))).toSeq
    assert(got === want)
    // scores strictly positive (every bin probability < 1 on this corpus)
    got.foreach { case (_, s) => assert(s > 0.0) }
  }

  test("llm_kneser_ney_ppl: probabilities are a distribution; ppl replicates JVM") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val bg = docs.flatMap { case (id, ws) =>
      ws.zip(ws.drop(1)).map(p => (id, p._1, p._2)) }
    val c12 = bg.groupBy(p => (p._2, p._3)).view.mapValues(_.length.toLong).toMap
    val c1 = bg.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val n1pFwd = c12.keys.toSeq.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val n1pBwd = c12.keys.toSeq.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val b = c12.size.toDouble
    def p(w1: String, w2: String): Double =
      math.max(c12((w1, w2)) - 0.75, 0.0) / c1(w1) +
        (0.75 * n1pFwd(w1) / c1(w1)) * (n1pBwd(w2) / b)
    // KN is a PROPER distribution: for each context, probabilities over
    // the full vocabulary sum to ~1 (the property stupid backoff lacks)
    val vocab = (c12.keys.map(_._1) ++ c12.keys.map(_._2)).toSet.toSeq
    val ctx = c1.keys.take(5)
    ctx.foreach { w1 =>
      val mass = vocab.map { w2 =>
        if (c12.contains((w1, w2))) p(w1, w2)
        else (0.75 * n1pFwd(w1) / c1(w1)) * (n1pBwd.getOrElse(w2, 0L) / b)
      }.sum
      assert(math.abs(mass - 1.0) < 1e-9, s"context $w1 mass $mass != 1")
    }
    val want = bg.groupBy(_._1).map { case (id, g) =>
      val lns = g.map(t => BigDecimal(r6(math.log(p(t._2, t._3)))))
      val mean = r6(lns.sum.toDouble / lns.length)
      (id, g.length.toLong, mean, r6(math.exp(-mean)))
    }.toSeq.sortBy(x => (-x._4, x._1)).take(20)
    val got = SparkEntry.queries("llm_kneser_ney_ppl")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toSeq
    assert(got === want)
  }
}
