package graft

import org.apache.spark.sql.functions._

/** Round-15 continuation legs: ADWIN adaptive windowing (chunking
  * invariance, shared-kernel replica, pre-drift stability and
  * post-drift collapse) and the Min-K% Prob membership score. */
class Round15jSpec extends SparkTestBase {

  // -------------------------------------------------------- Min-K%

  test("Min-K%: bottom-k mean <= full-document mean, and k is max(1, n div 5)") {
    val minK = SparkEntry.queries("llm_min_k_prob")(spark, sf0001)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val full = SparkEntry.queries("llm_unigram_logprob")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(minK.nonEmpty && minK.keySet === full.keySet)
    minK.foreach { case (doc, (n, k, score)) =>
      assert(k === math.max(1L, n / 5), s"doc $doc k")
      assert(score <= full(doc) + 1e-9,
        s"doc $doc: the least-likely-token mean cannot exceed the full mean")
    }
  }

  // --------------------------------------------------------- ADWIN

  /** Planted series for the ADWIN pin: 300 hours of bounded h48 jitter
    * around 100 units, then 200 hours shifted +100 — the level change
    * dominates the jitter range, so the window must cut at the shift
    * and almost nowhere before (the δ contract). The raw fixture's
    * hourly series is deliberately NOT used here: its diurnal
    * seasonality means its mean is genuinely non-stationary and ADWIN
    * keeps the window legitimately short — correct behavior, but not a
    * clean pin of the change-point semantics. */
  private def monitoredSeries(): Array[(Long, Long)] =
    Array.tabulate(500) { t =>
      val jitter = (Tables.h48jvm(s"adwin:$t") % 21L) - 10L // ±10
      val level = if (t < 300) 100L else 200L
      (3600000000L * t, (level + jitter) * 1000000L)
    }

  private def runAdwin(chunks: Int): Seq[(Long, Double, Long, Double, Long, Boolean)] = {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val points = monitoredSeries().flatMap { case (b, x) =>
      Seq(streaming.Streams3.HourPoint(b, x / 2),
        streaming.Streams3.HourPoint(b, x - x / 2))
    }
    val ms = MemoryStream[streaming.Streams3.HourPoint]
    val q = streaming.Streams3.adwinTws(ms.toDS())
      .toDF().writeStream.format("memory")
      .queryName(s"adwin_tws_$chunks").outputMode("append").start()
    try {
      points.grouped((points.length + chunks - 1) / chunks).foreach { c =>
        ms.addData(c.toSeq: _*)
        q.processAllAvailable()
      }
      spark.table(s"adwin_tws_$chunks")
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
          r.getDouble(3), r.getLong(4), r.getBoolean(5)))
        .sortBy(_._1).toSeq
    } finally q.stop()
  }

  test("ADWIN: chunking-invariant, equals the shared-kernel replica, stable pre-drift, collapses post-drift") {
    val log1 = runAdwin(1)
    val log4 = runAdwin(4)
    assert(log1 === log4, "the fold is sequential — chunking cannot matter")
    // JVM replica through the SHARED kernel
    def r6(x: Double) = BigDecimal.decimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val series = monitoredSeries()
    var bs: streaming.AdwinKernel.Buckets = Vector.empty
    val want = series.dropRight(1).zipWithIndex.map { case ((_, xm), i) =>
      val x = xm / 1e6
      val (nbs, dropped) = streaming.AdwinKernel.step(bs, x, 0.002)
      bs = nbs
      val w = streaming.AdwinKernel.width(bs)
      (i + 1L, r6(x), w, r6(streaming.AdwinKernel.total(bs) / w),
        dropped, dropped > 0L)
    }.toSeq
    assert(log1 === want)
    // the planted +100 shift sits at hour 300: before it the window
    // must track its own age almost everywhere (rare spurious cuts are
    // the advertised delta risk), after it the window must cut
    val boundary = 300L
    val pre = log1.filter(_._1 <= boundary)
    assert(pre.count(_._6) <= pre.length / 20,
      "pre-drift cuts must be rare (the delta contract)")
    val post = log1.filter(_._1 > boundary)
    assert(post.exists(_._6), "the planted shift must cut the window")
    val afterCut = post.filter(_._6).head
    assert(afterCut._3 < afterCut._1 / 2,
      "a cut must collapse the window well below its age")
    // once stable again, the window mean should sit near the shifted
    // level (2x the pre-drift mean)
    val preMean = pre.map(_._2).sum / pre.length
    val tail = log1.takeRight(24)
    val tailMean = tail.map(_._4).sum / tail.length
    assert(tailMean > 1.5 * preMean,
      "the post-cut window must re-center on the shifted regime")
  }
}
