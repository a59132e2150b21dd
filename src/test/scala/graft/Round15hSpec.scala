package graft

import org.apache.spark.sql.functions._

/** Round-15 continuation legs: streaming k-center doubling (batch-split
  * invariance, replica equality, the 8×-vs-greedy cover bound) and the
  * BH-FDR / conformal pins. */
class Round15hSpec extends SparkTestBase {

  // --------------------------------------------------------- BH-FDR

  test("BH: the planted purchase shift is rank-1 and rejected; step-up is contiguous from rank 1") {
    val rows = SparkEntry.queries("stats_bh_fdr")(spark, sf0001)
      .collect().sortBy(_.getLong(6))
    assert(rows.head.getString(0) === "purchase",
      "the planted +30 odd-day shift must dominate the family")
    assert(rows.head.getBoolean(8))
    // BH rejections are a prefix of the rank order
    val flags = rows.map(_.getBoolean(8)).toSeq
    assert(flags === flags.sorted.reverse, "rejected set must be a rank prefix")
  }

  test("BH beats naive per-test 1.96 thresholding on the A/A members at sf0.001") {
    val rows = SparkEntry.queries("stats_bh_fdr")(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getDouble(5), r.getBoolean(8)))
    rows.filter(_._1 != "purchase").foreach { case (t, _, rej) =>
      assert(!rej, s"A/A member $t must not be rejected at sf0.001")
    }
  }

  // ------------------------------------------------------ conformal

  test("conformal: q_hat is an exact calibration order statistic and coverage meets target on calibration") {
    val r = SparkEntry.queries("ml_conformal_interval")(spark, sf0001)
      .collect()(0)
    val (nTrain, nCal, qHat) = (r.getLong(0), r.getLong(1), r.getDouble(4))
    assert(nTrain + nCal === 30L)
    // replay: daily series, odd/even split, OLS on odd, residuals on even
    val daily = Tables.events(spark, sf0001)
      .groupBy(date_trunc("day", col("ts")).as("d"))
      .agg(round(Tables.dsum(col("value")), 6).as("y"))
      .orderBy("d").collect().map(_.getDouble(1)).zipWithIndex
      .map { case (y, i) => (i + 1L, y) }
    val train = daily.filter(_._1 % 2 == 1)
    val cal = daily.filter(_._1 % 2 == 0)
    val (slope, intercept) = (r.getDouble(2), r.getDouble(3))
    def res(p: (Long, Double)) =
      BigDecimal.decimal(math.abs(p._2 - (slope * p._1 + intercept)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val k = math.ceil((cal.length + 1) * 0.9).toInt
    val want = cal.map(res).sorted.apply(k - 1)
    assert(qHat === want, "q_hat must be the k-th smallest calibration residual")
    // conformal guarantee holds ON the calibration set by construction
    val covCal = cal.map(res).count(_ <= qHat).toDouble / cal.length
    assert(covCal >= 0.9 - 1e-9)
  }

  // ------------------------------------------------------ image blobs

  test("blob labeling is generic: fixture rectangles recovered, and 4-connectivity splits a diagonal") {
    // fixture path: every family's blob count equals the planted k and
    // each blob is a filled rectangle (area == bbox area)
    val rows = SparkEntry.queries("mm_image_blobs")(spark, sf0001)
      .where(col("doc_id") < 20).collect()
    for (r <- rows) {
      val (area, x0, y0, x1, y1) = (r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
      assert(area === (x1 - x0 + 1) * (y1 - y0 + 1), "filled rectangle")
    }
    val counts = rows.groupBy(_.getLong(0)).view.mapValues(_.length)
    counts.foreach { case (doc, n) =>
      assert(n === (doc % 20 % 5 + 1).toInt, s"doc $doc blob count")
    }
    // genericity: the op's OWN kernel on non-rectangle rasters — a
    // diagonal is n SEPARATE blobs under 4-connectivity, an L-shape is
    // ONE blob whose area < its bbox area (the kernel knows nothing
    // about the fixture's rectangles)
    val diag = Array.tabulate(5, 5)((y, x) => x == y)
    assert(ops.MmBlobs.labelRaster(diag).length === 5,
      "diagonal pixels are 4-disconnected")
    val ell = Array.tabulate(4, 4)((y, x) => x == 0 || y == 3)
    val ellBlobs = ops.MmBlobs.labelRaster(ell)
    assert(ellBlobs.length === 1)
    assert(ellBlobs.head._1 === 7L, "L-shape area 7 < bbox 16 — not a rectangle")
  }

  // ------------------------------------------- k-center doubling TWS

  private def runDoubling(chunks: Int): Seq[(Long, String, Int, Double)] = {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val pts = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
      .collect().sortBy(_.getLong(0))
      .map(r => streaming.Streams3.VecPoint(r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble)))
    val ms = MemoryStream[streaming.Streams3.VecPoint]
    val q = streaming.Streams3.kcenterDoublingTws(ms.toDS(), k = 8)
      .toDF().writeStream.format("memory")
      .queryName(s"kc_tws_$chunks").outputMode("append").start()
    try {
      pts.grouped((pts.length + chunks - 1) / chunks).foreach { c =>
        ms.addData(c.toSeq: _*)
        q.processAllAvailable()
      }
      spark.table(s"kc_tws_$chunks")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
          r.getDouble(3))).sortBy(_._1).toSeq
    } finally q.stop()
  }

  test("doubling k-center: decision log is micro-batch-split invariant and equals the JVM replica") {
    val log1 = runDoubling(1)
    val log5 = runDoubling(5)
    assert(log1 === log5, "the fold is sequential — chunking cannot matter")
    // JVM replica through the SHARED step kernel
    val pts = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    var cs = Vector.empty[(Long, Array[Double])]
    var r2 = 0.0
    val want = pts.map { case (id, pe) =>
      val (ncs, nr2, action) =
        streaming.KcenterDoubling.step(cs, r2, id, pe, 8)
      cs = ncs; r2 = nr2
      (id, action, cs.length, graft.functions.ArrayMath.round6(r2))
    }.toSeq
    assert(log1 === want)
    assert(cs.length <= 8)
    // cover bound: streamed radius <= 64x the batch greedy radius in d²
    // (the squared form of the 8·OPT guarantee with greedy >= OPT)
    val cover = pts.map { case (_, pe) =>
      cs.map(c => streaming.KcenterDoubling.d2(c._2, pe)).min }.max
    val greedy = SparkEntry.queries("llm_kcenter_select")(spark, sf0001)
      .collect()(0).getDouble(3)
    assert(cover <= 64.0 * greedy,
      s"streamed cover $cover must be within 64x greedy $greedy")
    assert(want.exists(_._2 == "merged_phase"),
      "the fixture must exercise the doubling/merge path")
  }
}
