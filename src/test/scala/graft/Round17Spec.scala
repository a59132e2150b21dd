package graft

/** Round 17: suffix-array exact-substring dedup (Llm17) planted-span
  * fixtures — shingle-grain equality at t=16, the strictly-finer
  * sub-shingle catch at t=4, LRS witness exactness (both scopes), and
  * the RMax fail-loud convergence guard. */
class Round17Spec extends SparkTestBase {

  /** Same construction as Round15Spec's spanDir: globally-unique filler
    * words, so the only repeats are the planted spans.
    *   doc 0 (100 w): 60-word span A at positions 20..79
    *   doc 1 ( 70 w): span A again at positions 5..64
    *   doc 2 ( 46 w): span B (16 w) at 0..15, span C (20 w) at 21..40
    *   doc 3 ( 52 w): span B at 3..18, span C at 29..48
    *   docs 4/5     : a 15-word span D — invisible to the K=16 shingle
    *                  family, caught by the suffix array at t=4
    */
  private lazy val spanDir: String = {
    val sA = (0 until 60).map(i => s"sA$i")
    val sB = (0 until 16).map(i => s"sB$i")
    val sC = (0 until 20).map(i => s"sC$i")
    val sD = (0 until 15).map(i => s"sD$i")
    def fill(d: Int, n: Int, from: Int = 0) =
      (from until from + n).map(i => s"u${d}w$i")
    val texts = Seq(
      0L -> (fill(0, 20) ++ sA ++ fill(0, 20, 100)),
      1L -> (fill(1, 5) ++ sA ++ fill(1, 5, 100)),
      2L -> (sB ++ fill(2, 5) ++ sC ++ fill(2, 5, 100)),
      3L -> (fill(3, 3) ++ sB ++ fill(3, 10, 100) ++ sC ++ fill(3, 3, 200)),
      4L -> (fill(4, 10) ++ sD ++ fill(4, 5, 100)),
      5L -> (fill(5, 5) ++ sD ++ fill(5, 5, 100)))
    writeDocs("graft-suffix", texts)
  }

  private def writeDocs(prefix: String, texts: Seq[(Long, Seq[String])]): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    val s = spark
    import s.implicits._
    texts.map { case (id, ws) =>
      val t = ws.mkString(" ")
      (id, t, "en", s"src$id", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/documents.parquet")
    dir
  }

  test("suffix coverage at t=16 equals the shingle-grain spans on >=16-word planted dups") {
    val suffix = ops.Llm17.coverageAt(spark, spanDir, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    val shingle = ops.Llm10.dedupSubstring(spark, spanDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    assert(suffix === shingle)
    // and the planted arithmetic itself, so both being wrong can't pass
    assert(suffix.contains((0L, 100L, 1L, 60L, 0.6)))
    assert(suffix.contains((2L, 46L, 2L, 36L, 0.782609)))
    assert(suffix.map(_._1) === Set(0L, 1L, 2L, 3L))
  }

  test("suffix coverage at the default t=4 catches the sub-shingle 15-word span word-exactly") {
    val rows = ops.Llm17.suffixCoverage(spark, spanDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // docs 4/5 are INVISIBLE at shingle grain (span D is 15 < K=16) but
    // fully recovered here: 12 duplicated 4-gram starts merge into one
    // island covering exactly the 15 planted words
    assert(rows(4L) === ((30L, 1L, 15L)))
    assert(rows(5L) === ((25L, 1L, 15L)))
    // the >=16-word spans are still exact at the finer grain
    assert(rows(0L) === ((100L, 1L, 60L)))
    assert(rows(3L) === ((52L, 2L, 36L)))
  }

  test("LRS: span A is the longest repeat, cross-doc, with the exact witness pair and text") {
    val rows = ops.Llm17.suffixLrs(spark, spanDir).collect()
      .map(r => r.getString(0) -> r).toMap
    val any = rows("any")
    assert(any.getLong(1) === 60L) // lrs_words
    assert(any.getBoolean(6)) // cross_doc
    // witness: suffix(doc0,20) sorts before suffix(doc1,5) (filler
    // u0w100 < u1w100 at word 61), so doc_a/pos_a is doc 0's copy
    assert((any.getLong(2), any.getLong(3), any.getLong(4), any.getLong(5))
      === ((0L, 20L, 1L, 5L)))
    assert(any.getString(7) === (0 until 60).map(i => s"sA$i").mkString(" "))
    // the longest repeat IS cross-doc here, so both scopes agree
    val cross = rows("cross")
    assert(cross.getLong(1) === 60L && cross.getBoolean(6))
  }

  test("LRS scopes diverge: an intra-doc repeat can win 'any' while 'cross' reports the 2-doc max") {
    val z = (0 until 6).map(i => s"Z$i")
    val y = (0 until 5).map(i => s"Y$i")
    def fill(d: Int, n: Int, from: Int = 0) =
      (from until from + n).map(i => s"v${d}w$i")
    // doc 10 repeats Z (6 words) internally; docs 11/12 share Y (5 words)
    val dir = writeDocs("graft-suffix-scope", Seq(
      10L -> (fill(10, 4) ++ z ++ fill(10, 8, 100) ++ z ++ fill(10, 4, 200)),
      11L -> (fill(11, 7) ++ y ++ fill(11, 7, 100)),
      12L -> (fill(12, 9) ++ y ++ fill(12, 9, 100))))
    val rows = ops.Llm17.suffixLrs(spark, dir).collect()
      .map(r => r.getString(0) -> r).toMap
    val any = rows("any")
    assert(any.getLong(1) === 6L && !any.getBoolean(6), any)
    assert(any.getString(7) === z.mkString(" "))
    val cross = rows("cross")
    assert(cross.getLong(1) === 5L && cross.getBoolean(6), cross)
    assert(cross.getString(7) === y.mkString(" "))
    assert(Set(cross.getLong(2), cross.getLong(4)) === Set(11L, 12L))
  }

  test("a single-doc corpus with no internal repeat yields lcp 0 and no 'cross' row") {
    val dir = writeDocs("graft-suffix-single",
      Seq(20L -> (0 until 30).map(i => s"q$i")))
    val rows = ops.Llm17.suffixLrs(spark, dir).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("any"))
    assert(rows.head.getLong(1) === 0L)
    assert(ops.Llm17.suffixCoverage(spark, dir).count() === 0L)
  }

  test("fail-loud: a repeat past 2^RMax words aborts instead of silently truncating") {
    // 5000 copies of one word -> LRS = 4999 words >= 2^12; the doubling
    // loop must throw, mirroring the boundedCollect convention
    val dir = writeDocs("graft-suffix-over",
      Seq(30L -> Seq.fill(5000)("rep")))
    val e = intercept[IllegalStateException] {
      ops.Llm17.suffixLrs(spark, dir).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  // ------------------------------------------------- Mm8: mel + MS-SSIM

  test("mel filterbank: band 2 holds the 500 Hz fundamental and dominates; e_fund cross-pins L395") {
    val mel = ops.Mm8.audioMel(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r).toMap
    val spec = ops.Mm7.entries("mm_audio_spectral").run(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap // doc_id -> e_fund
    assert(mel.nonEmpty)
    mel.foreach { case (id, r) =>
      assert(r.getLong(7) === 2L, s"doc $id dom_band")
      // the same stride-1 correlation energy as the L395 readout
      assert(r.getLong(1) === spec(id), s"doc $id e_fund")
      // the weight table places the fundamental in bands 1+2 only, with
      // band 2 carrying the larger triangle — so mel2 > mel1 > each of
      // the harmonic-fed bands
      assert(r.getLong(3) > r.getLong(2), s"doc $id mel2>mel1")
      Seq(4, 5, 6).foreach(c =>
        assert(r.getLong(2) > r.getLong(c), s"doc $id mel1>mel${c - 1}"))
    }
  }

  test("mel weights: rows are triangles over mel-equispaced edges, quantized once") {
    val w = ops.MmMel.WQ
    assert(w.length === 5 && w.forall(_.length === 7))
    // every band has nonzero support; supports are contiguous and the
    // 7 bin frequencies are covered by at least one band
    w.foreach { row => assert(row.exists(_ > 0)) }
    (0 until 7).foreach(k => assert(w.exists(row => row(k) > 0), s"bin $k"))
  }

  test("MS-SSIM: single scale ties checker/stripe, scale 2 separates them, checker recovers") {
    val rows = ops.Mm8.imageMssim(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (sb, sc, ss) = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
      val (mb, mc, msr) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      // same per-pixel |delta|=16: single-scale cannot separate the two
      // structural twins (within 0.002) while both sit far below bright
      assert(math.abs(sc - ss) < 0.002, s"single-scale gap $sc $ss")
      assert(sb - sc > 0.04, s"bright vs checker at scale 1: $sb $sc")
      // the 2x2 pool annihilates the pixel checker (its scale-2 SSIM is
      // exactly 1) but keeps the block stripe: multi-scale separates
      assert(mc - msr > 0.02, s"mssim checker vs stripe: $mc $msr")
      // and the checker RECOVERS at the coarse scale
      assert(mc > sc, s"mssim $mc vs ssim $sc")
    }
  }

  // ------------------------------------------------- Llm18: chunk embed

  /** Plain-Scala replica of the chunk pooling on a planted doc. */
  test("chunk embed: count arithmetic and pooling exactness on a planted doc") {
    val n = 100
    val words = (0 until n).map(i => s"t$i")
    val dir = writeDocs("graft-chunk", Seq(7L -> words))
    // max|x| = 1.0 (last dim) so scale = 127 exactly; x_d = d/127
    // quantizes to q_d = d (and q_63 = 127) with no rounding ambiguity
    val emb = (0 until 63).map(d => (d / 127.0).toFloat) :+ 1.0f
    val s = spark
    import s.implicits._
    Seq((7L, emb, 0)).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/embeddings.parquet")
    val rows = ops.Llm18.chunkEmbed(spark, dir).collect()
      .map(r => (r.getLong(1), (r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))).toMap
    // n=100, len=32, stride=24: starts 0/24/48/72, last len 28
    assert(rows.keySet === Set(0L, 1L, 2L, 3L))
    assert(rows(0L)._1 === 0L && rows(0L)._2 === 32L)
    assert(rows(3L)._1 === 72L && rows(3L)._2 === 28L)
    assert(rows.values.forall(_._3 === 4L), "n_chunks")
    // exact replica of the rotation pooling with q_d = d, q_63 = 127
    val q = (0 until 63).map(_.toLong) :+ 127L
    def c(s0: Int, len: Int)(d: Int): Long =
      (0 until len).map(j => q((d + s0 + j) % 64)).sum
    Seq((0, 0, 32), (1, 24, 32), (3, 72, 28)).foreach { case (cn, s0, len) =>
      val vec = (0 until 64).map(c(s0, len))
      assert(rows(cn.toLong)._4 === vec.map(math.abs).sum, s"chunk $cn l1")
      assert(rows(cn.toLong)._5 ===
        (0 until 64).map(d => vec(d) * q(d)).sum, s"chunk $cn dot")
    }
  }

  test("chunk embed: a doc at exactly ChunkLen tokens is one chunk; one over is two") {
    val s = spark
    import s.implicits._
    val dir = writeDocs("graft-chunk-edge", Seq(
      1L -> (0 until 32).map(i => s"a$i"),
      2L -> (0 until 33).map(i => s"b$i")))
    val emb = (0 until 63).map(d => (d / 127.0).toFloat) :+ 1.0f
    Seq((1L, emb, 0), (2L, emb, 0)).toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(dir + "/embeddings.parquet")
    val byDoc = ops.Llm18.chunkEmbed(spark, dir).collect()
      .groupBy(_.getLong(0))
    assert(byDoc(1L).length === 1)
    assert(byDoc(2L).length === 2)
    val last = byDoc(2L).map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1).last
    assert(last === ((24L, 9L)), "second chunk covers tokens 24..32")
  }

  // --------------------------------------- PrefixScan.denseRank

  test("denseRank: bit-equal to SQL dense_rank with duplicate runs spanning partitions") {
    val s = spark
    import s.implicits._
    // heavy duplication (k = v/7) forces runs to straddle the range
    // partition boundaries, exercising the driver stitch
    val df = (0 until 5000).map(v => (v / 7, v % 13)).toDF("k", "v")
    val (ranked, dist) = ops.PrefixScan.denseRank(df, Seq("k"), "rk", parts = 8)
    assert(dist === ((0 until 5000).map(_ / 7).distinct.length).toLong)
    val got = ranked.select($"k", $"rk").distinct().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = df.selectExpr("k", "CAST(dense_rank() OVER (ORDER BY k) AS LONG) AS rk")
      .distinct().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got === want)
    // two-key ordering with nulls absent and distinct totals
    val df2 = (0 until 1000).map(v => (v % 10, v % 4)).toDF("a", "b")
    val (r2, d2) = ops.PrefixScan.denseRank(df2, Seq("a", "b"), "rk", parts = 5)
    assert(d2 === 20L) // lcm(10,4)=20 residue pairs
    val got2 = r2.select($"a", $"b", $"rk").distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val want2 = df2.selectExpr("a", "b",
        "CAST(dense_rank() OVER (ORDER BY a, b) AS LONG) AS rk")
      .distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got2 === want2)
  }

  test("denseRankDense: bit-equal to denseRank and SQL dense_rank on dense Long keys") {
    val s = spark
    import s.implicits._
    // dense leading key in [1, 500], Long tiebreak including MinValue —
    // the exact shape the doubling loop feeds the bucketed fast path
    val df = (0 until 4000)
      .map(v => (v.toLong, (v % 500 + 1).toLong,
        if (v % 11 == 0) Long.MinValue else (v % 7).toLong))
      .toDF("g", "r", "r2")
    val (fast, dFast) = ops.PrefixScan.denseRankDense(
      df, "r", Some("r2"), "rk", keyMax = 500L, parts = 8)
    val (ref, dRef) = ops.PrefixScan.denseRank(df, Seq("r", "r2"), "rk", parts = 8)
    assert(dFast === dRef)
    val gotF = fast.select($"g", $"rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotR = ref.select($"g", $"rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotF === gotR)
    val want = df.selectExpr("g",
        "CAST(dense_rank() OVER (ORDER BY r, r2) AS LONG) AS rk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotF === want)
    // single-key form (the SA rank) + keyMax far above max(key)
    val df1 = (0 until 1000).map(v => (v.toLong, (v % 37 + 1).toLong)).toDF("g", "r")
    val (f1, d1) = ops.PrefixScan.denseRankDense(df1, "r", None, "rk",
      keyMax = 100000L, parts = 8)
    assert(d1 === 37L)
    val got1 = f1.select($"g", $"rk").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want1 = df1.selectExpr("g",
        "CAST(dense_rank() OVER (ORDER BY r) AS LONG) AS rk")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 === want1)
  }

  test("MFCC: c0 is the closed-form 1024*sum(qlog mel), lq pins the mel-band parity") {
    val mel = ops.Mm8.audioMel(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (2 to 6).map(r.getLong)).toMap
    val mfcc = ops.Mm8.audioMfcc(spark, sf0001).collect()
    assert(mfcc.nonEmpty)
    mfcc.foreach { r =>
      val id = r.getLong(0)
      val lq = (1 to 5).map(r.getLong)
      // lq_j is exactly the shared integer log2 of the mel band energy
      assert(lq === mel(id).map(ops.Llm14.qlogJvm), s"doc $id lq parity")
      // DCT row 0 is all-1024 (cos 0), so c0 = 1024 * sum(lq) exactly
      assert(r.getLong(6) === 1024L * lq.sum, s"doc $id c0 closed form")
      // an independent JVM replica of the remaining coefficients
      (1 to 4).foreach { m =>
        val want = (0 until 5).map(j => ops.MmMfcc.CosD(m)(j) * lq(j)).sum
        assert(r.getLong(6 + m) === want, s"doc $id c$m")
      }
    }
    // basis sanity: each non-DC row sums to ~0 (orthogonal to DC)
    (1 until 5).foreach { m =>
      assert(math.abs(ops.MmMfcc.CosD(m).sum) <= 2L, s"DCT row $m balance")
    }
  }

  test("multi-probe IVF: recall monotone in nprobe, full-probe row is the exact anchor, nprobe=1 matches the L397 audit") {
    val rows = ops.Llm19.ivfMultiprobe(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3),
        r.getDouble(4)))).toMap
    assert(rows.keySet === Set(1L, 2L, 4L, 10L))
    // recall and candidate cost both rise monotonically with nprobe
    val seq = Seq(1L, 2L, 4L, 10L).map(rows)
    seq.sliding(2).foreach { case Seq(a, b) =>
      assert(a._1 <= b._1, "avg_recall must be monotone in nprobe")
      assert(a._3 < b._3, "candidate cost must grow with nprobe")
    }
    // probing every cell IS the exact scan: recall 1 by construction
    assert(rows(10L)._1 === 1.0 && rows(10L)._2 === 1.0)
    // the single-probe row reproduces the L397 audit's ivf row
    val audit = ops.Llm15.annRecall(spark, sf0001).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(4)))).toMap
    assert((rows(1L)._1, rows(1L)._3) === audit("ivf"),
      "nprobe=1 must equal the audited single-probe ivf row")
  }
}
