package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale rehearsal: the closest local proxy for the 100× question.
  *
  * Synthesizes a ~10× corpus from the sf0.01 fixtures (self-union with id
  * remap — 100k events / 5k documents / 5k embeddings) into a temp dir with
  * the fixture layout, then runs the heavy query family against it through
  * the same `SparkEntry.queries` entry points the driver uses, asserting
  * (a) completion within a wall bound that a quadratic blow-up would blast
  * through, and (b) the plan invariants that make each shape scale-safe —
  * no nested-loop/cartesian pair join, bounded Exchange counts — hold on
  * the scaled data exactly as they do on the fixture.
  *
  * The replica structure is deliberately adversarial for the dedup family:
  * each logical document appears 10× under distinct ids, so the banded
  * candidate generators face dense 10-cliques of true duplicates — the
  * worst realistic collision profile — rather than a diluted corpus.
  */
class ScaleRehearsalSpec extends SparkTestBase {

  private val K = 10
  private val sf001 = "/root/testdata/sf0.01"

  private lazy val scaledDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-scale10x").toString
    def times10(df: DataFrame, idCols: Seq[String]): DataFrame =
      (0 until K).map { i =>
        idCols.foldLeft(df)((d, c) => d.withColumn(c, col(c) * K + lit(i.toLong)))
      }.reduce(_ union _)
    times10(Tables.table(spark, sf001, "documents"), Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    times10(Tables.table(spark, sf001, "embeddings"), Seq("vec_id"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    times10(Tables.table(spark, sf001, "events"), Seq("event_id", "user_id"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // TPC-H facts: orderkey/custkey remap in lockstep keeps referential
    // integrity WITHIN each replica (replica i's lineitems join replica
    // i's orders join replica i's customers); supplier/part/nation dims
    // are shared, so per-supplier aggregates scale exactly 10x
    times10(Tables.lineitem(spark, sf001), Seq("l_orderkey"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    times10(Tables.orders(spark, sf001), Seq("o_orderkey", "o_custkey"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    times10(Tables.customer(spark, sf001), Seq("c_custkey"))
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    for (t <- Seq("supplier", "part", "nation", "region"))
      Tables.table(spark, sf001, t)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    dir
  }

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, scaledDir).queryExecution.executedPlan.toString()

  private def runTimed(name: String): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = SparkEntry.queries(name)(spark, scaledDir).count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  test("10x corpus materializes with the expected cardinalities") {
    assert(Tables.table(spark, scaledDir, "documents").count() === 5000L)
    assert(Tables.table(spark, scaledDir, "embeddings").count() === 5000L)
    assert(Tables.events(spark, scaledDir).count() === 100000L)
  }

  test("llm_sim_topk at 10x: completes, still no pair-join node in the plan") {
    val p = planOf("llm_sim_topk")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val (n, secs) = runTimed("llm_sim_topk")
    assert(n > 0)
    assert(secs < 60.0, s"sim_topk took $secs s at 10x — kernel no longer linear?")
  }

  test("PQ family at 10x corpus: broadcast-only plans hold, encode linear, ADC completes") {
    // At 10x the vec_id remap makes the 16 seed subvectors heavily
    // duplicated (replicas of only 2 original vectors) — a deliberately
    // degenerate codebook; ties resolve to the smallest centroid id, the
    // plans must not care, and nothing may fall back to a pair join.
    for (q <- Seq("llm_pq_encode", "llm_pq_ann", "llm_ivfpq_ann")) {
      val p = planOf(q)
      assert(!p.contains("SortMergeJoin"), s"$q:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
    val (nE, tE) = runTimed("llm_pq_encode")
    assert(nE === 10L, s"label cells: $nE") // labels are shared across replicas
    assert(tE < 60.0, s"pq_encode took $tE s at 10x — encode no longer linear?")
    val (nA, tA) = runTimed("llm_pq_ann")
    assert(nA === 15L, s"5 queries x top-3: $nA")
    assert(tA < 60.0, s"pq_ann took $tA s at 10x")
    val (nC, tC) = runTimed("llm_ivfpq_ann")
    assert(nC === 15L, s"5 queries x top-3: $nC")
    assert(tC < 60.0, s"ivfpq_ann took $tC s at 10x")
  }

  test("llm_dedup_near at 10x duplicate density: banded path completes, finds the replica cliques") {
    val p = planOf("llm_dedup_near")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val (n, secs) = runTimed("llm_dedup_near")
    // every replica pair of a kept doc is an exact dup (J=1) → pairs must
    // vastly exceed the single-copy fixture's count
    assert(n > 1000L, s"expected dense replica-clique pairs, got $n")
    assert(secs < 60.0, s"dedup_near took $secs s at 10x — banding broken?")
  }

  test("llm_dedup_clusters at 10x: Pregel rounds converge, components are replica-closed") {
    val (n, secs) = runTimed("llm_dedup_clusters")
    assert(n > 0)
    assert(secs < 90.0, s"dedup_clusters took $secs s at 10x")
    // replicas of the same source doc carry identical text → they must land
    // in one component: no label group may split a replica family
    val labels = SparkEntry.queries("llm_dedup_clusters")(spark, scaledDir)
    val cols = labels.columns
    val (node, lab) = (cols(0), cols(1))
    val split = labels
      .withColumn("family", (col(node) / K).cast("long"))
      .groupBy("family").agg(countDistinct(col(lab)).as("nlab"))
      .where(col("nlab") > 1).count()
    assert(split === 0L, s"$split replica families split across components")
    // the DISTRIBUTED Pregel path (the >DriverUfCap regime) must converge
    // and close the same replica families on the dense 10x pair graph
    val pregel = ops.Llm3.dedupClustersAt(spark, scaledDir, parallelism = 4)
    val splitP = pregel
      .withColumn("family", (col("doc_id") / K).cast("long"))
      .groupBy("family").agg(countDistinct(col("cluster")).as("nlab"))
      .where(col("nlab") > 1).count()
    assert(splitP === 0L, s"$splitP families split on the Pregel path")
  }

  test("llm_dedup_jaccard_prefix at 10x duplicate density: SSJoin completes, no pair explosion") {
    val p = planOf("llm_dedup_jaccard_prefix")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val (n, secs) = runTimed("llm_dedup_jaccard_prefix")
    // replica families are exact dups (J=1): the threshold set must be
    // dense with the 10-clique pairs the remap manufactured
    assert(n > 1000L, s"expected replica-clique pairs, got $n")
    assert(secs < 60.0, s"jaccard_prefix took $secs s at 10x — prefix filtering broken?")
  }

  test("llm_dup_spans at 10x duplicate density: df-join stays shingle-proportional") {
    val (n, secs) = runTimed("llm_dup_spans")
    assert(n === 5000L, s"one row per (non-trivial) doc expected, got $n")
    assert(secs < 60.0, s"dup_spans took $secs s at 10x")
    // replica docs share all shingles → their dup_frac must be 1.0
    val frac1 = SparkEntry.queries("llm_dup_spans")(spark, scaledDir)
      .where(col("dup_frac") === 1.0).count()
    assert(frac1 === 5000L, s"all docs are 10x replicas, got $frac1 at frac 1.0")
  }

  test("llm_semdedup at 10x replica density: cell-proportional pairs, one keeper per family") {
    // replicas of one original share an identical embedding, so they are
    // assigned to the SAME cell (argmax ties break on centroid index) and
    // every non-lowest replica sees a lower vec_id at cos=1.0 ≥ τ — the
    // worst realistic prune density for the within-cell pair generator
    val p = planOf("llm_semdedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val (n, secs) = runTimed("llm_semdedup")
    // vec_id<2000 under the ×10 remap = 200 original vectors × 10 replicas
    assert(n === 2000L, s"one row per in-bound vector expected, got $n")
    assert(secs < 60.0, s"semdedup took $secs s at 10x — pair gen no longer cell-proportional?")
    val rows = SparkEntry.queries("llm_semdedup")(spark, scaledDir)
    // a family may lose even its lowest id to a cross-family neighbor, but
    // two survivors within one identical-embedding family would mean the
    // within-cell prune rule itself broke at density
    val multiKeep = rows.where(!col("pruned"))
      .withColumn("family", (col("vec_id") / K).cast("long"))
      .groupBy("family").count().where(col("count") > 1).count()
    assert(multiKeep === 0L, s"$multiKeep replica families kept >1 member")
  }

  test("llm_ngram_novelty at 10x replica density: non-first replicas score exactly 0") {
    // every shingle of replica k·10+i (i>0) already occurs in replica k·10,
    // whose doc_id is strictly smaller — so first-occurrence novelty MUST
    // be exactly 0.0 for every non-lowest replica; any nonzero value means
    // the min-doc first-occurrence join lost rows under density
    val p = planOf("llm_ngram_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val (n, secs) = runTimed("llm_ngram_novelty")
    assert(n === 5000L, s"one row per >=3-word doc expected, got $n")
    assert(secs < 60.0, s"novelty took $secs s at 10x")
    val nonzero = SparkEntry.queries("llm_ngram_novelty")(spark, scaledDir)
      .where(col("doc_id") % K =!= 0 && col("novelty") =!= 0.0).count()
    assert(nonzero === 0L, s"$nonzero non-first replicas scored novelty > 0")
  }

  test("join_range_bucketed at 10x temporal density: still bucket-equi, no pair join") {
    // the remap multiplies ids but keeps ts — 10x errors AND 10x clicks
    // share the same time axis, so true pair density rises ~100x: the
    // worst case for any range join that isn't candidate-proportional
    val p = planOf("join_range_bucketed")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val (n, secs) = runTimed("join_range_bucketed")
    assert(n > 10000L, s"expected ~100x fixture pair density, got $n")
    assert(secs < 60.0, s"range join took $secs s at 10x")
  }

  test("cdc_scd2_intervals at 10x users: one key shuffle + output sort, same as fixture") {
    val p = planOf("cdc_scd2_intervals")
    assert("Exchange".r.findAllIn(p).size <= 2, s"scd2 must stay within one key shuffle + sort:\n$p")
    val (n, secs) = runTimed("cdc_scd2_intervals")
    assert(n > 0)
    assert(secs < 60.0, s"scd2 took $secs s at 10x")
  }

  test("cdc_temporal_join at 10x users: cardinality-preserving, equi-key plan") {
    val p = planOf("cdc_temporal_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val (n, secs) = runTimed("cdc_temporal_join")
    // one version per purchase regardless of scale
    val purchases = graft.Tables.events(spark, scaledDir)
      .where(col("event_type") === "purchase").count()
    assert(n === purchases, s"temporal join must stay cardinality-preserving: $n vs $purchases")
    assert(secs < 60.0, s"temporal join took $secs s at 10x")
  }

  test("llm_minhash_src_sim at 10x corpus: signature state stays O(k), estimates unchanged") {
    // 10x replica docs add NO new shingles per source — the signature (a
    // set sketch) must be bit-identical to the fixture's, at any scale
    val fixture = SparkEntry.queries("llm_minhash_src_sim")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val t0 = System.nanoTime()
    val scaled = SparkEntry.queries("llm_minhash_src_sim")(spark, scaledDir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSet
    val secs = (System.nanoTime() - t0) / 1e9
    assert(scaled === fixture, "replica corpus must not move any source signature")
    assert(secs < 60.0, s"minhash sim took $secs s at 10x")
  }

  test("tpch_q15 at 10x facts: same top supplier, revenue EXACTLY 10x") {
    // suppliers are shared dims while lineitems replicate with remapped
    // orderkeys — per-supplier revenue is a decimal sum, so it scales
    // bit-exactly 10x and the view-max equality join must pick the SAME
    // supplier(s) at 10x density
    val fixture = SparkEntry.queries("tpch_q15_top_supplier")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val scaled = SparkEntry.queries("tpch_q15_top_supplier")(spark, scaledDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(scaled.map(t => (t._1, t._2)) === fixture.map(t => (t._1, t._2)),
      s"top-supplier set changed: fixture=$fixture scaled=$scaled")
    fixture.zip(scaled).foreach { case ((_, _, fr), (_, _, sr)) =>
      // decimal sum scales exactly; the final decimal→double casts round
      // independently, so allow ulps
      assert(math.abs(sr - fr * K) <= math.ulp(fr * K) * 4, s"revenue: $sr vs ${fr * K}")
    }
  }

  test("tpch_q13 at 10x customers: per-customer counts invariant, custdist EXACTLY 10x") {
    // customers and their orders replicate in lockstep — each replica
    // customer keeps its fixture order count, so the distribution's
    // c_count axis is unchanged and every custdist frequency is exactly
    // 10x. A left-join miscount under density (dropped null rows,
    // duplicated matches) would bend the distribution's shape.
    val fixture = SparkEntry.queries("tpch_q13_cust_distribution")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val scaled = SparkEntry.queries("tpch_q13_cust_distribution")(spark, scaledDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(scaled === fixture.map { case (c, d) => (c, d * K) },
      s"fixture=$fixture scaled=$scaled")
  }

  test("tpch_q11 at 10x facts: fraction threshold selects the SAME part set, values 10x") {
    // per-part value and the global total both scale 10x (decimal-exact),
    // so `value > 0.001 * total` is scale-invariant: the important-parts
    // SET must be identical, values exactly 10x. This is the property
    // that makes a fraction-of-total HAVING meaningful at 100 TB — an
    // absolute threshold would silently select everything.
    val fixture = SparkEntry.queries("tpch_q11_important_parts")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val scaled = SparkEntry.queries("tpch_q11_important_parts")(spark, scaledDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(scaled.keySet === fixture.keySet,
      s"threshold not scale-invariant: only-fixture=${fixture.keySet -- scaled.keySet} only-scaled=${scaled.keySet -- fixture.keySet}")
    fixture.foreach { case (k, v) =>
      assert(math.abs(scaled(k) - v * K) <= math.ulp(v * K) * 4, s"part $k: ${scaled(k)} vs ${v * K}")
    }
  }

  test("tpch_q2 at 10x facts: average prices are scale-free — result IDENTICAL") {
    // each (part, supplier) offer replicates 10x with the same price, so
    // davg is unchanged (up to one double-division ulp) and the min-price
    // supplier per part must be the same set — the aggregate that should
    // NOT grow under replication, complementing q15/q21's exact-10x pins
    val fixture = SparkEntry.queries("tpch_q2_min_cost_supp")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val scaled = SparkEntry.queries("tpch_q2_min_cost_supp")(spark, scaledDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(scaled.map(t => (t._1, t._2)) === fixture.map(t => (t._1, t._2)),
      s"min-cost supplier set changed under replication")
    fixture.zip(scaled).foreach { case ((_, _, fp), (_, _, sp)) =>
      assert(math.abs(sp - fp) <= math.ulp(fp) * 8, s"price drifted: $fp vs $sp")
    }
  }

  test("llm_dedup_simhash_verified at 10x replica density: every replica pair alerts at hamming 0") {
    // replicas carry IDENTICAL text → identical 48-bit signatures → every
    // within-bound replica pair must collide in all 4 bands and verify at
    // hamming 0; candidates stay collision-proportional (no BNLJ appears)
    val out = SparkEntry.queries("llm_dedup_simhash_verified")(spark, scaledDir)
    val plan = planOf("llm_dedup_simhash_verified")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val gotSet = got.map(t => (t._1, t._2)).toSet
    // fixture docs 0..99 replicate to ids {d*10+i}; all fall under the
    // 1000 bound → every C(10,2) pair per family must be present at h=0
    val missing = (for {
      d <- 0 until 100; i <- 0 until 10; j <- (i + 1) until 10
    } yield (d * 10 + i.toLong, d * 10 + j.toLong)).filterNot(gotSet)
    assert(missing.isEmpty, s"${missing.size} replica pairs missing, e.g. ${missing.take(3)}")
    got.filter { case (a, b, _) => a / 10 == b / 10 }.foreach { case (a, b, h) =>
      assert(h === 0L, s"replica pair ($a,$b) hamming $h")
    }
  }

  test("tpch_q9 at 10x facts: per-(nation,year) profit scales 10x; q12 counts exactly 10x") {
    // q9: lineitems replicate against shared part/supplier dims — each
    // (nation, order-year) cell's decimal profit sum scales 10x (double
    // cast allows ulps). q12: priority counts are longs — exactly 10x.
    val q9f = SparkEntry.queries("tpch_q9_profit")(spark, sf001)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    val q9s = SparkEntry.queries("tpch_q9_profit")(spark, scaledDir)
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(q9s.keySet === q9f.keySet)
    q9f.foreach { case (k, v) =>
      assert(math.abs(q9s(k) - v * K) <= math.ulp(v * K) * 8, s"$k: ${q9s(k)} vs ${v * K}")
    }
    val q12f = SparkEntry.queries("tpch_q12_ship_delay")(spark, sf001)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    val q12s = SparkEntry.queries("tpch_q12_ship_delay")(spark, scaledDir)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(q12s === q12f.map { case (k, (h, l)) => (k, (h * K, l * K)) },
      s"fixture=$q12f scaled=$q12s")
  }

  test("tpch_q16 at 10x facts: distinct supplier counts are INVARIANT (dims shared)") {
    // the distinct-count complement of the exact-10x pins: replicating
    // facts against the SAME supplier dim must leave every (brand, type,
    // size) supplier count unchanged — a distinct-count that grew under
    // replication would mean the anti-join or the Expand double-counts
    val fixture = SparkEntry.queries("tpch_q16_supplier_cnt")(spark, sf001)
      .collect().map(r => ((r.getString(0), r.getString(1), r.getInt(2)), r.getLong(3))).toMap
    val scaled = SparkEntry.queries("tpch_q16_supplier_cnt")(spark, scaledDir)
      .collect().map(r => ((r.getString(0), r.getString(1), r.getInt(2)), r.getLong(3))).toMap
    assert(scaled === fixture, s"only-fixture=${fixture.toSet -- scaled.toSet} only-scaled=${scaled.toSet -- fixture.toSet}")
  }

  test("tpch_q21 at 10x facts: per-supplier blame counts scale EXACTLY 10x") {
    // replica-local referential integrity means every sole-blame order
    // replicates 10x while the shared supplier dim does not — so each
    // supplier's numwait must be exactly 10x the fixture value, in the
    // same rank order. Anything else means the decorrelated aggregate
    // miscounts under density.
    val fixture = SparkEntry.queries("tpch_q21_sole_blame")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val t0 = System.nanoTime()
    val scaled = SparkEntry.queries("tpch_q21_sole_blame")(spark, scaledDir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val secs = (System.nanoTime() - t0) / 1e9
    assert(scaled === fixture.map { case (s, n) => (s, n * K) },
      s"fixture=$fixture scaled=$scaled")
    assert(secs < 60.0, s"q21 took $secs s at 10x")
  }

  test("sketch family at 10x corpus: bloom prunes before shuffle, CMS state fixed, retrieval bounded") {
    // bloom: the sketch is CONSTANT-size however big the corpus — the
    // prefilter's reduction claim must survive 10x grams; result exact
    val (nB, tB) = runTimed("llm_bloom_decontaminate")
    assert(nB === 19L, s"per-source summary rows: $nB") // sources are shared dims
    assert(tB < 60.0, s"bloom decontaminate took $tB s at 10x")
    // CMS: depth x width longs of state regardless of 10x token stream;
    // replica token counts are exactly 10x so estimates scale 10x too
    val base = SparkEntry.queries("llm_cms_heavy_hitters")(spark, sf001)
      .select("token", "n_exact", "n_cms").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val cmsT0 = System.nanoTime()
    val n10 = SparkEntry.queries("llm_cms_heavy_hitters")(spark, scaledDir)
      .select("token", "n_exact", "n_cms").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val tCms = (System.nanoTime() - cmsT0) / 1e9
    assert(tCms < 60.0, s"CMS heavy hitters took $tCms s at 10x")
    assert(n10.keySet === base.keySet, "10x corpus changed the top-20 set")
    n10.foreach { case (tok, (ex10, cms10)) =>
      assert(ex10 === base(tok)._1 * 10, s"$tok exact not 10x")
      // counter arithmetic is linear: every cell is 10x, so the min is too
      assert(cms10 === base(tok)._2 * 10, s"$tok CMS estimate not 10x")
    }
    // retrieval: BM25 stats/df broadcasts stay dim-sized; per-term scores
    // are scale-free (tf, df, dl, N, Σdl all scale together only where
    // they should) — just bound the wall and the output contract
    val (nR, tR) = runTimed("llm_bm25_topk")
    assert(nR === 10L)
    assert(tR < 60.0, s"bm25 took $tR s at 10x")
    val (nM, tM) = runTimed("llm_mmr_rerank")
    assert(nM === 5L)
    assert(tM < 60.0, s"mmr took $tM s at 10x")
  }

  test("SNM at 10x replica density: candidate budget holds, replicas surface, no pair join") {
    // 10x self-union packs each replica family into adjacent text-sorted
    // ranks — exactly SNM's favorable case. The candidate budget stays
    // HARD at N*w regardless: verify wall + output shape + plan.
    val p = planOf("er_sorted_neighborhood")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val (n, secs) = runTimed("er_sorted_neighborhood")
    // replicas are verbatim copies (J = 1) sorted adjacent: with 10
    // copies per doc and window 5, each family alone yields >= 5+4+3+2+1
    // in-window pairs x 500 originals lower-bounds the output
    assert(n >= 500L, s"expected the replica families to surface: $n")
    assert(secs < 60.0, s"SNM took $secs s at 10x — rank or verify no longer linear?")
  }

  test("no driver-collect cap is violated by the 10x corpus") {
    // the bounded brute baselines must still fit their caps at 10x (5000
    // rows ≪ the 100k boundedCollect cap / 4096 query cap) — this pins
    // that the rehearsal exercises the REAL code path, not a fallback
    val embBrute = SparkEntry.queries("llm_dedup_embed")(spark, scaledDir)
    assert(embBrute.count() > 0)
  }

  test("llm_dedup_near at 100x replica density: clique-complete, quadratic ONLY in dup multiplicity, bounded shuffle") {
    // Round-9 (VERDICT r8 #7): one dedup rehearsal pushed to 100× — 50 000
    // documents, each fixture doc replicated 100× under distinct ids. The
    // growth LAW under test: banded candidate pairs are quadratic in the
    // DUPLICATE MULTIPLICITY K (a true K-clique per family must emit all
    // K(K−1)/2 pairs) and linear in the family count — never quadratic in
    // the corpus. Identical replicas share every band bucket, so the
    // within-family pair set must be EXACTLY complete at both 10× and
    // 100×, which pins the measured growth exponent at
    // C(100,2)/C(10,2) = 110 (corpus-quadratic would be 50 000²/5 000² ≈
    // 100× MORE pairs than that on the cross terms; candidate-linear
    // banding keeps cross-family pairs at exactly K² per fixture pair).
    val K100 = 100
    val dir100 = java.nio.file.Files.createTempDirectory("graft-scale100x").toString
    (0 until K100).map { i =>
      Tables.table(spark, sf001, "documents")
        .withColumn("doc_id", col("doc_id") * K100 + lit(i.toLong))
    }.reduce(_ union _)
      .write.mode("overwrite").parquet(s"$dir100/documents.parquet")

    val p = SparkEntry.queries("llm_dedup_near")(spark, dir100)
      .queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)

    // shuffle-byte bound via the bench tally: collision-proportional
    // banding at 50k docs moves tens of MB; a corpus-quadratic pair
    // materialization would be in the GBs
    val tally = new Bench.ShuffleTally
    spark.sparkContext.addSparkListener(tally)
    org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
    val (r0, _, _, _) = tally.snapshot()
    val t0 = System.nanoTime()
    val out = SparkEntry.queries("llm_dedup_near")(spark, dir100)
      .select((col("doc1") / K100).cast("long").as("f1"),
        (col("doc2") / K100).cast("long").as("f2"))
      .groupBy(col("f1") === col("f2")).count()
      .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
    val (r1, _, _, _) = tally.snapshot()
    val shuffleMb = (r1 - r0) / 1048576.0

    // families eligible for a signature = fixture docs with ≥3 words
    // (split-semantics identical to the signature pipeline's)
    val eligible = Tables.table(spark, sf001, "documents")
      .where(size(split(col("text"), " ")) >= 3).count()
    val withinExpected = eligible * (K100.toLong * (K100 - 1) / 2)
    assert(out.getOrElse(true, 0L) === withinExpected,
      s"within-family pairs ${out.getOrElse(true, 0L)} != clique-complete $withinExpected")
    // measured growth exponent vs the 10× corpus: C(100,2)/C(10,2) = 110
    val within10 = SparkEntry.queries("llm_dedup_near")(spark, scaledDir)
      .where((col("doc1") / K).cast("long") === (col("doc2") / K).cast("long"))
      .count()
    assert(within10 === eligible * (K.toLong * (K - 1) / 2))
    assert(out.getOrElse(true, 0L) === within10 * 110,
      s"growth exponent broke: 100x=${out.getOrElse(true, 0L)} vs 10x=$within10")
    // measured r9: 10.6 s, 21.3 MB (2 845 000 pairs) — bounds ~4× that
    assert(secs < 300.0, s"dedup_near took $secs s at 100x")
    assert(shuffleMb < 80.0,
      f"dedup_near moved $shuffleMb%.1f MB at 100x — collision-proportionality lost")
    info(f"100x: ${out.values.sum} pairs (within ${out.getOrElse(true, 0L)}, " +
      f"cross ${out.getOrElse(false, 0L)}), $secs%.1f s, $shuffleMb%.1f MB shuffled")
  }

  test("butterfly hub-cap under 10x hub skew: wedge budget holds, estimator lands") {
    import spark.implicits._
    // Skewed-hub bipartite graph: 400 light customers of degree 20, plus
    // 4 hub customers wired to ALL 1000 suppliers — hub degree 1000 is
    // ~10x the sf0.1 fixture max (102) and ~22x the cap, the regime where
    // the uncapped kernel's Sigma d_c^2 term explodes (hub wedges dominate
    // 96% of the total here). 13 is invertible mod 200, so each light
    // customer's 20 suppliers are distinct.
    val light = (0 until 400).flatMap { c =>
      (0 until 20).map(i => (((c * 7 + i * 13) % 200).toLong, 1000L + c))
    }
    val hubs = (0 until 4).flatMap { h =>
      (0 until 1000).map(s => (s.toLong, 5000L + h))
    }
    val edges = (light ++ hubs).toDF("s", "c")
    // exact ground truth from the uncapped kernel (2.07M wedges — fine
    // locally, lethal at scale; that asymmetry is the point of the test)
    val ex = edges.as("a").join(edges.as("b"),
        col("a.c") === col("b.c") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("s1"), col("b.s").as("s2"))
      .agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)),
        coalesce(sum(col("n")), lit(0L))).head()
    val (bfExact, wedgesExact) = (ex.getLong(0), ex.getLong(1))
    val r = ops.Analytics.butterflyCappedOn(edges).head()
    val nHubCust = r.getAs[Long]("n_hub_cust")
    val nHubEdges = r.getAs[Long]("n_hub_edges")
    val wLight = r.getAs[Long]("wedges_light")
    val wHubEst = r.getAs[Long]("wedges_hub_est")
    val bfEst = r.getAs[Long]("bf_est_total")
    assert(nHubCust === 4L && nHubEdges === 4000L,
      s"stratification broke: $nHubCust hubs / $nHubEdges hub edges")
    // WEDGE BUDGET — the claim that makes the plan 100 TB-safe:
    // light wedges are cap-bounded by construction (<= cap * |E_light|),
    // and the hub stratum only ever ENUMERATES the sampled wedges
    // (wedges_hub_est / K^2 of them), a K^2 reduction at any skew.
    val hubRaw = wHubEst / 16
    assert(wLight <= 45L * 8000L, s"light wedge bound broke: $wLight")
    val processed = wLight + hubRaw
    assert(processed * 4 <= wedgesExact,
      s"capped plan enumerated $processed wedges vs $wedgesExact exact — " +
        "skew mitigation bought <4x")
    // hub sampling rate: deterministic h48 draw, expect ~1/16 of the
    // 1,998,000 true hub wedges within 25%
    val hubTrue = wedgesExact - wLight
    assert(math.abs(hubRaw * 16.0 - hubTrue) / hubTrue < 0.25,
      s"hub wedge estimate off: ${hubRaw * 16} vs $hubTrue")
    // ESTIMATOR — unbiased decomposition lands near truth even though
    // 96% of butterflies route through the sampled stratum
    val relErr = math.abs(bfEst - bfExact).toDouble / bfExact
    assert(relErr < 0.15, s"butterfly estimate $bfEst vs $bfExact exact " +
      f"(rel err $relErr%.3f)")
    info(f"skewed-hub: exact $bfExact butterflies / $wedgesExact wedges; " +
      f"capped enumerated $processed wedges (${wedgesExact / processed}x less), " +
      f"estimate $bfEst (rel err $relErr%.3f)")
  }

  test("round-10 family at 10x: KMV bands hold at 10x cardinality, DQ violations scale, backoff bounded") {
    // KMV: O(k) sketch state faces 10x the distinct keys (replica
    // custkeys are remapped, so |A| ≈ 13k); exact sides must be exactly
    // 10x the fixture's and the integer 3-rsd verdicts must still hold —
    // the estimator's relative error contract is cardinality-free
    val base = SparkEntry.queries("agg_kmv_setops")(spark, sf001)
      .collect().head
    val t0 = System.nanoTime()
    val r = SparkEntry.queries("agg_kmv_setops")(spark, scaledDir)
      .collect().head
    val tK = (System.nanoTime() - t0) / 1e9
    assert(tK < 60.0, s"kmv setops took $tK s at 10x")
    Seq("n_a_exact", "n_b_exact", "n_union_exact", "n_inter_exact")
      .foreach { c =>
        assert(r.getAs[Long](c) === base.getAs[Long](c) * K, c) }
    Seq("a_in_3rsd", "b_in_3rsd", "union_in_3rsd").foreach { c =>
      assert(r.getAs[Boolean](c), s"$c broke at 10x cardinality") }
    // DQ suite: violation counts are row-linear; the single-scan compile
    // must hold the wall at 10x rows
    val baseDq = SparkEntry.queries("dq_expectations")(spark, sf001)
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    val dqT0 = System.nanoTime()
    val dq = SparkEntry.queries("dq_expectations")(spark, scaledDir)
      .collect().map(x => (x.getString(0), x.getString(1)) -> x.getLong(2)).toMap
    val tD = (System.nanoTime() - dqT0) / 1e9
    assert(tD < 60.0, s"dq suite took $tD s at 10x")
    assert(dq.keySet === baseDq.keySet)
    dq.foreach { case (k, v) => assert(v === baseDq(k) * K,
      s"$k violations not 10x: $v vs ${baseDq(k)}") }
    // Stupid backoff: LM tables stay vocabulary-sized however big the
    // train slice; the held-out stream is the only scaled object
    val (nS, tS) = runTimed("llm_stupid_backoff")
    assert(nS === 100L, s"held-out rows at 10x: $nS") // orig ids 0-9 x 10 replicas
    assert(tS < 60.0, s"stupid backoff took $tS s at 10x")
  }

  test("association statistics are 10x-INVARIANT: lift, PMI, and Markov p unchanged as counts scale") {
    // Every count in lift / PMI / Markov scales by exactly K under the
    // replica construction (shared part/type dims, disjoint replica
    // orders/docs/users), so the RATIO statistics must be bit-identical
    // — the invariance that makes them meaningful at any corpus size.
    def keyed(name: String, key: org.apache.spark.sql.Row => String,
        stat: org.apache.spark.sql.Row => Double,
        cnt: org.apache.spark.sql.Row => Long) = {
      val b = SparkEntry.queries(name)(spark, sf001).collect()
        .map(r => key(r) -> ((stat(r), cnt(r)))).toMap
      val t0 = System.nanoTime()
      val s = SparkEntry.queries(name)(spark, scaledDir).collect()
        .map(r => key(r) -> ((stat(r), cnt(r)))).toMap
      assert((System.nanoTime() - t0) / 1e9 < 60.0, s"$name too slow at 10x")
      (b, s)
    }
    // Markov: full matrix — p identical, n exactly 10x
    val (mb, ms) = keyed("markov_event_transitions",
      r => r.getString(0) + ">" + r.getString(1),
      r => r.getDouble(3), r => r.getLong(2))
    assert(ms.keySet === mb.keySet)
    mb.foreach { case (k, (p, n)) =>
      assert(ms(k)._1 === p, s"$k p drifted")
      assert(ms(k)._2 === n * K, s"$k n not 10x") }
    // PMI / lift: the RATIO is invariant for any pair in both top-20s
    // (counts all scale by K; ln(K·c·K·N/(K·cl·K·cr)) = ln(c·N/(cl·cr))).
    // The top-20 SETS may legitimately differ: the min-support floor is
    // NOT scale-invariant — a pair one count under it at sf0.01 crosses
    // at 10x and, hapax-style, outscores the incumbents. That is the
    // documented PMI pathology surfacing exactly as the Church & Hanks
    // analysis predicts, not a plan defect.
    val (pb, ps) = keyed("llm_pmi_collocations",
      r => r.getString(0), r => r.getDouble(4), r => r.getLong(1))
    val pmiBoth = pb.keySet & ps.keySet
    assert(pmiBoth.nonEmpty, "no overlap between fixture and 10x PMI top-20s")
    pmiBoth.foreach { k =>
      assert(ps(k)._1 === pb(k)._1, s"$k PMI drifted")
      assert(ps(k)._2 === pb(k)._2 * K, s"$k support not 10x") }
    val (lb, lst) = keyed("basket_lift_pairs",
      r => r.getLong(0) + ":" + r.getLong(1),
      r => r.getDouble(5), r => r.getLong(2))
    val liftBoth = lb.keySet & lst.keySet
    assert(liftBoth.nonEmpty, "no overlap between fixture and 10x lift top-20s")
    liftBoth.foreach { k =>
      assert(lst(k)._1 === lb(k)._1, s"$k lift drifted")
      assert(lst(k)._2 === lb(k)._2 * K, s"$k support not 10x") }
  }

  test("distributional analytics are 10x-INVARIANT: funnel percentiles, winsor means, RFM cells, cohort rates, paths") {
    // The replica construction repeats every user/customer/doc verbatim
    // under fresh ids, so DISTRIBUTIONS are unchanged while masses scale
    // by exactly K — pinning both halves catches any operator whose
    // plan quietly depends on absolute size (a skew fallback, a sample,
    // a mis-keyed window).
    def rowsOf(name: String) =
      (SparkEntry.queries(name)(spark, sf001).collect(),
        SparkEntry.queries(name)(spark, scaledDir).collect())
    // funnel: the delta MULTISET is each original delta repeated K times,
    // so interpolated percentiles are NOT bit-identical — the rank
    // position (n−1)·q lands elsewhere inside the repeated blocks and
    // interpolates a different adjacent gap — but they can move by at
    // most one inter-element gap: pin counts exactly and quantiles to a
    // tight relative band (measured ~1.9% worst on the fixture)
    val (fb, fs) = rowsOf("funnel_time_to_convert")
    fb.zip(fs).foreach { case (b, s) =>
      assert(b.getString(0) == s.getString(0))
      assert(s.getLong(1) == b.getLong(1) * K, s"${b.getString(0)} n_users")
      def near(x: Double, y: Double) = math.abs(x - y) / math.max(y, 1.0) < 0.05
      assert(near(s.getDouble(2), b.getDouble(2)), s"${b.getString(0)} p50")
      assert(near(s.getDouble(3), b.getDouble(3)), s"${b.getString(0)} p90") }
    // winsorized: same value multiset ⇒ same bounds and means; clip 10x
    val (wb, ws) = rowsOf("agg_winsorized_stats")
    wb.zip(ws).foreach { case (b, s) =>
      assert(s.getLong(1) == b.getLong(1) * K)
      assert(s.getLong(2) == b.getLong(2) * K && s.getLong(3) == b.getLong(3) * K)
      assert(s.getDouble(4) == b.getDouble(4), "raw mean drifted")
      assert(s.getDouble(5) == b.getDouble(5), "winsorized mean drifted") }
    // RFM: same metric distribution ⇒ same boundaries ⇒ same cells, 10x
    val (rb, rs) = rowsOf("rfm_segments")
    assert(rb.map(_.getString(0)).toSeq == rs.map(_.getString(0)).toSeq,
      "segment cells changed at 10x")
    rb.zip(rs).foreach { case (b, s) =>
      assert(s.getLong(4) == b.getLong(4) * K, s"${b.getString(0)} count") }
    // cohort matrix: same activity calendar per replica ⇒ same rates
    val (cb, cs) = rowsOf("cohort_retention_matrix")
    assert(cb.length == cs.length)
    cb.zip(cs).foreach { case (b, s) =>
      assert(b.getString(0) == s.getString(0) && b.getInt(1) == s.getInt(1))
      assert(s.getLong(2) == b.getLong(2) * K && s.getLong(3) == b.getLong(3) * K)
      assert(s.getDouble(4) == b.getDouble(4), "retention rate drifted") }
    // session paths: per-replica sessions identical ⇒ counts exactly 10x
    val (pb, ps) = rowsOf("session_top_paths")
    assert(pb.map(_.getString(0)).toSeq == ps.map(_.getString(0)).toSeq,
      "top-10 path set changed at 10x")
    pb.zip(ps).foreach { case (b, s) =>
      assert(s.getLong(1) == b.getLong(1) * K, s"${b.getString(0)} count") }
  }

  test("round-11 statistics family at 10x: quantiles invariant, chi2 scales 10x, Zipf slope scale-free, coverage invariant, z-order dominance holds") {
    def rowsOf(name: String) =
      (SparkEntry.queries(name)(spark, sf001).collect(),
        SparkEntry.queries(name)(spark, scaledDir).collect())
    def near(a: Double, b: Double, eps: Double = 1e-6) = math.abs(a - b) <= eps
    // MAD: replicating every value 10x leaves the empirical distribution
    // unchanged ⇒ median and MAD bit-identical, counts exactly 10x
    val (mb, ms) = rowsOf("anomaly_mad_robust")
    mb.zip(ms).foreach { case (b, s) =>
      assert(b.getString(0) == s.getString(0))
      assert(s.getLong(1) == b.getLong(1) * K, "n")
      assert(s.getDouble(2) == b.getDouble(2), "median drifted under replication")
      assert(s.getDouble(3) == b.getDouble(3), "MAD drifted under replication")
      assert(s.getLong(4) == b.getLong(4) * K, "outlier count") }
    // chi2: all four contingency cells scale 10x ⇒ chi2 scales EXACTLY
    // 10x (N·(ad−bc)²/den — 10·10⁸/10⁸·10⁻¹... net one factor of K) and
    // the selected (word, lang) set is invariant
    val (xb, xs) = rowsOf("ml_chi2_terms")
    assert(xb.map(r => (r.getString(0), r.getString(1))).toSeq ==
      xs.map(r => (r.getString(0), r.getString(1))).toSeq,
      "chi2 top-20 term set changed at 10x")
    xb.zip(xs).foreach { case (b, s) =>
      assert(s.getLong(2) == b.getLong(2) * K, "cell a")
      assert(near(s.getDouble(6), b.getDouble(6) * K, 1e-3),
        s"chi2 not 10x: ${s.getDouble(6)} vs ${b.getDouble(6)} * $K") }
    // Zipf: counts scale 10x ⇒ ln f shifts by the CONSTANT ln 10 ⇒ the
    // slope and r² are scale-free, the intercept moves by exactly ln 10
    val (zb, zs) = (rowsOf("llm_zipf_slope")._1.head, rowsOf("llm_zipf_slope")._2.head)
    assert(near(zs.getDouble(1), zb.getDouble(1), 2e-3), "slope not scale-free")
    assert(near(zs.getDouble(2) - zb.getDouble(2), math.log(10.0), 2e-3),
      "intercept did not shift by ln 10")
    assert(near(zs.getDouble(3), zb.getDouble(3), 2e-3), "r2 drifted")
    // vocabulary coverage: proportions are replication-invariant — the
    // top-K vocab set is unchanged, coverage IDENTICAL, counts 10x
    val (vb, vs) = rowsOf("llm_vocab_coverage")
    vb.zip(vs).foreach { case (b, s) =>
      assert(b.getString(0) == s.getString(0))
      assert(s.getLong(1) == b.getLong(1) * K && s.getLong(2) == b.getLong(2) * K)
      assert(s.getDouble(4) == b.getDouble(4), "coverage drifted") }
    // z-order: replicated orders keep the (date × customer) geometry, so
    // the pruning dominance must survive the 10x row count
    val zp = SparkEntry.queries("layout_zorder_prune")(spark, scaledDir)
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(zp("3_zorder")._2 < zp("2_datesort")._2,
      s"z-order lost 2-D dominance at 10x: $zp")
    assert(zp("2_datesort")._1 < zp("1_natural")._1)
  }

  test("round-11 batch at 10x: CDC chunks scale exactly, hashing/readability/OLS/attribution invariant") {
    def rowsOf(name: String) =
      (SparkEntry.queries(name)(spark, sf001).collect(),
        SparkEntry.queries(name)(spark, scaledDir).collect())
    def near(a: Double, b: Double, eps: Double = 1e-6) = math.abs(a - b) <= eps
    // content-defined chunking: replicas are byte-identical text, so the
    // chunk edge set is IDENTICAL and every frequency scales exactly 10x —
    // the invariance fixed-width chunking cannot give (edges re-align)
    val t0 = System.nanoTime()
    val (cb, cs) = rowsOf("llm_cdc_chunks")
    val tCdc = (System.nanoTime() - t0) / 1e9
    assert(tCdc < 60.0, s"cdc_chunks took $tCdc s at 10x")
    assert(cb.length == cs.length)
    cb.zip(cs).foreach { case (b, s) =>
      assert(b.getString(0) == s.getString(0), "top chunk set changed at 10x")
      assert(s.getLong(1) == b.getLong(1) * K, "chunk frequency not exactly 10x")
      assert(s.getLong(2) == b.getLong(2) * K, "total chunks not exactly 10x")
      assert(s.getLong(3) == b.getLong(3), "distinct chunk set changed at 10x")
    }
    // feature hashing: the doc_id<10 slice at 10x is the 10 replicas of
    // fixture doc 0 — every replica's sparse vector must be IDENTICAL,
    // and the corpus-wide bucket load (distinct words) is invariant
    val (hb, hs) = rowsOf("ml_feature_hashing")
    val doc0 = hb.filter(_.getLong(0) == 0L)
      .map(r => (r.getLong(1), r.getLong(2))).toSeq
    (0L until 10L).foreach { id =>
      val v = hs.filter(_.getLong(0) == id).map(r => (r.getLong(1), r.getLong(2))).toSeq
      assert(v == doc0, s"replica $id vector differs from fixture doc 0")
    }
    val loadB = hb.map(r => r.getLong(1) -> r.getLong(3)).toMap
    hs.foreach(r => assert(r.getLong(3) == loadB(r.getLong(1)),
      "bucket distinct-word load drifted at 10x"))
    // OLS: centered moments all scale 10x so the solved betas and R2 are
    // replication-invariant up to last-ulp double noise
    val (ob, os_) = (rowsOf("ml_ols_multi")._1.head, rowsOf("ml_ols_multi")._2.head)
    assert(os_.getLong(0) == ob.getLong(0) * K)
    (1 to 4).foreach(i => assert(near(os_.getDouble(i), ob.getDouble(i), 1e-4),
      s"OLS col $i drifted at 10x: ${os_.getDouble(i)} vs ${ob.getDouble(i)}"))
    // readability: per-language decimal means over 10 identical copies are
    // bit-equal; doc counts 10x
    val (rb, rs) = rowsOf("llm_readability")
    rb.zip(rs).foreach { case (b, s) =>
      assert(b.getString(0) == s.getString(0))
      assert(s.getLong(1) == b.getLong(1) * K)
      (2 to 5).foreach(i => assert(s.getDouble(i) == b.getDouble(i),
        s"readability col $i not bit-equal at 10x"))
    }
    // attribution: each user becomes 10 replica users with the identical
    // journey, so credited revenue and touch counts scale exactly 10x
    val (ab, as_) = rowsOf("attribution_position")
    ab.zip(as_).foreach { case (b, s) =>
      assert(b.getString(0) == s.getString(0))
      assert(s.getLong(1) == b.getLong(1) * K, "credited touches not 10x")
      assert(near(s.getDouble(2), b.getDouble(2) * K, 1e-3),
        s"credited revenue not 10x: ${s.getDouble(2)} vs ${b.getDouble(2)}")
    }
  }

  test("PrefixScan statistics family at 10x: no window operator, wall-bounded") {
    // the r11 weak class (value-grain single-partition windows) stays
    // fixed under scale: at 10x the distinct-value frames grow ~10x and
    // the plans must still contain ZERO Window operators and complete
    // fast — a single-partition cumsum would show up as a wall blowout
    // long before it OOMs
    for (k <- Seq("stats_spearman", "stats_gini_lorenz", "stats_ks_test",
        "stats_kruskal_wallis", "pareto_frontier_parts")) {
      assert(!planOf(k).contains("Window"), s"$k grew a window at 10x")
      val (n, secs) = runTimed(k)
      assert(n > 0, s"$k empty at 10x")
      assert(secs < 60.0, s"$k took $secs s at 10x")
    }
  }

  test("two-hop reach hub cap under star skew: wedge volume capped, light stratum exact") {
    import spark.implicits._
    val cap = 32
    // Star graph: one hub wired to 2000 leaves — uncapped, the wedge join
    // through the hub enumerates deg(H)^2 = 4M pairs; capped, the hub
    // routes only its 32 h48-lowest edges, so every leaf's two-hop set is
    // <= 1 + cap instead of 2000. Fixture degrees max out at 13, so this
    // is the regime the cap exists for (VERDICT r11 #2).
    val star = (1L to 2000L).map(l => (0L, l)).toDF("a", "b")
    val ed = star.select(col("a").as("x"), col("b").as("y"))
      .unionAll(star.select(col("b").as("x"), col("a").as("y")))
    val r = ops.Analytics.twoHopReachOn(ed, cap).collect()
    val hub = r.head
    assert(hub.getAs[Long]("node") === 0L)
    assert(hub.getAs[Long]("reach_2hop") === 2000L,
      "hub's DIRECT reach must never be truncated")
    assert(hub.getAs[Long]("n_hub_middles") === 0L)
    r.tail.foreach { leaf =>
      assert(leaf.getAs[Long]("reach_2hop") <= 1L + cap,
        s"leaf ${leaf.getAs[Long]("node")} reach " +
          s"${leaf.getAs[Long]("reach_2hop")} exceeds the 1+cap bound — " +
          "hub fanout not truncated")
      assert(leaf.getAs[Long]("n_hub_middles") === 1L,
        "hub-adjacent rows must be flagged as capped")
    }
    // determinism of the h48 truncation: a second run is row-identical
    val r2 = ops.Analytics.twoHopReachOn(ed, cap).collect()
    assert(r.map(_.toSeq).toSeq === r2.map(_.toSeq).toSeq)
    // light-only graph (clique of 10, degree 9 <= cap): EXACT reach,
    // zero hub flags — the stratification never touches the light path
    val clique = (for (i <- 0 until 10; j <- 0 until 10; if i < j)
      yield (100L + i, 100L + j)).toDF("a", "b")
    val edl = clique.select(col("a").as("x"), col("b").as("y"))
      .unionAll(clique.select(col("b").as("x"), col("a").as("y")))
    val rl = ops.Analytics.twoHopReachOn(edl, cap).collect()
    assert(rl.length === 10)
    rl.foreach { row =>
      assert(row.getAs[Long]("reach_2hop") === 9L)
      assert(row.getAs[Long]("n_hub_middles") === 0L)
      assert(row.getAs[Double]("expansion") === 1.0)
    }
  }

  test("itemPairCounts hyperactive-basket cap: capped branch fires, pair volume bounded, n_capped_custs surfaces") {
    import spark.implicits._
    val cap = ops.Warehouse.CfBasketCap
    // customer 1 is hyperactive (200 items > cap, the regime no fixture
    // reaches); customers 2 and 3 share items 1..100 exactly, providing
    // the >= 2 co-support without which no capped pair could emit
    val hyper = (1L to 200L).map(p => (1L, p))
    val normals = for (c <- 2L to 3L; p <- 1L to 100L) yield (c, p)
    val cp = (hyper ++ normals).toDF("c", "p")
    val pairs = ops.Warehouse.itemPairCounts(cp, cap)
      .orderBy("item_a", "item_b").collect()
    // independently re-derive customer 1's truncated basket: the cap
    // h48-lowest items (p tiebreak) — the deterministic order the oracle
    // SQL mirrors — WITHOUT the row_number window under test
    val trunc = cp.where($"c" === 1L)
      .withColumn("h", Tables.h48(concat_ws(":", $"c", $"p")))
      .orderBy($"h", $"p").limit(cap)
      .select($"p").as[Long].collect().toSet
    assert(trunc.size === cap, "truncation must keep exactly cap items")
    val mSmall = trunc.count(_ <= 100L)
    assert(mSmall > 1 && mSmall < 100,
      s"h48 order degenerate on the synthetic basket (kept $mSmall of 100)")
    // only items 1..100 can reach co-support 2; pair set is exactly C(100,2)
    assert(pairs.length === 100 * 99 / 2)
    var nCapped = 0L
    pairs.foreach { r =>
      val (a, b) = (r.getAs[Long]("item_a"), r.getAs[Long]("item_b"))
      assert(a >= 1L && b <= 100L && a < b)
      val c1Has = trunc.contains(a) && trunc.contains(b)
      // n_co: c2 + c3 always; customer 1 iff BOTH items survived its cap
      assert(r.getAs[Long]("n_co") === (if (c1Has) 3L else 2L),
        s"pair ($a,$b): capped customer's contribution miscounted")
      assert(r.getAs[Long]("n_capped_custs") === (if (c1Has) 1L else 0L),
        s"pair ($a,$b): honesty column wrong")
      nCapped += r.getAs[Long]("n_capped_custs")
    }
    assert(nCapped === mSmall.toLong * (mSmall - 1) / 2,
      "capped-customer pair volume != C(|trunc ∩ co-supported|, 2)")
    assert(nCapped > 0, "capped branch never contributed a pair")
    assert(nCapped <= cap.toLong * (cap - 1) / 2,
      "pair volume from a capped customer exceeds C(cap, 2)")
    // same incidence below the cap: exact branch, zero capped flags,
    // and customer 1 now co-supports EVERY emitted pair
    val exact = ops.Warehouse.itemPairCounts(cp, 256).collect()
    assert(exact.length === 100 * 99 / 2)
    exact.foreach { r =>
      assert(r.getAs[Long]("n_co") === 3L)
      assert(r.getAs[Long]("n_capped_custs") === 0L)
    }
  }

  test("tokenizer induction at 10x: bounded collects hold, BPE merges 10x-INVARIANT, bakeoff scales exactly") {
    // the 10x corpus repeats every document verbatim under fresh ids, so
    // every word/pair/piece count scales by exactly 10: BPE's greedy
    // argmax (count desc, pair asc) picks the IDENTICAL merge sequence,
    // and the driver-side vocab collects stay under their caps at any
    // multiplier (boundedCollect THROWS otherwise — completion is the
    // bound assertion)
    val bpe10 = SparkEntry.queries("llm_bpe_merges")(spark, scaledDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    val bpe1 = SparkEntry.queries("llm_bpe_merges")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(bpe10.map(t => (t._1, t._2, t._3)).toSeq ===
      bpe1.map(t => (t._1, t._2, t._3)).toSeq,
      "merge sequence changed under uniform 10x scaling")
    assert(bpe10.map(_._4).toSeq === bpe1.map(_._4 * 10).toSeq,
      "pair counts must scale exactly 10x")
    assert(bpe10.map(_._5).toSeq === bpe1.map(_._5 * 10).toSeq,
      "token counts must scale exactly 10x")
    // unigram-LM: the EM runs on the 10x vocab-grain frame; the piece
    // table stays VocabCap-bounded and usage counts scale exactly 10x
    // (identical segmentations — integer-quantized costs shift by ~log2
    // 10 uniformly, preserving every Viterbi comparison between paths
    // of EQUAL piece count, and count-10x ties keep the same argmax)
    val uni10 = SparkEntry.queries("llm_unigram_tokenizer")(spark, scaledDir)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val uni1 = SparkEntry.queries("llm_unigram_tokenizer")(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(uni10.size <= ops.Llm14.VocabCap)
    assert(uni10.keySet === uni1.keySet,
      "learned unigram piece set changed under uniform 10x scaling")
    // bakeoff: per-language word/token totals scale exactly 10x and the
    // fertility verdicts (scale-free ratios) are unchanged
    val bk10 = SparkEntry.queries("llm_tokenizer_bakeoff")(spark, scaledDir)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(6)))).toMap
    val bk1 = SparkEntry.queries("llm_tokenizer_bakeoff")(spark, sf001)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(6)))).toMap
    assert(bk10.keySet === bk1.keySet)
    bk1.foreach { case (lang, (w, bt, ut, win)) =>
      val (w10, bt10, ut10, win10) = bk10(lang)
      assert((w10, bt10, ut10) === ((w * 10, bt * 10, ut * 10)),
        s"$lang token totals not exactly 10x")
      assert(win10 === win, s"$lang fertility winner flipped at 10x")
    }
  }

  test("codec family at 10x: row-local decode stays shuffle-free and wall-linear") {
    // mm_audio_mel decodes one WAV per document through the real codec;
    // the only exchange the plan may contain is the final presentation
    // sort — measured shuffle for 5000 one-row results must stay tiny,
    // and wall must scale ~linearly in the doc count (quadratic or
    // collect-driven shapes would blast the bound)
    val (stats, errs) = Bench.timeQueriesDetailed(spark, scaledDir,
      Map("mm_audio_mel" -> SparkEntry.queries("mm_audio_mel")), reps = 1)
    assert(errs === 0)
    val st = stats("mm_audio_mel")
    assert(st.shuffleReadMb < 5.0,
      s"codec key moved ${st.shuffleReadMb} MB of shuffle at 10x — decode no longer row-local?")
    assert(st.sec < 60.0, s"mm_audio_mel took ${st.sec} s at 10x")
    val n = SparkEntry.queries("mm_audio_mel")(spark, scaledDir).count()
    assert(n === 5000L)
  }
}
