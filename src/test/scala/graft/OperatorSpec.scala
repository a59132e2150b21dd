package graft

import org.apache.spark.sql.functions._

/** Per-operator checks over the driver fixtures at sf0.001: every declared
  * query runs, returns rows, is rerun-deterministic (byte-identical plans +
  * values), plus golden/invariant assertions per SURVEY.md §5. The deep
  * value-correctness gate is the DuckDB oracle (driver-side / tools/check.py);
  * these suites guard semantics the oracle can't see. */
class OperatorSpec extends SparkTestBase {

  test("every declared query returns rows at sf0.001 and is rerun-deterministic") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val r1 = fn(spark, sf0001).collect()
      val r2 = fn(spark, sf0001).collect()
      assert(r1.nonEmpty, s"$name returned 0 rows")
      assert(r1.toSeq === r2.toSeq, s"$name is not rerun-deterministic")
    }
  }

  test("every query key has an oracle (round 9: zero no_oracle rows)") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // every registry entry is an Op(kernel, oracle), so a kernel without
    // an oracle cannot be written; this pins that the two views agree
    assert(noOracle === Set.empty[String])
  }

  test("module merge refuses a key two modules define, naming it") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.merged(Seq(Map("k_a" -> 1, "k_b" -> 2), Map("k_b" -> 3)))
    }
    assert(e.getMessage.contains("k_b"), e.getMessage)
    assert(SparkEntry.merged(Seq(Map("k_a" -> 1), Map("k_b" -> 2))) ===
      Map("k_a" -> 1, "k_b" -> 2))
  }

  test("smoke: entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("tumbling windows partition the stream: window counts sum to total") {
    val total = Tables.events(spark, sf0001).count()
    val winSum = ops.StreamOps.tumblingCounts(spark, sf0001)
      .agg(sum("n")).head().getLong(0)
    assert(winSum === total)
  }

  test("sliding windows multiply the stream by size/slide (4 overlapping windows)") {
    val total = Tables.events(spark, sf0001).count()
    val winSum = ops.StreamOps.slidingAvg(spark, sf0001)
      .agg(sum("n")).head().getLong(0)
    assert(winSum === 4 * total)
  }

  test("session stats: session counts bounded by event counts") {
    val df = ops.StreamOps.sessionStats(spark, sf0001)
    assert(df.where(col("n_sessions") > col("n_events")).count() === 0)
    assert(df.where(col("n_sessions") < 1).count() === 0)
  }

  test("approx distinct verdict column is TRUE for every group (sketch within 3·rsd)") {
    val df = ops.Relational.aggApproxDistinctUsers(spark, sf0001)
    assert(df.where(!col("approx_within_3rsd")).count() === 0)
    assert(df.count() > 0)
  }

  test("dedup idempotence: dedup(dedup(x)) == dedup(x)") {
    val once = ops.StreamOps.dedupFirstEvent(spark, sf0001)
    assert(once.count() === once.dropDuplicates("user_id", "event_type").count())
  }

  test("join containment: semi-join keys ⊆ inner-join keys, anti = complement") {
    val c = Tables.customer(spark, sf0001)
    val o = Tables.orders(spark, sf0001)
    val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
    val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
    assert(semi.count() + anti.count() === c.count())
    val inner = c.join(o, c("c_custkey") === o("o_custkey")).select("c_custkey").distinct()
    assert(semi.select("c_custkey").except(inner).count() === 0)
  }

  test("topk per user: exactly ≤3 rows per user, values non-increasing") {
    val tk = ops.Relational.topkEventsPerUser(spark, sf0001)
    assert(tk.groupBy("user_id").count().where(col("count") > 3).count() === 0)
    val bad = tk.as("a").join(tk.as("b"),
      col("a.user_id") === col("b.user_id") && col("a.rn") < col("b.rn") &&
        col("a.value") < col("b.value"))
    assert(bad.count() === 0)
  }

  test("UDAF weighted avg lies within [min,max] of the values (mean property)") {
    val w = ops.Relational.aggUdafWeightedAvg(spark, sf0001)
    val mm = Tables.events(spark, sf0001).groupBy("user_id")
      .agg(min("value").as("lo"), max("value").as("hi"))
    val bad = w.join(mm, "user_id")
      .where(col("wavg_value") < col("lo") - 1e-6 || col("wavg_value") > col("hi") + 1e-6)
    assert(bad.count() === 0)
  }

  test("minhash LSH candidates contain all exact duplicate pairs (recall=1 on exact dups)") {
    // identical texts have identical signatures in every band
    val d = Tables.documents(spark, "/root/testdata/sf0.1")
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
    val dupPairs = d.as("a").join(d.as("b"),
        col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
    val cand = ops.Llm.dedupNear(spark, "/root/testdata/sf0.1").select("doc1", "doc2")
    assert(dupPairs.except(cand).count() === 0)
    assert(dupPairs.count() > 0) // sf0.1 fixture does contain exact dups
  }

  test("cosine similarity is symmetric and self-similarity is 1") {
    val e = Tables.embeddings(spark, sf0001).limit(3).collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val v0 = e(0).getSeq[Float](1)
    val v1 = e(1).getSeq[Float](1)
    assert(math.abs(cos(v0, v0) - 1.0) < 1e-9)
    assert(math.abs(cos(v0, v1) - cos(v1, v0)) < 1e-12)
  }

  test("scalar function families: spot-check golden values") {
    val s = spark
    import s.implicits._
    // string family
    val r = Seq(("  MiXeD Case ", 42)).toDF("t", "x").select(
      lower(trim($"t")).as("lo"), upper(trim($"t")).as("up"),
      length(trim($"t")).as("len"), substring(trim($"t"), 1, 5).as("sub"),
      concat_ws("-", $"x", lit("z")).as("cw"),
      regexp_extract($"t", "([A-Z])", 1).as("re"),
      regexp_replace($"t", "\\s+", "_").as("rr")).head()
    assert(r.getString(0) === "mixed case")
    assert(r.getString(1) === "MIXED CASE")
    assert(r.getInt(2) === 10)
    assert(r.getString(3) === "MiXeD")
    assert(r.getString(4) === "42-z")
    assert(r.getString(5) === "M")
    assert(r.getString(6) === "_MiXeD_Case_")
    // date family
    val d = Seq(ts("2024-03-15 13:45:30")).toDF("t").select(
      year($"t"), month($"t"), dayofweek($"t"), hour($"t"),
      date_trunc("hour", $"t").cast("string"), to_date($"t").cast("string")).head()
    assert((d.getInt(0), d.getInt(1), d.getInt(2), d.getInt(3)) === ((2024, 3, 6, 13)))
    assert(d.getString(4) === "2024-03-15 13:00:00")
    assert(d.getString(5) === "2024-03-15")
    // math family
    val m = Seq((-3.7, 2.0)).toDF("a", "b").select(
      abs($"a"), round($"a"), floor($"a"), ceil($"a"), pow($"b", 10), pmod(lit(-7), lit(3))).head()
    assert(m.getDouble(0) === 3.7)
    assert(m.getDouble(1) === -4.0)
    assert(m.getLong(2) === -4L)
    assert(m.getLong(3) === -3L)
    assert(m.getDouble(4) === 1024.0)
    assert(m.getInt(5) === 2) // pmod is positive, unlike %
    // map/struct family (H6 — derived values only, no map columns in fixtures)
    val ms = Seq((1, "a")).toDF("k", "v").select(
      map_from_entries(array(struct($"k", $"v"))).as("m"),
      named_struct(lit("kk"), $"k", lit("vv"), $"v").as("st"))
    val msr = ms.select(map_keys($"m"), map_values($"m"), $"st.kk", $"st.vv").head()
    assert(msr.getSeq[Int](0) === Seq(1))
    assert(msr.getSeq[String](1) === Seq("a"))
    assert(msr.getInt(2) === 1)
    assert(msr.getString(3) === "a")
  }

  test("C8: typed cogroup over two keyed streams (CoProcessFunction analogue)") {
    val s = spark
    import s.implicits._
    val ev = Tables.events(spark, sf0001)
      .select($"user_id", $"event_type", $"value")
      .as[(Long, String, Double)]
    val clicks = ev.filter(_._2 == "click").groupByKey(_._1)
    val purchases = ev.filter(_._2 == "purchase").groupByKey(_._1)
    val cogrouped = clicks.cogroup(purchases) { (uid, cs, ps) =>
      Iterator.single((uid, cs.size, ps.size))
    }.collect().map { case (u, c, p) => u -> ((c, p)) }.toMap
    val expected = Tables.events(spark, sf0001)
      .groupBy("user_id").agg(
        sum(when($"event_type" === "click", 1).otherwise(0)).as("c"),
        sum(when($"event_type" === "purchase", 1).otherwise(0)).as("p"))
      .as[(Long, Long, Long)].collect()
      .map { case (u, c, p) => u -> ((c.toInt, p.toInt)) }.toMap
    assert(cogrouped === expected.filter { case (_, (c, p)) => c > 0 || p > 0 })
  }

  test("salted skew join is row-equivalent to the plain join") {
    val o = Tables.orders(spark, sf0001)
    val c = Tables.customer(spark, sf0001)
    val plain = o.join(c, o("o_custkey") === c("c_custkey"))
      .select("o_orderkey", "c_custkey")
    val salted = ops.Skew.saltedJoin(o, c, "o_custkey", "c_custkey", 7)
      .select("o_orderkey", "c_custkey")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("K1 scalar UDF: cosineSim agrees with the native DotProduct kernel") {
    val s = spark
    import s.implicits._
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("emb"))
    val a = e.as("a"); val b = e.as("b")
    val both = a.join(b, col("a.vec_id") + 1 === col("b.vec_id"))
      .select(
        ops.Udfs.cosineSim(col("a.emb"), col("b.emb")).as("viaUdf"),
        (functions.ArrayMath.dotProduct(col("a.emb"), col("b.emb")) /
          (functions.ArrayMath.l2Norm(col("a.emb")) * functions.ArrayMath.l2Norm(col("b.emb"))))
          .as("viaExpr"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (u, x) => assert(math.abs(u - x) < 1e-12) }
  }

  test("mm decode stub: JVM h48 twin is bit-identical to the SQL h48") {
    val s = spark
    import s.implicits._
    val samples = Seq("hello", "the fast key", "", "ünïcödé 漢字")
    val sqlSide = samples.toDF("s").select(Tables.h48(col("s"))).as[Long].collect()
    val jvmSide = samples.map(Tables.h48jvm)
    assert(sqlSide.toSeq === jvmSide)
  }

  test("async-enrichment analogue: batched per-partition lookups, result = broadcast-join truth") {
    val s = spark
    import s.implicits._
    val events = Tables.events(spark, sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[graft.streaming.Streams.Event]
      .repartition(4)
    val calls = spark.sparkContext.longAccumulator("service_calls")
    val svc: Seq[Long] => Map[Long, String] = { keys =>
      calls.add(1)
      keys.map(k => k -> s"seg${k % 3}").toMap
    }
    val enriched = ops.Async.enrichBatched(events, svc, batchSize = 100).collect()
    val expected = events.collect()
      .map(e => (e.event_id, e.user_id, s"seg${e.user_id % 3}")).toSet
    assert(enriched.toSet === expected)
    // 1000 rows in 4 partitions, 100-row batches → ~10-13 round trips,
    // never per-row (1000 calls) — the whole point of the batching shape
    assert(calls.value <= 16, s"service called ${calls.value} times")
  }
}
