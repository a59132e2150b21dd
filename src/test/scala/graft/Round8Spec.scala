package graft

import org.apache.spark.sql.functions._

/** Round-8 pins for the four ADVICE items: the upsert sink's crash-safe
  * publish protocol (never a moment with zero table copies on disk, and
  * recovery from every crash window), the single-evaluation iterate
  * feedback step, the invocation-scoped jaccard prefix cache, and the
  * bench totals carrying spill_mem_mb. */
class Round8Spec extends SparkTestBase {

  private def mkTable(path: java.io.File, tag: String): Unit = {
    path.mkdirs()
    val f = new java.io.FileWriter(new java.io.File(path, "data.txt"))
    f.write(tag); f.close()
  }
  private def readTag(path: java.io.File): String = {
    val src = scala.io.Source.fromFile(new java.io.File(path, "data.txt"))
    try src.mkString finally src.close()
  }

  test("upsert publish: rename-aside, swap, delete — no window with zero copies") {
    val root = java.nio.file.Files.createTempDirectory("graft-r8-pub").toFile
    val cur = new java.io.File(root, "current")
    val staging = new java.io.File(root, "current.staging-7")
    mkTable(cur, "v1"); mkTable(staging, "v2")
    streaming.Streams.publishUpsertTable(cur, staging, 7L)
    assert(readTag(cur) === "v2")
    assert(root.listFiles().map(_.getName).toSet === Set("current"),
      root.listFiles().map(_.getName).mkString(","))
  }

  test("upsert recovery: crash between rename-aside and swap restores from .old") {
    // the exact window the round-7 ADVICE flagged: cur was renamed aside,
    // staging never made it in (crash / renameTo failure) → the ONLY copy
    // is the .old dir; the old code had deleted cur outright here
    val root = java.nio.file.Files.createTempDirectory("graft-r8-rec").toFile
    mkTable(new java.io.File(root, "current.old-3"), "v1")
    mkTable(new java.io.File(root, "current.staging-3"), "v2-incomplete")
    streaming.Streams.recoverUpsertTable(new java.io.File(root, "current").getPath)
    val cur = new java.io.File(root, "current")
    assert(readTag(cur) === "v1") // the last fully-published version
    assert(root.listFiles().map(_.getName).toSet === Set("current"))
  }

  test("upsert recovery logs one WARN line naming the restored dir") {
    val root = java.nio.file.Files.createTempDirectory("graft-r8-warn").toFile
    mkTable(new java.io.File(root, "current.old-3"), "v1")
    val cur = new java.io.File(root, "current").getPath
    val warns = warnings("graft.streaming.Streams")(streaming.Streams.recoverUpsertTable(cur))
    assert(warns.size === 1 && warns.head.contains(s"$cur.old-3"), warns)
    // nothing to restore: silent
    assert(warnings("graft.streaming.Streams")(streaming.Streams.recoverUpsertTable(cur)).isEmpty)
  }

  test("upsert recovery: crash after swap but before old-delete keeps the NEW version") {
    val root = java.nio.file.Files.createTempDirectory("graft-r8-rec2").toFile
    mkTable(new java.io.File(root, "current"), "v2")
    mkTable(new java.io.File(root, "current.old-3"), "v1")
    streaming.Streams.recoverUpsertTable(new java.io.File(root, "current").getPath)
    assert(readTag(new java.io.File(root, "current")) === "v2")
    assert(root.listFiles().map(_.getName).toSet === Set("current"))
  }

  test("iterate feedback evaluates step exactly once per round (accumulator-counted)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-r8-iter").toString
    val s = spark
    import s.implicits._
    Seq(4L, 2L).toDF("value").write.mode("append").parquet(dir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.LongType)))
    val evals = spark.sparkContext.longAccumulator("step-evals")
    val q = streaming.Streams.iterateFeedback(spark, dir, schema,
      step = df => {
        val ds = df.as[Long](org.apache.spark.sql.Encoders.scalaLong)
        ds.map { v => evals.add(1); v / 2 }(org.apache.spark.sql.Encoders.scalaLong)
          .toDF("value").where($"value" > 0L)
      })(observe = _ => ())
      .start()
    try {
      q.processAllAvailable()
      // rounds process {4,2} -> {2,1} -> {1} -> {} : 2+2+1 = 5 input rows;
      // the un-persisted form evaluated each round twice (isEmpty + write)
      assert(evals.value === 5L, s"step evaluated ${evals.value} times, want 5")
    } finally q.stop()
  }

  test("withDedupJaccardPrefix matches the global-cache path and leaks no persisted RDDs") {
    // the global path legitimately leaves ITS two frames persisted until the
    // next invocation; capture the baseline after it has settled
    val expected = ops.Llm.dedupJaccardPrefix(spark, sf0001).collect().toSeq
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val got = ops.Llm.withDedupJaccardPrefix(spark, sf0001)(_.collect().toSeq)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(got === expected)
    // invocation-scoped: everything the with-variant persisted is gone
    assert((after -- before).isEmpty, s"with-variant leaked: ${after -- before}")
  }

  test("leakage-safe split: no cluster straddles a split; near-dup pairs co-located") {
    val s = spark
    import s.implicits._
    val split = ops.Llm3.leakageSafeSplit(spark, sf0001)
    // every cluster maps to exactly one split
    val perCluster = split.groupBy("cluster")
      .agg(countDistinct(col("split")).as("n_splits"))
      .where(col("n_splits") > 1)
    assert(perCluster.count() === 0, "a near-dup cluster straddles a split boundary")
    // and therefore every BANDED word-Jaccard>=0.9 pair is co-located
    // (round 12: clusters build on MinHash-banded candidates — an exact
    // Jaccard pair missed by all 4 trigram bands, e.g. same word SET in
    // a different word ORDER, is outside the operator's contract and may
    // legitimately split; dedupJaccard's n-gram pairs likewise)
    val bySplit = split.select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val cand = ops.Llm.dedupNear(spark, sf0001)
      .select($"doc1", $"doc2").as[(Long, Long)].collect().toSet
    val pairs = ops.Llm.withDedupJaccardPrefix(spark, sf0001)(
      _.select($"doc1", $"doc2").as[(Long, Long)].collect().toSeq)
      .filter { case (a, b) =>
        cand((a, b)) && bySplit.contains(a) && bySplit.contains(b) }
    assert(pairs.nonEmpty, "fixture should have banded near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(bySplit(a) === bySplit(b), s"pair ($a,$b) split across ${bySplit(a)}/${bySplit(b)}")
    }
    // all three splits are reachable by the hash (sanity on the 50-doc bound)
    assert(split.select("split").distinct().count() >= 2)
  }

  test("minhashSigJvm is bit-equal to the SQL signature aggregate on fixture docs") {
    val s = spark
    import s.implicits._
    val sql = ops.Llm.minhashSigs(spark, sf0001)
      .where(col("doc_id") < 200)
      .collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    val texts = Tables.documents(spark, sf0001).where(col("doc_id") < 200)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(texts.nonEmpty)
    texts.foreach { case (id, text) =>
      val jvm = ops.Llm.minhashSigJvm(text).toSeq
      sql.get(id) match {
        case Some(expect) => assert(jvm === expect, s"doc $id")
        case None => assert(jvm.isEmpty, s"doc $id: SQL dropped it (<3 words), JVM did not")
      }
    }
  }

  test("q15 view-max equality join surfaces ALL tied top suppliers") {
    // the reference's Q15 is famous for this: revenue = (SELECT MAX...)
    // is a set filter, not a top-1 — construct an exact two-way tie and
    // require both rows (a window-rank rewrite with rn=1 would also pass;
    // a limit(1) implementation would not)
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q15-tie").toString
    // two suppliers with identical in-window revenue, one below
    Seq(
      (1L, 10L, ts("1996-02-01 00:00:00"), 100.0, 0.0),
      (2L, 20L, ts("1996-02-01 00:00:00"), 50.0, 0.0),
      (3L, 20L, ts("1996-02-01 00:00:00"), 50.0, 0.0),
      (4L, 30L, ts("1996-02-01 00:00:00"), 10.0, 0.0),
      (5L, 10L, ts("1999-01-01 00:00:00"), 999.0, 0.0)) // outside the window
      .toDF("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
      .withColumn("l_quantity", lit(1.0))
      .write.parquet(s"$dir/lineitem.parquet")
    Seq((10L, "SUPP_A"), (20L, "SUPP_B"), (30L, "SUPP_C"))
      .toDF("s_suppkey", "s_name").write.parquet(s"$dir/supplier.parquet")
    val got = ops.Warehouse3.tpchQ15(spark, dir)
      .select($"s_suppkey", $"total_revenue").as[(Long, Double)].collect().toSet
    assert(got === Set((10L, 100.0), (20L, 100.0)), got)
  }

  test("bench full-file totals include spill_mem_mb") {
    val stats = Map("q" -> Bench.QueryStat(1.0, 2.0, 3.0, 4.0, 5.0, 2))
    val json = Bench.renderFull(stats, 0, "/tmp/sf")
    val totals = json.substring(0, json.indexOf("\"queries\""))
    assert(totals.contains("\"spill_mem_mb\":"), totals)
  }
}
