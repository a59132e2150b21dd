package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pins the round-6 bench contract: error counting (a throwing query can
  * never masquerade as a fast one), min-of-reps noise suppression, and the
  * top-K + rest-rollup JSON line shape. */
class BenchSpec extends SparkTestBase {

  private def q(df: => DataFrame): (SparkSession, String) => DataFrame =
    (_, _) => df

  test("timeQueriesDetailed counts a throwing query in errors and still times the rest") {
    val s = spark
    import s.implicits._
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "ok"   -> q(Seq(1, 2, 3).toDF("x")),
      "boom" -> q(throw new RuntimeException("broken query"))
    )
    val (stats, errors) = Bench.timeQueriesDetailed(spark, sf0001, queries, reps = 2)
    assert(errors === 1)
    assert(stats.keySet === Set("ok", "boom"))
    assert(stats("ok").sec >= 0.0)
  }

  test("a failing rep never becomes the query's timing (no phantom speedup)") {
    val s = spark
    import s.implicits._
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val flaky: (SparkSession, String) => DataFrame = (_, _) => {
      if (calls.getAndIncrement() == 0) { Thread.sleep(60); Seq(1).toDF("x") }
      else throw new RuntimeException("flaky second rep")
    }
    val (stats, errors) = Bench.timeQueriesDetailed(spark, sf0001,
      Map("flaky" -> flaky), reps = 2)
    assert(errors === 1)
    // the recorded time must be rep 0's slow success, not the fast failure
    assert(stats("flaky").sec >= 0.06, s"got ${stats("flaky").sec}")
  }

  test("renderLine rollup stays consistent when a long name hits the budget cutoff") {
    // names of very different lengths around the cutoff: every timing must
    // appear EXACTLY once across queries + rest (no drop, no double count)
    val results = (1 to 120).map {
      i => (if (i % 3 == 0) s"very_long_query_name_padding_${"x" * 40}_$i" else s"q$i") -> i / 10.0
    }.toMap
    val line = Bench.renderLine(results, errors = 0, sfDir = "/tmp/sf", topK = 120, budget = 1200)
    val parsed = line.split("\"queries\":")(1)
    val kept = "\"([^\"]+)\":([0-9.]+)".r.findAllMatchIn(parsed.split("},\"rest\"")(0))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val restSum = "\"rest\":\\{\"n\":(\\d+),\"sum\":([0-9.]+)".r
      .findFirstMatchIn(line).map(m => (m.group(1).toInt, m.group(2).toDouble)).get
    assert(kept.size + restSum._1 === 120, s"kept=${kept.size} rest_n=${restSum._1}")
    val total = BigDecimal(results.values.sum).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    val acct = BigDecimal(kept.values.sum + restSum._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    assert((total - acct).abs < 0.1, s"total=$total accounted=$acct")
  }

  test("timeQueriesDetailed reports zero errors on healthy queries") {
    val s = spark
    import s.implicits._
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "a" -> q(Seq(1).toDF("x")),
      "b" -> q(Seq(2).toDF("x"))
    )
    val (_, errors) = Bench.timeQueriesDetailed(spark, sf0001, queries, reps = 2)
    assert(errors === 0)
  }

  test("renderLine keeps slowest topK, rolls up the rest, and stays under budget") {
    val results = (1 to 130).map(i => s"q$i" -> i / 100.0).toMap
    val line = Bench.renderLine(results, errors = 0, sfDir = "/tmp/sf", topK = 40)
    assert(line.length <= Bench.LINE_BUDGET)
    assert(line.contains("\"errors\":0"))
    assert(line.contains("\"n_queries\":130"))
    // slowest query present, fastest rolled up
    assert(line.contains("\"q130\":1.3"))
    assert(!line.contains("\"q1\":"))
    assert(line.contains("\"rest\":{\"n\":90,\"sum\":"))
    // sanity: value field = sum of all timings
    val total = results.values.sum
    assert(line.contains(s""""value":${BigDecimal(total).setScale(3, BigDecimal.RoundingMode.HALF_UP)}"""))
  }

  test("renderLine surfaces a nonzero error count") {
    val line = Bench.renderLine(Map("a" -> 0.5), errors = 3, sfDir = "/tmp/sf")
    assert(line.contains("\"errors\":3"))
  }

  test("load_hint annotates both artifacts and parses as JSON") {
    val hint = Bench.loadHintJson(12.34, 0.5)
    val line = Bench.renderLine(Map("a" -> 0.5), errors = 0, sfDir = "/tmp/sf",
      loadHint = hint)
    assert(line.contains("\"load_hint\":{\"start\":12.340,\"end\":0.500}"), line)
    val full = Bench.renderFull(
      Map("a" -> Bench.QueryStat(0.5, 1.0, 1.0, 0.0, 0.0, 3)),
      errors = 0, sfDir = "/tmp/sf", loadHint = hint)
    assert(full.contains("\"load_hint\":"), full)
    // both must stay machine-parseable with the hint present
    assert(line.count(_ == '{') === line.count(_ == '}'))
    assert(full.count(_ == '{') === full.count(_ == '}'))
    // on this box /proc/loadavg is readable → a real sample, not -1
    assert(Bench.loadAvg() >= 0.0)
  }

  test("renderFull contains every query key with time and shuffle volume fields") {
    val stats = (1 to 130).map { i =>
      s"q$i" -> Bench.QueryStat(i / 100.0, i * 1.0, i * 0.9, 0.0, 0.0, 2)
    }.toMap
    val full = Bench.renderFull(stats, errors = 0, sfDir = "/tmp/sf")
    (1 to 130).foreach(i => assert(full.contains("\"q" + i + "\":")))
    assert(full.contains("\"sec\":"))
    assert(full.contains("\"shuffle_read_mb\":"))
    assert(full.contains("\"shuffle_write_mb\":"))
    assert(full.contains("\"spill_disk_mb\":"))
    // file-level totals so cross-round shuffle regressions need no jq pass
    assert(full.contains("\"shuffle_read_mb\":" + Bench.fmt(stats.values.map(_.shuffleReadMb).sum)))
  }

  test("renderFull carries per-key jit_ms, a jit_total_ms total, and parseable code-cache pools") {
    val stats = Map("q" -> Bench.QueryStat(1.0, 2.0, 3.0, 4.0, 5.0, 2, jitMs = 123L))
    val full = Bench.renderFull(stats, 0, "/tmp/sf")
    assert(full.contains("\"jit_ms\": 123"), full)
    assert(full.contains("\"jit_total_ms\":123"), full)
    assert(full.contains("\"code_cache\":{"), full)
    assert(full.count(_ == '{') === full.count(_ == '}'))
    // this JVM is JDK 17 segmented — the three CodeHeap pools must appear
    assert(Bench.codeCacheJson().contains("codeheap"), Bench.codeCacheJson())
  }

  test("adaptive rep: a >2x disagreement between the base reps triggers exactly one extra rep") {
    val s = spark
    import s.implicits._
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val spiky: (SparkSession, String) => DataFrame = (_, _) => {
      // rep 0 simulates a contention spike; later reps are fast
      if (calls.getAndIncrement() == 0) Thread.sleep(300) else Thread.sleep(20)
      Seq(1).toDF("x")
    }
    val (stats, errors) =
      Bench.timeQueriesDetailed(spark, sf0001, Map("spiky" -> spiky), reps = 2)
    assert(errors === 0)
    assert(calls.get() === 3, "2 base reps + 1 adaptive retry expected")
    assert(stats("spiky").reps === 3)
    assert(stats("spiky").sec < 0.3, "min must come from a fast rep, not the spike")
  }

  test("adaptive rep: agreeing base reps do NOT trigger a retry") {
    val s = spark
    import s.implicits._
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val steady: (SparkSession, String) => DataFrame = (_, _) => {
      calls.getAndIncrement(); Thread.sleep(150); Seq(1).toDF("x")
    }
    val (stats, _) =
      Bench.timeQueriesDetailed(spark, sf0001, Map("steady" -> steady), reps = 2)
    assert(calls.get() === 2, "no retry when reps agree within the ratio")
    assert(stats("steady").reps === 2)
  }

  test("shuffle tally: a grouped aggregate reports more shuffle write than a bare count") {
    val scan: (SparkSession, String) => DataFrame =
      (s, dir) => Tables.events(s, dir).select("event_id")
    val grouped: (SparkSession, String) => DataFrame =
      (s, dir) => Tables.events(s, dir)
        .groupBy("user_id").agg(org.apache.spark.sql.functions.collect_list("event_type"))
    val (stats, errors) = Bench.timeQueriesDetailed(spark, sf0001,
      Map("scan" -> scan, "grouped" -> grouped), reps = 1)
    assert(errors === 0)
    assert(stats("grouped").shuffleWriteMb > 0.0, "grouped agg must shuffle")
    assert(stats("grouped").shuffleWriteMb > stats("scan").shuffleWriteMb,
      s"grouped=${stats("grouped").shuffleWriteMb} scan=${stats("scan").shuffleWriteMb}")
    assert(stats("grouped").shuffleReadMb > 0.0, "the read side of the same exchange")
  }
}
