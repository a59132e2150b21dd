package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree guards. No bare driver-side `collect()` on any query path.
  * The only sanctioned driver collect is [[graft.Tables.boundedCollect]],
  * which caps the transfer and fails loudly on overflow — a stray
  * `.collect()` in `src/main` is a latent driver OOM at warehouse scale
  * (this is exactly how llm_dedup_embed's unbounded collect slipped
  * through round 4). And one copy of each shared kernel helper: the
  * 6-dp rounding, the DuckDB dot product and its sum of squares. */
class CollectGuardSpec extends AnyFunSuite {

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] = {
    val (dirs, files) = Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .partition(_.isDirectory)
    files.filter(_.getName.endsWith(".scala")) ++ dirs.flatMap(scalaFiles)
  }

  test("src/main has no bare collect() outside Tables.boundedCollect") {
    val hits = scalaFiles(new java.io.File("src/main/scala")).flatMap { f =>
      scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8")) { src =>
        src.getLines().zipWithIndex.collect {
          case (line, i)
              if line.contains(".collect()") || line.contains(".collectAsList()") =>
            s"${f.getPath}:${i + 1}: ${line.trim}"
        }.toList // materialize before the Source closes
      }
    }
    val allowed = hits.filter(h =>
      (h.contains("Tables.scala") && h.contains("ds.limit(maxRows + 1).collect()")) ||
        // PrefixScan pass 1 collects ONE totals row per partition — the
        // transfer is partition-count-grain (≤ the scan's `parts`
        // argument) by construction, never data-grain
        (h.contains("PrefixScan.scala") && h.contains(".collect().sortBy(_._1)")) ||
        // denseRankDense pass 1 collects ONE count per key-range bucket
        // (16·parts buckets) — bucket-count-grain, never data-grain
        (h.contains("PrefixScan.scala") && h.endsWith("}.collect()")) ||
        // Llm17's RDD doubling engine: rankRound pass 1 collects ONE
        // run count per rank-range partition, adjacentPairsRdd ONE
        // rank-minimal boundary row per block partition — both
        // partition-count-grain by construction (Llm17 scaladoc)
        (h.contains("Llm17.scala") && h.contains(".collect().sortBy(_._1)")))
    assert(hits == allowed,
      s"bare collect() found — route through Tables.boundedCollect:\n${(hits.toSet -- allowed).mkString("\n")}")
  }

  private def sources: Seq[(String, String)] =
    scalaFiles(new java.io.File("src/main/scala")).map { f =>
      f.getPath -> scala.util.Using.resource(
        scala.io.Source.fromFile(f, "UTF-8"))(_.mkString)
    }

  test("src/main has one 6-dp HALF_UP double rounding and one dotSql") {
    // a private copy of ArrayMath.round6 or Tables.dotSql drifts from the
    // one the oracle parity argument is about; call the shared one. The
    // dot product and the whole-list sum of squares (Tables.sumSqSql, which
    // normSql wraps) are matched by their DuckDB text shape, across string
    // concatenation and line breaks, so a renamed copy or a range-form
    // norm fails too.
    val round6 = """setScale\(\s*6\s*,\s*(?:BigDecimal|java\.math)\.RoundingMode\.HALF_UP\s*\)\s*\.(?:toDouble|doubleValue)""".r
    val dotSql = """list_transform\(range\(1,[^)]*\),\s*i\s*->[\s"+s]*CAST\([\w.$]+\[i\] AS DOUBLE\) \* CAST\([\w.$]+\[i\] AS DOUBLE\)""".r
    val sumSqSql = """list_transform\([\w.$]+,[\s"+s]*(\w+)\s*->[\s"+s]*CAST\(\1 AS DOUBLE\) \* CAST\(\1 AS DOUBLE\)""".r
    assert(sites(round6).map(new java.io.File(_).getName) == Seq("ArrayMath.scala"),
      s"6-dp HALF_UP roundings outside ArrayMath.round6: ${sites(round6)}")
    assert(sites(dotSql).map(new java.io.File(_).getName) == Seq("Tables.scala"),
      s"DuckDB dot products outside Tables.dotSql: ${sites(dotSql)}")
    assert(sites(sumSqSql).map(new java.io.File(_).getName) == Seq("Tables.scala"),
      s"DuckDB sums of squares outside Tables.sumSqSql: ${sites(sumSqSql)}")
  }

  test("src/main spells the DuckDB events.ts cast once, as Tables.evTs") {
    val evTs = sites("""CAST\(ts AS TIMESTAMP\)""".r)
    assert(evTs.map(new java.io.File(_).getName) == Seq("Tables.scala"),
      s"CAST(ts AS TIMESTAMP) outside Tables.evTs: $evTs")
  }

  private def sites(re: scala.util.matching.Regex): Seq[String] =
    sources.flatMap { case (path, text) => re.findAllMatchIn(text).map(_ => path) }
}
