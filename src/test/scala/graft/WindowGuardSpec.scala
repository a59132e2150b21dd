package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree guard: every PARTITION-LESS window definition in
  * `src/main` must be allowlisted here together with the reason its
  * frame is bounded. An unpartitioned `Window.orderBy` /
  * `Window.rowsBetween` / `Window.rangeBetween` / `Window.partitionBy()`
  * moves the WHOLE frame into one task — correct at any fixture SF and
  * a 100× scale-killer the moment the frame grows with the data (the
  * r11 "value-grain single-partition window" defect class; round 12's
  * `llm_cdc_chunks` slipped through because the r11 sweep only grepped
  * `Window.orderBy` — this spec closes BOTH shapes permanently, per
  * VERDICT r12 #2).
  *
  * To add a new unpartitioned window you must either (a) replace it:
  * running/cumulative statistics go through [[graft.ops.PrefixScan]],
  * whole-frame totals through a 1-row aggregate +
  * `crossJoin(broadcast(...))` (the tpch_q11 pattern, allowlisted in
  * PlanSpec); or (b) prove the frame is bounded BY CONSTRUCTION
  * (calendar / dimension / grid / top-k / quantization-saturated) and
  * record that proof as the allowlist justification below. */
class WindowGuardSpec extends AnyFunSuite {

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] = {
    val (dirs, files) = Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .partition(_.isDirectory)
    files.filter(_.getName.endsWith(".scala")) ++ dirs.flatMap(scalaFiles)
  }

  /** Blank out `/* */` blocks and `//` line tails, PRESERVING newlines
    * so offsets still map to source line numbers. Run before matching,
    * so a `partitionBy` in a trailing comment can't excuse a hit and a
    * chain split across lines can't hide (VERDICT r13 #2 + ADVICE). */
  private[graft] def stripComments(src: String): String = {
    val noBlock = raw"(?s)/\*.*?\*/".r.replaceAllIn(src,
      m => java.util.regex.Matcher.quoteReplacement(
        m.matched.map(c => if (c == '\n') '\n' else ' ')))
    noBlock.linesWithSeparators.map { l =>
      val i = l.indexOf("//")
      if (i >= 0) l.take(i) + l.drop(i).map(c => if (c == '\n') '\n' else ' ')
      else l
    }.mkString
  }

  /** The full builder chain starting at a `Window` token: consumes
    * `.method(balanced args)` links across any line breaks. */
  private[graft] def windowChainAt(text: String, start: Int): String = {
    val sb = new StringBuilder("Window")
    var i = start + "Window".length
    var done = false
    while (!done && i < text.length) {
      var j = i
      while (j < text.length && text(j).isWhitespace) j += 1
      if (j < text.length && text(j) == '.') {
        var k = j + 1
        val is = k
        while (k < text.length && (text(k).isLetterOrDigit || text(k) == '_')) k += 1
        sb.append('.').append(text.substring(is, k))
        var m = k
        while (m < text.length && text(m).isWhitespace) m += 1
        if (m < text.length && text(m) == '(') {
          val argStart = m
          var depth = 0
          while (m < text.length && (depth > 0 || m == argStart)) {
            if (text(m) == '(') depth += 1
            else if (text(m) == ')') depth -= 1
            m += 1
          }
          sb.append(text.substring(argStart, m).replaceAll("\\s+", " "))
          i = m
        } else i = k
      } else done = true
    }
    sb.toString
  }

  /** True iff the chain defines a window whose frame is the WHOLE
    * dataset: orderBy/rowsBetween/rangeBetween with no partitionBy,
    * partitionBy(), or partitionBy whose every key is a `lit(...)` —
    * byte-for-byte the same single-partition shape (VERDICT r13 #2). */
  private[graft] def isUnpartitionedWindowChain(chain: String): Boolean = {
    val relevant = Seq(".orderBy(", ".rowsBetween(", ".rangeBetween(",
      ".partitionBy(").exists(chain.contains)
    if (!relevant) return false
    raw"\.partitionBy\(".r.findFirstMatchIn(chain) match {
      case None => true
      case Some(m) =>
        // split the balanced arg list at depth-0 commas; a window is
        // partitioned only if SOME key is a real (non-literal) column
        val inner = {
          var depth = 1; var k = m.end
          val s = new StringBuilder
          while (k < chain.length && depth > 0) {
            val c = chain(k)
            if (c == '(') depth += 1 else if (c == ')') depth -= 1
            if (depth > 0) s.append(c)
            k += 1
          }
          s.toString
        }
        val args = {
          var depth = 0
          val parts = collection.mutable.ArrayBuffer(new StringBuilder)
          inner.foreach { c =>
            if (c == '(') depth += 1 else if (c == ')') depth -= 1
            if (c == ',' && depth == 0) parts += new StringBuilder
            else parts.last.append(c)
          }
          parts.map(_.toString.trim).filter(_.nonEmpty).toSeq
        }
        args.isEmpty || args.forall(_.startsWith("lit("))
    }
  }

  /** (file, enclosing query-level def) -> (hit count, boundedness
    * justification). Counts are exact: adding ANOTHER unpartitioned
    * window to an allowlisted def still fails the build. */
  private val allowed: Map[(String, String), (Int, String)] = Map(
    ("Llm7.scala", "hybridRrf") -> (2,
      "rank over two 20-row TakeOrdered frames (limit 20 runs upstream)"),
    ("Llm9.scala", "top10") -> (1,
      "10-row query-panel frame (bounded probe set, the llm_ivf_ann " +
        "shape) — textually inside matryoshkaRecall, after its local " +
        "top10 helper def"),
    ("Warehouse4.scala", "autocorrHourly") -> (1,
      "calendar: one row per hour (dense hourly grid; partitionBy(lit(1)) " +
        "form, caught since the r13 matcher widening)"),
    ("Audit.scala", "bucket") -> (1,
      "10-bin PSI histogram frame (psiDrift; nearest preceding def is " +
        "its local bucket helper)"),
    ("Ml.scala", "giniSplit") -> (2,
      "quantized feature histogram, <= 10 rows by the bin clamp"),
    ("Ml.scala", "gini") -> (1,
      "best-split rank over the same <= 10-row histogram (giniSplit; " +
        "nearest preceding def is its local gini helper)"),
    ("Llm8.scala", "zipfSlope") -> (1,
      "top-100 vocabulary-head frame (limit 100 runs upstream)"),
    ("Analytics.scala", "graphModularity") -> (1,
      "brand-grain frame, |p_brand| = 25 dimension-bounded"),
    ("Warehouse.scala", "tsPctChangeDaily") -> (1,
      "calendar: one row per day"),
    ("Audit.scala", "stlDaily") -> (1,
      "calendar: one row per day"),
    ("Ml.scala", "ndcg") -> (1,
      "20-row TakeOrdered frame (limit 20 runs upstream)"),
    ("Ml.scala", "brierDecomposition") -> (1,
      "10-bin probability grid"),
    ("Ml.scala", "learningCurve") -> (2,
      "B-bucket training-fraction grid (B = 5 by construction)"),
    ("Ml.scala", "kfoldCv") -> (1,
      "k = 5 fold panel"),
    ("Ml.scala", "daviesBouldin") -> (1,
      "label-grain cluster frame (|labels| dimension-bounded)"),
    ("Warehouse6.scala", "seasonalStrength") -> (1,
      "calendar: one row per hour"),
    ("Stats.scala", "benford") -> (1,
      "9-row leading-digit grid"),
    ("Stats.scala", "kaplanMeier") -> (2,
      "lifetime-hour grain, bounded by the observation horizon in hours"),
    ("Stats.scala", "chi2Independence") -> (1,
      "event_type × hour grid (|types|·24 rows)"),
    ("Stats.scala", "poissonBootstrap") -> (2,
      "32-row bootstrap-replica frame (BootB fixed)"),
    ("Stats.scala", "hillTail") -> (1,
      "201-row top-k frame (limit k+1 runs upstream)"),
    ("Stats2.scala", "scaledAnova") -> (1,
      "5-row order-priority panel (anovaF, brownForsythe)"),
    ("Stats2.scala", "hourlyTrendResiduals") -> (2,
      "calendar: one row per hour (durbinWatson, runsTest)"),
    ("Stats2.scala", "durbinWatson") -> (1,
      "calendar: one row per hour"),
    ("Stats2.scala", "friedman") -> (1,
      "event_type × block panel (|types| rows after the per-type agg)"),
    ("Stats2.scala", "runsTest") -> (1,
      "calendar: one row per hour"),
    ("Stats2.scala", "wilcoxonSignedRank") -> (1,
      "calendar: distinct daily |d| values, one row per day at most"),
    ("Warehouse5.scala", "ewmaDeviation") -> (1,
      "calendar: one row per hour"),
    ("Warehouse5.scala", "hourlyDecomposition") -> (1,
      "calendar: one row per hour (stlDecompose, seasonalStrength)"),
    ("Warehouse5.scala", "crossCorrTypes") -> (1,
      "calendar: one row per hour"),
    ("Warehouse5.scala", "openOrdersCurve") -> (2,
      "calendar: one row per day"),
    ("Warehouse5.scala", "holtDailyRecursive") -> (1,
      "calendar: one row per day"),
    ("Warehouse5.scala", "keySkewProfile") -> (2,
      "distinct-frequency frame: one row per distinct user-event COUNT, " +
        "sub-linear in the corpus (VERDICT r12 #3 accepted)"),
    ("Warehouse5.scala", "bollingerBands") -> (1,
      "calendar: one row per hour"),
    ("Warehouse5.scala", "changepointBinseg") -> (2,
      "calendar: one row per day"),
    ("Warehouse5.scala", "periodogram") -> (2,
      "calendar: one row per hour"),
    ("Warehouse5.scala", "hurstExponent") -> (2,
      "calendar: one row per hour"),
    ("Warehouse5.scala", "dowHourProfile") -> (1,
      "168-row dow × hour grid"),
    ("Stats4.scala", "pageHinkleyFrameMicro") -> (1,
      "calendar: one row per hour"),
    ("Stats4.scala", "matrixProfile") -> (1,
      "calendar: one row per hour"),
    ("Stats5.scala", "va") -> (2,
      "5-row event-type panel (bhFdr's BH rank/step-up frame; nearest " +
        "preceding def is its local variance helper)"),
    ("Stats5.scala", "conformalInterval") -> (1,
      "calendar: one row per day"))

  test("every partition-less window in src/main is allowlisted with a bound") {
    // ANY def (not just query-level `def x(spark`) — hits attribute to
    // the nearest enclosing/preceding definition, so a local helper's
    // window can't ride on its parent's allowlist entry (ADVICE r13)
    val defRe = raw"\bdef\s+(\w+)".r
    val hits = scalaFiles(new java.io.File("src/main/scala")).flatMap { f =>
      val text = stripComments(
        scala.util.Using.resource(scala.io.Source.fromFile(f, "UTF-8"))(
          _.mkString))
      val defs = defRe.findAllMatchIn(text).map(m => m.start -> m.group(1)).toSeq
      raw"\bWindow\s*\.".r.findAllMatchIn(text).toSeq.flatMap { m =>
        val chain = windowChainAt(text, m.start)
        if (isUnpartitionedWindowChain(chain)) {
          val enclosing = defs.takeWhile(_._1 < m.start).lastOption
            .map(_._2).getOrElse("<toplevel>")
          val line = text.take(m.start).count(_ == '\n') + 1
          Some(((f.getName, enclosing), s"${f.getPath}:$line"))
        } else None
      }
    }
    val counts = hits.groupBy(_._1).map { case (k, v) => k -> v.size }
    val unexpected = hits.filter { case (k, _) =>
      !allowed.contains(k) || counts(k) > allowed(k)._1
    }
    assert(unexpected.isEmpty,
      "unpartitioned window(s) outside the allowlist — a whole-frame " +
        "single-task shape. Replace with PrefixScan (cumulatives) or a " +
        "1-row broadcast cross (totals), or add an allowlist entry WITH " +
        "a boundedness justification:\n" +
        unexpected.map { case ((file, d), loc) => s"  $loc (in $d)" }
          .mkString("\n"))
    // stale entries rot the contract in the other direction: an
    // allowlisted def that no longer holds an unpartitioned window must
    // drop off the list (keeps the list = the exact current surface)
    val stale = allowed.keySet -- counts.keySet
    assert(stale.isEmpty, s"stale WindowGuard allowlist entries: $stale")
    val undercounted = allowed.collect {
      case (k, (n, _)) if counts.getOrElse(k, 0) < n => k
    }
    assert(undercounted.isEmpty,
      s"allowlist counts above actual — tighten: $undercounted")
  }

  test("matcher catches every defect shape: bare, multi-line, lit()-keyed, comment-excused") {
    def flagged(src: String): Boolean = {
      val text = stripComments(src)
      raw"\bWindow\s*\.".r.findAllMatchIn(text).exists(m =>
        isUnpartitionedWindowChain(windowChainAt(text, m.start)))
    }
    assert(flagged("""val w = Window.orderBy(col("v"))"""))
    assert(flagged(
      "val wAll = Window.rowsBetween(Window.unboundedPreceding,\n  Window.currentRow)"))
    assert(flagged("val w = Window.partitionBy()"))
    // the r13 evasion: a literal key is the same single-partition shape
    assert(flagged("""val w = Window.partitionBy(lit(1)).orderBy(col("b"))"""))
    assert(flagged("""val w = Window.partitionBy(lit("x"), lit(2))"""))
    // a chain SPLIT ACROSS LINES no longer hides
    assert(flagged("val w = Window\n  .orderBy(col(\"v\"))"))
    // ...and a partitionBy in a trailing comment no longer excuses
    assert(flagged("""val w = Window.orderBy(col("v")) // partitionBy upstream"""))
    assert(!flagged(
      """val w = Window.partitionBy(col("k")).orderBy(col("v"))"""))
    assert(!flagged("val w = Window\n  .partitionBy(col(\"k\"))\n  .orderBy(col(\"v\"))"))
    // mixed literal + real key IS partitioned
    assert(!flagged("""val w = Window.partitionBy(lit(1), col("k"))"""))
    assert(!flagged(
      """// an unpartitioned Window.orderBy(price) would be the defect"""))
    assert(!flagged(
      """/* the scale-safe replacement for `Window.orderBy(v)` */"""))
    // chain args with nested parens and commas parse correctly
    assert(!flagged(
      """val w = Window.partitionBy(date_trunc("hour", col("ts"))).orderBy(col("v"))"""))
  }
}
