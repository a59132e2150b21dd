package graft.ops

import graft.Tables._
import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Round-17 exact-substring dedup at SUFFIX-ARRAY grain (Lee et al. ACL
  * 2022 "Deduplicating Training Data Makes Language Models Better" —
  * their ExactSubstr deduper is built on a suffix array; the L358/L364
  * shingle-grain family approximates it at 16-word resolution and
  * cannot see a repeat shorter than the shingle). This file builds a
  * GENERALIZED WORD-GRAIN SUFFIX ARRAY over the whole corpus by prefix
  * doubling (Manber & Myers SIAM J. Comput. 1993; the log n
  * rank/(rank, next-rank)/re-rank rounds), then reads two artifacts off
  * it:
  *
  *   - `llm_suffix_lrs` — the longest repeated word sequence, both
  *     anywhere and across two distinct documents. Both are EXACT: all
  *     occurrences of a repeated string form a contiguous suffix-array
  *     interval, so the maximum adjacent-pair LCP attains the longest
  *     repeat, and an interval spanning ≥2 docs always contains an
  *     ADJACENT pair from distinct docs (walk the interval until the
  *     doc changes), so the cross-doc maximum is exact too.
  *   - `llm_suffix_coverage` — per-doc duplicated-word coverage at
  *     [[MinDupWords]]-word grain, strictly finer than the shingle
  *     family: position q starts a duplicated T-gram iff its max
  *     adjacent-suffix LCP ≥ T (the standard suffix-array duplicate
  *     test), islands merge exactly as L358's spans do.
  *
  * Engine-stability design: every rank is an integer produced by a
  * DENSE RANK over (prev-rank, next-rank) pairs, so the whole
  * construction is bit-deterministic and engine-portable — no floats,
  * no hashes (unlike the shingle family there are no collision
  * caveats; this is the exact structure). Per-doc unique sentinel
  * symbols (U+0001-prefixed, sorting below every real word) terminate
  * each document, so no repeated prefix can cross a document boundary
  * and a shorter suffix always sorts before its extensions.
  *
  * ROUND-18 EXECUTION REWRITE (measured: the round-17 DataFrame form
  * spent ~1.1 s wall / ~18 s task CPU PER DOUBLING ROUND in the
  * gpos⇄gpos+2^k sort-merge self-join and its Row⇄InternalRow
  * conversions, and 1.6 s warm / 10.9 s cold in the position-grain
  * string dense rank — stage probe in OPTIMIZATION_r18.md). The
  * doubling loop now runs on PRIMITIVE-LONG block RDDs:
  *
  *   - Positions are dense integers [0, total), so the level frame is
  *     stored as one rank-array per contiguous gpos BLOCK (block b =
  *     [b·B, (b+1)·B), B = ⌈total/p⌉, one block per partition). The
  *     (gpos, gpos+2^k) pairing is then an ARRAY LOOKUP, not a join:
  *     each block carries a donor tail of the next 2^k ranks, placed by
  *     the previous round's shuffle write (rows within 2^k of a block
  *     end are emitted to both blocks — ≤ 2^RMax extra rows per block,
  *     volume (1 + step/B)·total, never data-squared).
  *   - The per-round rank refinement is TIES-ONLY over START-INDEX
  *     ranks (see [[FlagBit]] — round 18): equal keys are bucketed by
  *     contiguous r-ranges so groups never span partitions, and a
  *     group's subdivision ranks are group-local offsets, so only
  *     still-tied positions (geometrically decaying after level 2)
  *     shuffle each round, on primitive long arrays with an in-place
  *     parallel-array quicksort — no Row boxing, no codegen, no
  *     per-round generated classes, and no per-round driver offsets
  *     (convergence rides a retry-safe accumulator).
  *   - ONE job per doubling round (a foreachPartition materializing
  *     the persisted merged level — copy-forward of the previous
  *     level's blocks overlaid with the round's updates).
  *   - The l0 rank is VOCABULARY-grain: rank the DISTINCT key frame
  *     (counted PrefixScan, unchanged string ordering) and attach
  *     ranks to positions with a broadcast join below
  *     [[DescentBroadcastRows]] keys (shuffle join above — the bound is
  *     measured, never assumed), instead of range-exchanging the full
  *     position frame on string keys with a sampling pass.
  *
  * Every readout is bit-identical to the round-17 dense-rank form:
  * rank equality ⟺ prefix equality at every level, the converged
  * level IS the dense suffix-order permutation (see [[FlagBit]]), and
  * those two properties are all any consumer reads. The DuckDB oracle
  * SQL is untouched and hash-gates both queries.
  *
  * 100-TB shape: prefix doubling is the distributed-suffix-array
  * construction precisely because each round is only (a) one dense-gpos
  * block exchange and (b) one rank-range exchange — both rows-linear
  * with uniform keys by construction, no skew. Rounds stop as soon as
  * ranks are distinct — convergence at round m means NO repeat is
  * ≥ 2^m words, so rounds track the longest repeat (log₂ LRS), not
  * corpus size. Driver traffic stays partition-count-grain (run counts
  * per rank partition, one boundary row per block for the adjacent-pair
  * stitch). The LCP of the N−1 adjacent pairs descends the kept rank
  * levels greedily (rank_k equal ⇒ first 2^k words equal ⇒ extend by
  * 2^k) with the pruned argmax (see [[descendRdd]]), so only the first
  * level touches the full pair set — and that level is a FILTER over
  * ranks carried on the pair rows. */
object Llm17 {

  /** Doubling-round bound: the construction fails LOUDLY (rather than
    * silently disagreeing with the fixed-unroll oracle) if ranks are
    * still not distinct after RMax rounds — i.e. some repeat is
    * ≥ 2^RMax = 4096 words, 40× the longest fixture document. */
  private[graft] val RMax = 12

  /** Coverage grain T: a position is duplicated if the T-gram starting
    * there occurs ≥2 times corpus-wide. 4 words — a quarter of the
    * shingle family's 16-word floor, so sub-shingle repeats (licence
    * lines, short boilerplate) become visible. */
  private[graft] val MinDupWords = 4

  /** Sentinel key prefix — U+0001 sorts below every fixture word under
    * the binary collation both engines use (the `Llm11.Sep` symbol). */
  private val SentPrefix = ""

  /** Row ceiling under which a measured-small frame (the l0 key-rank
    * table, a descent candidate set) may broadcast; above it the
    * exchange path stands — adversarial corpora never meet an assumed
    * broadcast. ~60 MB worst case at 56 B/row. */
  private val DescentBroadcastRows = 1000000L

  /** Rank value meaning "no rank here" (probe beyond the corpus / next
    * rank past the last position). Real ranks are ≥ 1. */
  private val Miss = Long.MinValue

  /** ROUND-18 TIES-ONLY REFINEMENT (guide §2.3 — shuffle fewer bytes;
    * measured: every doubling round previously re-keyed, re-sorted and
    * re-placed ALL ~1.1 M positions at sf0.1 even though ties decay
    * geometrically after level 2). Ranks are now START-INDEX ranks —
    * rank(p) at level k = 1 + (number of suffixes strictly before p's
    * 2^k-word prefix block in suffix order) — instead of dense ranks.
    * Start-index ranks make a tied group's subdivision LOCAL: the new
    * ranks of a group starting at r are r, r+|run₁|, r+|run₁|+|run₂|, …
    * (offsets within the group), so no global rank offsets exist, the
    * per-round driver collect disappears, and ONLY still-tied positions
    * are shuffled each round. Values remain unique per prefix-group
    * (distinct prefixes occupy disjoint suffix-order index ranges), so
    * every consumer property is unchanged: rank equality ⟺ prefix
    * equality at every level, and at convergence the ranks ARE the
    * dense permutation 1..N (each group is a singleton, its start index
    * is its suffix-array position) — bit-identical to the dense-rank
    * form's converged level, which is all the readouts ever order by.
    * Bit 62 ([[FlagBit]]) of a stored rank marks "group still tied";
    * consumers strip it with [[RankMask]] where routing needs the
    * numeric rank (equality tests may compare raw values — the flag is
    * a function of the group, so equal groups carry equal flags). */
  private val FlagBit = 1L << 62
  private val RankMask = FlagBit - 1L

  /** Donor-tail length: every block carries the next [[TailMax]] ranks
    * so any round's (gpos, gpos+2^k) pairing (k < RMax ⇒ 2^k ≤ TailMax)
    * is a local array lookup; constant across rounds so unchanged tail
    * entries survive the per-round copy-forward merge. ≤ 16 KB per
    * block — MinBlock is 128× larger. */
  private val TailMax = 1L << (RMax - 1)

  // ------------------------------------------------------------------
  // block layout + primitive sorting
  // ------------------------------------------------------------------

  /** Dense-gpos block layout: block b covers [b·bSize, (b+1)·bSize) ∩
    * [0, total), one block per partition. */
  private final case class Lay(total: Long, nParts: Int, bSize: Long) {
    def blockOf(g: Long): Int = math.min(g / bSize, (nParts - 1).toLong).toInt
    def lenOf(b: Int): Int =
      math.max(0L, math.min(bSize * (b + 1), total) - bSize * b).toInt
  }

  /** Minimum block size (positions per block). Blocks are primitive
    * long arrays (~8 B/position), so a block below ~2 MB makes every
    * doubling round per-task-overhead-bound rather than compute-bound —
    * PERF_r17 measured the engine FASTER at 8 CPUs than 32 (scaling
    * 0.69/0.56) because local[8]'s 8 blocks of the sf0.1 corpus beat
    * local[32]'s 32 micro-blocks of 34 k positions. Guide §2.2: fewer,
    * larger partitions. Scale-adaptive, not a core-count constant: once
    * total ≥ cores × MinBlock (any production corpus — this is only
    * ~8 M positions at 32 cores) the layout is exactly total/cores and
    * grows with data, so cluster behavior is unchanged. */
  private[graft] val MinBlock = 262144L

  private def layoutFor(spark: SparkSession, total: Long): Lay = {
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    val b = math.max(MinBlock, (total + p - 1) / p)
    Lay(total, math.max(1L, (total + b - 1) / b).toInt, b)
  }

  /** Partition id IS the key (block id / rank-range id). */
  private final class IdPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
    override def equals(o: Any): Boolean = o match {
      case p: IdPartitioner => p.numPartitions == n
      case _ => false
    }
    override def hashCode(): Int = n
  }

  /** In-place quicksort of parallel long arrays on (k1[, k2]) — the
    * primitive-array replacement for the round-17 per-round SMJ sort.
    * `k2` may be null (single-key sort); `extras` are swapped along.
    * Median-of-three pivot, insertion sort below 24, recursion on the
    * smaller side only (stack depth O(log n)). */
  private[graft] def sortParallel(k1: Array[Long], k2: Array[Long],
      extras: Array[Array[Long]], n: Int): Unit = {
    val ne = extras.length
    def cmp(i: Int, j: Int): Int = {
      val c = java.lang.Long.compare(k1(i), k1(j))
      if (c != 0 || k2 == null) c else java.lang.Long.compare(k2(i), k2(j))
    }
    def swap(i: Int, j: Int): Unit = if (i != j) {
      var t = k1(i); k1(i) = k1(j); k1(j) = t
      if (k2 != null) { t = k2(i); k2(i) = k2(j); k2(j) = t }
      var e = 0
      while (e < ne) {
        val a = extras(e); t = a(i); a(i) = a(j); a(j) = t; e += 1
      }
    }
    def insertion(lo: Int, hi: Int): Unit = {
      var i = lo + 1
      while (i <= hi) {
        var j = i
        while (j > lo && cmp(j - 1, j) > 0) { swap(j - 1, j); j -= 1 }
        i += 1
      }
    }
    def qsort(lo0: Int, hi0: Int): Unit = {
      var lo = lo0; var hi = hi0
      while (hi - lo > 23) {
        val mid = lo + (hi - lo) / 2
        if (cmp(lo, mid) > 0) swap(lo, mid)
        if (cmp(mid, hi) > 0) { swap(mid, hi); if (cmp(lo, mid) > 0) swap(lo, mid) }
        swap(mid, hi - 1)
        val pv = hi - 1
        var i = lo
        var j = hi - 1
        var done = false
        while (!done) {
          i += 1; while (cmp(i, pv) < 0) i += 1
          j -= 1; while (j > lo && cmp(pv, j) < 0) j -= 1
          if (i >= j) done = true else swap(i, j)
        }
        swap(i, hi - 1)
        if (i - lo < hi - i) { qsort(lo, i - 1); lo = i + 1 }
        else { qsort(i + 1, hi); hi = i - 1 }
      }
      insertion(lo, hi)
    }
    if (n > 1) qsort(0, n - 1)
  }

  /** Growable primitive long buffer (partition-local materialization). */
  private final class LongBuf(initial: Int = 1024) {
    private var a = new Array[Long](initial)
    var n = 0
    def add(v: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, a.length * 2)
      a(n) = v; n += 1
    }
    def arr: Array[Long] = a
  }

  /** Per-source-partition shuffle packer: routes fixed-stride long
    * records to target partitions as ONE `Array[Long]` per
    * (source, target) pair. Measured motivation: the unbatched form
    * Java-serializes a boxed Tuple2 per record on every `partitionBy`
    * (object header + field walk per position), which dominated the
    * doubling rounds; a primitive long[] is one bulk write, and the
    * record count per shuffle drops from rows to ≤ nParts². */
  private final class Packer(nParts: Int) {
    private val bufs = new Array[LongBuf](nParts)
    def buf(t: Int): LongBuf = {
      var b = bufs(t)
      if (b == null) { b = new LongBuf(256); bufs(t) = b }
      b
    }
    def result: Iterator[(Int, Array[Long])] =
      Iterator.range(0, nParts).filter(bufs(_) != null).map { t =>
        val b = bufs(t); (t, java.util.Arrays.copyOf(b.arr, b.n))
      }
  }

  // ------------------------------------------------------------------
  // positions (unchanged from round 17)
  // ------------------------------------------------------------------

  /** (gpos, doc_id, nw, pos, key0): every word position in the global
    * doc-concatenation plus one sentinel per document (pos = nw,
    * key0 = U+0001‖doc_id — unique, below all words). Offsets are
    * exclusive running sums of (nw+1) in doc_id order via PrefixScan.
    * Returns the position frame plus the TOTAL position count — the
    * latter rides back free on [[PrefixScan]]'s offset totals. */
  private def positions(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val docs = documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .withColumn("nw", size(col("ws")).cast("long"))
    val (scanned, tot) = PrefixScan(
      docs.select(col("doc_id"), col("nw"), (col("nw") + 1).as("nw1")),
      order = Seq("doc_id"), sumsLong = Seq("nw1" -> "cum"))
    val offs = scanned.select(col("doc_id"),
      (col("cum") - col("nw1")).as("off"))
    // ONE explode emits words AND the per-doc sentinel (appended as
    // element nw of the exploded array) — the former two-branch union
    // scanned and split the corpus twice for one extra row per doc
    val rows = docs.join(offs, "doc_id")
      .select(col("doc_id"), col("nw"), col("off"),
        posexplode(concat(col("ws"), array(concat(lit(SentPrefix),
          col("doc_id").cast("string"))))).as(Seq("pos", "key0")))
      .select((col("off") + col("pos")).as("gpos"), col("doc_id"),
        col("nw"), col("pos").cast("long").as("pos"), col("key0"))
    (rows, tot.longs.getOrElse("nw1", 0L))
  }

  // ------------------------------------------------------------------
  // block construction + per-round rank
  // ------------------------------------------------------------------

  /** One ties-only prefix-doubling round (see [[FlagBit]] — round 18):
    * scan each block for positions whose rank group is still tied, pair
    * their rank with the rank `step` ahead (donor-tail array lookup),
    * route them to contiguous rank ranges (a group shares one rank so
    * it never spans partitions), sort by (r, r2) and assign START-INDEX
    * subdivision ranks locally — newRank = groupRank + offset of the
    * (r, r2)-run within the group, tied flag = run size ≥ 2. Updates
    * (plus copies for every block whose donor tail covers them) overlay
    * a copy-forward of the previous level's block arrays. ONE job per
    * round (a foreachPartition that materializes the persisted merged
    * level); convergence rides back on a LongAccumulator — task retries
    * can only inflate a nonzero count, never turn 0 nonzero or back, so
    * the tied==0 convergence test is retry-safe. Returns (next level
    * blocks — persisted AND materialized, still-tied position count). */
  private def tiesRound(spark: SparkSession, cur: RDD[(Int, Array[Long])],
      step: Long, lay: Lay, part: Partitioner)
      : (RDD[(Int, Array[Long])], Long) = {
    val width = math.max(1L, (lay.total + lay.nParts - 1) / lay.nParts)
    val nParts = lay.nParts
    val keyed = cur.mapPartitionsWithIndex { (b, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val arr = it.next()._2
        val base = b * lay.bSize
        val len = lay.lenOf(b)
        val pk = new Packer(nParts)
        var i = 0
        while (i < len) {
          val v = arr(i)
          if ((v & FlagBit) != 0L) {
            val g = base + i
            val r = v & RankMask
            val r2 = if (g + step < lay.total) arr(i + step.toInt) & RankMask
              else Miss
            val bf = pk.buf(((r - 1) / width).toInt)
            bf.add(r); bf.add(r2); bf.add(g)
          }
          i += 1
        }
        pk.result
      }
    }.partitionBy(part)
    val tiedAcc = spark.sparkContext.longAccumulator("suffixTiesRound")
    val placed = keyed.mapPartitions { it =>
      val rs = new LongBuf(); val r2s = new LongBuf(); val gs = new LongBuf()
      it.foreach { case (_, a) =>
        var i = 0
        while (i < a.length) {
          rs.add(a(i)); r2s.add(a(i + 1)); gs.add(a(i + 2)); i += 3
        }
      }
      val n = rs.n
      sortParallel(rs.arr, r2s.arr, Array(gs.arr), n)
      val ra = rs.arr; val b2 = r2s.arr; val ga = gs.arr
      val pk = new Packer(nParts)
      var tied = 0L
      var i = 0
      while (i < n) {
        var ge = i // group = run of equal r (one tied rank group)
        while (ge + 1 < n && ra(ge + 1) == ra(i)) ge += 1
        var j = i
        while (j <= ge) {
          var je = j // run of equal (r, r2) within the group
          while (je + 1 <= ge && b2(je + 1) == b2(j)) je += 1
          val nr = ra(i) + (j - i)
          val v = if (je > j) { tied += je - j + 1; nr | FlagBit } else nr
          var q = j
          while (q <= je) {
            val g = ga(q)
            val hi = lay.blockOf(g)
            val lo = lay.blockOf(math.max(g - TailMax, 0L))
            var t = lo
            while (t <= hi) { val bf = pk.buf(t); bf.add(g); bf.add(v); t += 1 }
            q += 1
          }
          j = je + 1
        }
        i = ge + 1
      }
      tiedAcc.add(tied)
      pk.result
    }.partitionBy(part)
    val next = cur.zipPartitions(placed, preservesPartitioning = true) {
      (pit, uit) =>
        if (!pit.hasNext) Iterator.empty
        else {
          val (b, prev) = pit.next()
          val arr = java.util.Arrays.copyOf(prev, prev.length)
          val base = b * lay.bSize
          uit.foreach { case (_, a) =>
            var i = 0
            while (i < a.length) { arr((a(i) - base).toInt) = a(i + 1); i += 2 }
          }
          Iterator((b, arr))
        }
    }.persist(StorageLevel.MEMORY_AND_DISK)
    next.foreachPartition((_: Iterator[(Int, Array[Long])]) => ())
    (next, tiedAcc.value)
  }

  /** l0 rank blocks (1-step donor tail) AND doc/pos/real meta arrays
    * from ONE packed exchange over the rank-attached position frame —
    * the separate l0/meta shuffles cost two full passes over the
    * exploded corpus; fused they cost one (4 longs/row, `pos` and the
    * real flag bit-packed). Both views share the one persisted parent. */
  private def baseBlocksOf(joined: DataFrame, lay: Lay, part: Partitioner)
      : (RDD[(Int, Array[Long])],
         RDD[(Int, (Array[Long], Array[Long], Array[Boolean]))]) = {
    val nParts = lay.nParts
    val packed = joined.rdd.mapPartitions { it =>
      val pk = new Packer(nParts)
      it.foreach { r =>
        val g = r.getLong(0)
        val rk = r.getLong(1)
        val d = r.getLong(2)
        val pr = (r.getLong(3) << 1) |
          (if (r.getLong(3) < r.getLong(4)) 1L else 0L)
        val hi = lay.blockOf(g)
        val lo = lay.blockOf(math.max(g - TailMax, 0L))
        var t = lo
        while (t <= hi) {
          val bf = pk.buf(t); bf.add(g); bf.add(rk); bf.add(d); bf.add(pr)
          t += 1
        }
      }
      pk.result
    }.partitionBy(part)
    val combined = packed.mapPartitionsWithIndex({ (b, it) =>
      val base = b * lay.bSize
      val len = lay.lenOf(b)
      val donor = math.max(0L,
        math.min(TailMax, lay.total - (base + len))).toInt
      val rank = new Array[Long](len + donor)
      val doc = new Array[Long](len)
      val pos = new Array[Long](len)
      val real = new Array[Boolean](len)
      it.foreach { case (_, a) =>
        var i = 0
        while (i < a.length) {
          val idx = (a(i) - base).toInt
          rank(idx) = a(i + 1)
          if (idx < len) { // donor copies only carry the rank
            doc(idx) = a(i + 2)
            pos(idx) = a(i + 3) >>> 1
            real(idx) = (a(i + 3) & 1L) == 1L
          }
          i += 4
        }
      }
      Iterator((b, (rank, doc, pos, real)))
    }, preservesPartitioning = true).persist(StorageLevel.MEMORY_AND_DISK)
    (combined.mapValues(_._1),
      combined.mapValues { case (_, d, p, r) => (d, p, r) })
  }

  /** Prefix doubling to `upTo` rounds (early-stop at convergence m;
    * m = −1 when a bounded run stopped early). Returns the layout, the
    * doc/pos meta blocks, the level block RDDs, the per-level distinct
    * counts, m, and the position total. FAILS LOUDLY when a full run
    * (upTo = RMax) does not converge. */
  private def doubling(spark: SparkSession, dir: String, upTo: Int = RMax)
      : (Lay, RDD[(Int, (Array[Long], Array[Long], Array[Boolean]))],
         Vector[RDD[(Int, Array[Long])]], Vector[Long], Int, Long) = {
    val (p0raw, total) = positions(spark, dir)
    val p0 = p0raw.localCheckpoint(true)
    val lay = layoutFor(spark, total)
    val part = new IdPartitioner(lay.nParts)
    // vocabulary-grain l0 rank, START-INDEX form (round 18): rank a key
    // as 1 + (positions with strictly smaller key) via the counted
    // PrefixScan over the distinct-key frame (same binary string order
    // as the former dense rank), with the tied flag for multi-position
    // keys — broadcast below the measured bound, shuffle join above it.
    // The scan's totals carry the distinct-key count and the tied
    // position count back for free (no extra driver job).
    val keyCnt = p0.groupBy(col("key0")).agg(count(lit(1)).as("cnt"))
      .withColumn("one", lit(1L))
      .withColumn("tiedc", when(col("cnt") >= 2L, col("cnt"))
        .otherwise(lit(0L)))
    val (cum, kt) = PrefixScan(keyCnt, Seq("key0"),
      sumsLong = Seq("cnt" -> "cum", "one" -> "cum1", "tiedc" -> "cumt"))
    val d0 = kt.longs("one")
    val tied0 = kt.longs("tiedc")
    val keyRank = cum.select(col("key0"),
      (col("cum") - col("cnt") + 1L +
        when(col("cnt") >= 2L, lit(FlagBit)).otherwise(lit(0L))).as("r"))
    val joined = p0.join(
      if (d0 <= DescentBroadcastRows) broadcast(keyRank) else keyRank,
      "key0").select(col("gpos"), col("r"), col("doc_id"), col("pos"),
      col("nw"))
    val (l0, meta) = baseBlocksOf(joined, lay, part)
    var levels = Vector(l0)
    var tieds = Vector(tied0)
    var m = if (tied0 == 0L) 0 else -1
    var k = 0
    while (m < 0 && k < upTo) {
      val (next, tied) = tiesRound(spark, levels(k), 1L << k, lay, part)
      levels = levels :+ next
      tieds = tieds :+ tied
      k += 1
      if (tied == 0L) m = k
    }
    if (m < 0 && upTo == RMax) throw new IllegalStateException(
      s"suffix-array doubling did not converge in $RMax rounds — " +
        s"some repeat is >= ${1L << RMax} words; raise RMax (and the " +
        "oracle unroll) rather than truncating silently")
    (lay, meta, levels, tieds, m, total)
  }

  // ------------------------------------------------------------------
  // adjacent pairs + pruned LCP descent
  // ------------------------------------------------------------------

  // pair-row layout: Array[Long](8) = i, doc_a, pos_a, rp_a, j, doc_b,
  // pos_b, rp_b (rp = level-(m−1) rank, Miss when m = 0)
  private val PI = 0; private val PDA = 1; private val PPA = 2
  private val PRA = 3; private val PJ = 4; private val PDB = 5
  private val PPB = 6; private val PRB = 7

  /** Adjacent suffix-array pairs (sentinels excluded — their unique
    * symbols contribute 0 to any LCP but would split real adjacencies):
    * real positions keyed by converged rank into contiguous rank
    * ranges, sorted locally (converged ranks are a permutation, so
    * equal-rank stitching never arises), consecutive reals paired; the
    * one boundary pair per partition comes from a collected
    * per-partition first row (block-count-grain driver traffic). The
    * level-(m−1) ranks ride along (rp_a/rp_b) so the descent's only
    * full-pair-set level is a FILTER (round-17 design, kept). */
  private def adjacentPairsRdd(lay: Lay, part: Partitioner,
      meta: RDD[(Int, (Array[Long], Array[Long], Array[Boolean]))],
      levels: Vector[RDD[(Int, Array[Long])]], m: Int)
      : RDD[Array[Long]] = {
    val lm = levels(m)
    val lp = levels(math.max(m - 1, 0))
    val widthR = math.max(1L, (lay.total + lay.nParts - 1) / lay.nParts)
    val hasPrev = m >= 1
    val nParts = lay.nParts
    val keyed = lm.zipPartitions(lp, meta) { (it1, it2, it3) =>
      if (!it1.hasNext || !it3.hasNext) Iterator.empty
      else {
        val (b, rArr) = it1.next()
        val rpArr = if (it2.hasNext) it2.next()._2 else rArr
        val (docA, posA, realA) = it3.next()._2
        val base = b * lay.bSize
        val len = lay.lenOf(b)
        val pk = new Packer(nParts)
        var i = 0
        while (i < len) {
          if (realA(i)) {
            val r = rArr(i)
            val bf = pk.buf(((r - 1) / widthR).toInt)
            bf.add(r); bf.add(base + i); bf.add(docA(i)); bf.add(posA(i))
            bf.add(if (hasPrev) rpArr(i) else Miss)
          }
          i += 1
        }
        pk.result
      }
    }.partitionBy(part)
    // one row per partition: its rank-minimal real (for boundary pairs)
    val firsts = keyed.mapPartitionsWithIndex { (pid, it) =>
      var best: (Long, Long, Long, Long, Long) = null
      it.foreach { case (_, a) =>
        var i = 0
        while (i < a.length) {
          if (best == null || a(i) < best._1)
            best = (a(i), a(i + 1), a(i + 2), a(i + 3), a(i + 4))
          i += 5
        }
      }
      if (best == null) Iterator.empty else Iterator((pid, best))
    }.collect().sortBy(_._1)
    // successor of partition pid = the first row of the next NON-EMPTY
    // partition (rank ranges are contiguous, so this is the global
    // suffix-array successor of pid's last row)
    val nextFirst = new Array[(Long, Long, Long, Long, Long)](lay.nParts)
    var nf: (Long, Long, Long, Long, Long) = null
    for (pid <- lay.nParts - 1 to 0 by -1) {
      nextFirst(pid) = nf
      firsts.find(_._1 == pid).foreach { case (_, v) => nf = v }
    }
    keyed.mapPartitionsWithIndex { (pid, it) =>
      val r = new LongBuf(); val g = new LongBuf(); val d = new LongBuf()
      val p2 = new LongBuf(); val rp = new LongBuf()
      it.foreach { case (_, a) =>
        var i = 0
        while (i < a.length) {
          r.add(a(i)); g.add(a(i + 1)); d.add(a(i + 2)); p2.add(a(i + 3))
          rp.add(a(i + 4)); i += 5
        }
      }
      val n = r.n
      sortParallel(r.arr, null, Array(g.arr, d.arr, p2.arr, rp.arr), n)
      val ga = g.arr; val da = d.arr; val pa = p2.arr; val ra = rp.arr
      val within = Iterator.range(0, n - 1).map { t =>
        Array(ga(t), da(t), pa(t), ra(t),
          ga(t + 1), da(t + 1), pa(t + 1), ra(t + 1))
      }
      val boundary = nextFirst(pid) match {
        case null => Iterator.empty
        case (_, gv, dv, pv, rpv) if n > 0 =>
          Iterator.single(Array(ga(n - 1), da(n - 1), pa(n - 1), ra(n - 1),
            gv, dv, pv, rpv))
        case _ => Iterator.empty
      }
      within ++ boundary
    }
  }

  /** PRUNED greedy descent for the MAXIMUM adjacent-pair LCP: at level
    * k, if ANY pair's next-2^k ranks match, the argmax provably lies
    * among the matched pairs (an unmatched pair can gain at most
    * 2^k − 1 from all remaining levels), so the candidate set prunes to
    * them and the shared scalar acc grows by 2^k; if none match, the
    * set stands. The first level (k = m−1, acc = 0) filters on the
    * carried rp ranks — zero data motion over the full pair set; later
    * levels probe the BLOCK-resident level arrays with candidate-sized
    * exchanges only (the level frames are never moved). Every
    * survivor's exact LCP equals the final acc, so the min-i survivor
    * is bit-equal to the unpruned (lcp desc, i asc) argmax. Returns the
    * winner row (None when the pair set is empty) and its LCP. */
  private def descendRdd(pairs0: RDD[Array[Long]],
      levels: Vector[RDD[(Int, Array[Long])]], m: Int, lay: Lay,
      part: Partitioner): (Option[Array[Long]], Long) = {
    var cand = pairs0
    var acc = 0L
    var startK = m - 1
    if (m >= 1) {
      val matched = cand.filter(c => c(PRA) == c(PRB))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nm = matched.count()
      // Small matched set (the common case — pairs sharing a
      // 2^(m−1)-word prefix are the near-max repeats): compute each
      // survivor's EXACT LCP independently — the remaining levels run
      // as ONE lazy chain ending in a single takeOrdered job, instead
      // of one count-job barrier per level (the prune's only purpose
      // is shrinking the set, which a small set doesn't need). Each
      // candidate's greedy binary descent yields its exact LCP, so
      // argmax (lcp desc, i asc) is the same winner the pruned loop
      // selects. Above the cap the pruned loop stands (set shrinking
      // bounds the per-level candidate motion).
      if (nm > 0 && nm <= IndependentDescentCap)
        return independentDescent(matched, levels, m - 2, 1L << (m - 1),
          lay, part)
      if (nm > 0) { cand = matched; acc += 1L << (m - 1) }
      startK = m - 2
    }
    for (k <- startK to 0 by -1) {
      val lk = levels(k)
      val accNow = acc
      // probe i+acc then j+acc; the first probe's rank rides in a tuple
      // (the pair row itself is never mutated — PRA/PRB stay the
      // level-(m−1) ranks for the cross-scope descent)
      val withA = cand.map(c => (lay.blockOf(c(PI) + accNow), c))
        .partitionBy(part)
        .zipPartitions(lk) { (cit, lit) =>
          val blk = if (lit.hasNext) lit.next() else null
          cit.map { case (b, c) =>
            val q = c(PI) + accNow
            val idx = q - b * lay.bSize
            val ok = blk != null && q < lay.total &&
              idx >= 0 && idx < lay.lenOf(b)
            (if (ok) blk._2(idx.toInt) else Miss, c)
          }
        }
      val withB = withA.map { case (ra, c) =>
        (lay.blockOf(c(PJ) + accNow), (ra, c)) }
        .partitionBy(part)
        .zipPartitions(lk) { (cit, lit) =>
          val blk = if (lit.hasNext) lit.next() else null
          cit.map { case (b, (ra, c)) =>
            val q = c(PJ) + accNow
            val idx = q - b * lay.bSize
            val ok = blk != null && q < lay.total &&
              idx >= 0 && idx < lay.lenOf(b)
            (ra, if (ok) blk._2(idx.toInt) else Miss, c)
          }
        }
      val matched = withB
        .filter { case (ra, rb, _) => ra != Miss && ra == rb }
        .map(_._3)
        .persist(StorageLevel.MEMORY_AND_DISK)
      if (matched.count() > 0) { cand = matched; acc += 1L << k }
    }
    val w = cand.takeOrdered(1)(Ordering.by((c: Array[Long]) => c(PI)))
    (w.headOption, acc)
  }

  /** Candidate-count ceiling for the independent (unpruned) descent:
    * each remaining level moves the whole candidate set twice, so the
    * lazy single-job chain is only the right trade while the set is
    * small; above it the pruned loop's set-shrinking wins. */
  private val IndependentDescentCap = 1000000L

  /** Per-candidate exact-LCP descent (no pruning): every candidate
    * carries its own acc; level k matches extend it by 2^k. All levels
    * startK..0 execute lazily inside the final takeOrdered job. The
    * winner's (lcp desc, i asc) argmax is bit-equal to the pruned
    * loop's (see [[descendRdd]]). */
  private def independentDescent(cand0: RDD[Array[Long]],
      levels: Vector[RDD[(Int, Array[Long])]], startK: Int, acc0: Long,
      lay: Lay, part: Partitioner): (Option[Array[Long]], Long) = {
    var cur: RDD[(Array[Long], Long)] = cand0.map(c => (c, acc0))
    for (k <- startK to 0 by -1) {
      val lk = levels(k)
      val step = 1L << k
      val probed = cur.map { case (c, acc) =>
        (lay.blockOf(c(PI) + acc), (c, acc)) }
        .partitionBy(part)
        .zipPartitions(lk) { (cit, lit) =>
          val blk = if (lit.hasNext) lit.next() else null
          cit.map { case (b, (c, acc)) =>
            val q2 = c(PI) + acc
            val idx = q2 - b * lay.bSize
            val ok = blk != null && q2 < lay.total &&
              idx >= 0 && idx < lay.lenOf(b)
            (if (ok) blk._2(idx.toInt) else Miss, c, acc)
          }
        }
      cur = probed.map { case (ra, c, acc) =>
        (lay.blockOf(c(PJ) + acc), (ra, c, acc)) }
        .partitionBy(part)
        .zipPartitions(lk) { (cit, lit) =>
          val blk = if (lit.hasNext) lit.next() else null
          cit.map { case (b, (ra, c, acc)) =>
            val q2 = c(PJ) + acc
            val idx = q2 - b * lay.bSize
            val ok = blk != null && q2 < lay.total &&
              idx >= 0 && idx < lay.lenOf(b)
            val rb = if (ok) blk._2(idx.toInt) else Miss
            (c, if (ra != Miss && ra == rb) acc + step else acc)
          }
        }
    }
    val w = cur.takeOrdered(1)(
      Ordering.by { case (c, acc) => (-acc, c(PI)) })
    (w.headOption.map(_._1), w.headOption.map(_._2).getOrElse(0L))
  }

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  /** L401 — longest repeated word sequence, two scopes: `any` (the
    * textbook LRS) and `cross` (longest sequence present in ≥2 distinct
    * documents — exact, see the object doc). One row per scope with the
    * witness pair and the recovered text; tie-break (lcp desc, leftmost
    * first-occurrence position) is a total order both engines share. */
  def suffixLrs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (lay, meta, levels, _, m, _) = doubling(spark, dir)
    val part = new IdPartitioner(lay.nParts)
    val pairs = adjacentPairsRdd(lay, part, meta, levels, m)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (anyW, anyAcc) = descendRdd(pairs, levels, m, lay, part)
    // if the overall winner is already a cross-doc pair, the cross-scope
    // maximum IS the same pair (max over a subset containing the overall
    // argmax) — the second descent is provably redundant
    val (crossW, crossAcc) = anyW match {
      case Some(c) if c(PDA) != c(PDB) => (anyW, anyAcc)
      case _ => descendRdd(pairs.filter(c => c(PDA) != c(PDB)),
        levels, m, lay, part)
    }
    val candRows =
      anyW.map(c => ("any", c(PI), c(PDA), c(PPA), c(PJ), c(PDB), c(PPB),
        anyAcc)).toSeq ++
      crossW.map(c => ("cross", c(PI), c(PDA), c(PPA), c(PJ), c(PDB), c(PPB),
        crossAcc)).toSeq
    val cand = candRows
      .toDF("scope", "i", "doc_a", "pos_a", "j", "doc_b", "pos_b", "lcp")
    val docs = documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    cand.join(docs, col("doc_a") === col("doc_id"))
      .select(col("scope"), col("lcp").as("lrs_words"),
        col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        (col("doc_a") =!= col("doc_b")).as("cross_doc"),
        concat_ws(" ", slice(col("ws"), (col("pos_a") + 1).cast("int"),
          col("lcp").cast("int"))).as("lrs_text"))
      .orderBy("scope")
  }

  /** L402 — per-doc duplicated coverage at [[MinDupWords]]-word grain:
    * position q is a duplicated start iff max(LCP with SA-neighbours)
    * ≥ T; covered words = union of [q, q+T−1] merged gaps-and-islands
    * (break when the next start clears the previous interval). Same
    * readout shape as L358's `llm_dedup_substring`, strictly finer
    * grain. */
  def suffixCoverage(spark: SparkSession, dir: String): DataFrame =
    coverageAt(spark, dir, MinDupWords)

  /** Coverage at grain `t` (a power of two) — Round17Spec runs t=16 to
    * pin bit-equality with the shingle family on planted ≥16-word dups.
    * No suffix array and no descent: the t-gram at position q occurs
    * ≥2 times corpus-wide iff q's level-log₂(t) rank is SHARED (rank
    * equality ⟺ first t words equal, sentinel-capped), so only
    * log₂(t) doubling rounds and one rank-keyed multiplicity scan are
    * needed — the exact-arithmetic version of the shingle family's
    * hash-groupBy shape. */
  private[graft] def coverageAt(spark: SparkSession, dir: String,
      t: Int): DataFrame = {
    require(t >= 2 && (t & (t - 1)) == 0,
      s"coverage grain must be a power of two, got $t")
    import spark.implicits._
    val kLvl = java.lang.Integer.numberOfTrailingZeros(t)
    val (lay, meta, levels, _, _, _) = doubling(spark, dir, upTo = kLvl)
    val part = new IdPartitioner(lay.nParts)
    val li = math.min(kLvl, levels.size - 1)
    val lvl = levels(li)
    // start-index ranks spread over [1, total] at every level (round 18)
    val width = math.max(1L, (lay.total + lay.nParts - 1) / lay.nParts)
    // positions whose level-t rank is shared (multiplicity ≥ 2): rank
    // ranges are contiguous per partition, so multiplicity is a local
    // run scan (sentinel ranks are unique by construction and
    // self-exclude)
    val nParts = lay.nParts
    val dupPos = lvl.mapPartitionsWithIndex { (b, it) =>
      if (!it.hasNext) Iterator.empty
      else {
        val arr = it.next()._2
        val base = b * lay.bSize
        val len = lay.lenOf(b)
        val pk = new Packer(nParts)
        var i = 0
        while (i < len) {
          val r = arr(i) & RankMask // strip the tied flag (round 18)
          val bf = pk.buf(((r - 1) / width).toInt)
          bf.add(r); bf.add(base + i)
          i += 1
        }
        pk.result
      }
    }.partitionBy(part)
      .mapPartitions { it =>
        val r = new LongBuf(); val g = new LongBuf()
        it.foreach { case (_, a) =>
          var i = 0
          while (i < a.length) { r.add(a(i)); g.add(a(i + 1)); i += 2 }
        }
        val n = r.n
        sortParallel(r.arr, null, Array(g.arr), n)
        val ra = r.arr; val ga = g.arr
        val pk = new Packer(nParts)
        var i = 0
        while (i < n) {
          var j = i
          while (j + 1 < n && ra(j + 1) == ra(i)) j += 1
          if (j > i) {
            var q = i
            while (q <= j) {
              pk.buf(lay.blockOf(ga(q))).add(ga(q)); q += 1
            }
          }
          i = j + 1
        }
        pk.result
      }
    val dl = dupPos.partitionBy(part)
      .zipPartitions(meta) { (git, mit) =>
        val blk = if (mit.hasNext) mit.next() else null
        git.flatMap { case (b, a) =>
          val base = b * lay.bSize
          a.iterator.map { g =>
            val i = (g - base).toInt
            (blk._2._1(i), blk._2._2(i))
          }
        }
      }.toDF("doc_id", "pos")
    val nwByDoc = documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("nw"))
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val run = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dl.withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wd) > t, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(run))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("sp_s"),
        (max(col("pos")) + lit(t - 1)).as("sp_e"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("sp_e") - col("sp_s") + 1).cast("long").as("dup_words"))
      .join(nwByDoc, "doc_id")
      .select(col("doc_id"), col("nw").as("n_words"), col("n_dup_spans"),
        col("dup_words"),
        round(col("dup_words").cast("double") / col("nw").cast("double"), 6)
          .as("dup_ratio"))
      .orderBy("doc_id")
  }

  // ---------- DuckDB oracle: the same doubling rounds, fixed-unrolled ----------
  //
  // The oracle unrolls ALL RMax rounds (the L393 unrolled-CTE pattern)
  // while the engine early-exits at convergence level m ≤ RMax; the
  // extra oracle rounds are provably the identity (a dense rank over
  // already-distinct dense ranks reproduces them), and the extra
  // descent levels never fire (distinct ranks are never equal), so the
  // two chains agree wherever the engine converged — and the engine
  // throws if it didn't.

  private def levelSql(k: Int): String =
    s"""l${k + 1} AS MATERIALIZED (SELECT a.gpos, a.doc_id, a.nw, a.pos,
        CAST(dense_rank() OVER (ORDER BY a.r,
          COALESCE(b.r, ${Long.MinValue})) AS BIGINT) AS r
        FROM l$k a LEFT JOIN l$k b ON b.gpos = a.gpos + ${1L << k})"""

  private def descentSql(k: Int): String =
    s"""pr$k AS MATERIALIZED (SELECT p.i, p.doc_a, p.pos_a, p.j, p.doc_b,
        p.pos_b, p.acc + CASE WHEN a.r IS NOT NULL AND b.r IS NOT NULL
          AND a.r = b.r THEN ${1L << k} ELSE 0 END AS acc
        FROM pr${k + 1} p
        LEFT JOIN l$k a ON a.gpos = p.i + p.acc
        LEFT JOIN l$k b ON b.gpos = p.j + p.acc)"""

  /** Base positions + levels l0..l`upTo` (prefix length 2^k at l_k). */
  private def levelsChainSql(upTo: Int): String = {
    val levels = (0 until upTo).map(levelSql).mkString(",\n       ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS nw FROM w),
       offs AS (SELECT doc_id, ws, nw, CAST(COALESCE(SUM(nw + 1) OVER
           (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS BIGINT) AS off FROM d),
       p0 AS (SELECT off + i - 1 AS gpos, doc_id, nw,
           CAST(i - 1 AS BIGINT) AS pos, ws[i] AS key0
         FROM (SELECT doc_id, ws, nw, off, unnest(range(1, nw + 1)) AS i
           FROM offs)
         UNION ALL
         SELECT off + nw, doc_id, nw, nw,
           chr(1) || CAST(doc_id AS VARCHAR) FROM offs),
       l0 AS MATERIALIZED (SELECT gpos, doc_id, nw, pos,
         CAST(dense_rank() OVER (ORDER BY key0) AS BIGINT) AS r FROM p0),
       $levels"""
  }

  /** Full chain for the LRS: levels → suffix array → adjacent pairs →
    * LCP descent → `lcp(i, doc_a, pos_a, j, doc_b, pos_b, lcp)`. */
  private def lcpChainSql: String = {
    val descent = ((RMax - 1) to 0 by -1).map(descentSql).mkString(",\n       ")
    s"""${levelsChainSql(RMax)},
       sa AS MATERIALIZED (SELECT gpos, doc_id, pos,
         row_number() OVER (ORDER BY r) AS t FROM l$RMax WHERE pos < nw),
       pr$RMax AS (SELECT a.gpos AS i, a.doc_id AS doc_a, a.pos AS pos_a,
           b.gpos AS j, b.doc_id AS doc_b, b.pos AS pos_b,
           CAST(0 AS BIGINT) AS acc
         FROM sa a JOIN sa b ON b.t = a.t + 1),
       $descent,
       lcp AS MATERIALIZED (SELECT i, doc_a, pos_a, j, doc_b, pos_b,
         acc AS lcp FROM pr0)"""
  }

  /** Coverage grain's level index: log₂(MinDupWords). */
  private val KCov = java.lang.Integer.numberOfTrailingZeros(MinDupWords)

  val entries: Map[String, Op] = Map(
    "llm_suffix_lrs" -> Op(suffixLrs,
      s"""WITH $lcpChainSql,
         cand AS (
           SELECT 'any' AS scope, i, doc_a, pos_a, doc_b, pos_b, lcp
             FROM (SELECT * FROM lcp ORDER BY lcp DESC, i ASC LIMIT 1)
           UNION ALL
           SELECT 'cross', i, doc_a, pos_a, doc_b, pos_b, lcp
             FROM (SELECT * FROM lcp WHERE doc_a != doc_b
               ORDER BY lcp DESC, i ASC LIMIT 1))
         SELECT scope, CAST(lcp AS BIGINT) AS lrs_words, doc_a,
           CAST(pos_a AS BIGINT) AS pos_a, doc_b,
           CAST(pos_b AS BIGINT) AS pos_b, doc_a != doc_b AS cross_doc,
           array_to_string(list_slice(dd.ws, pos_a + 1, pos_a + lcp), ' ')
             AS lrs_text
         FROM cand JOIN w dd ON dd.doc_id = cand.doc_a
         ORDER BY scope"""),
    "llm_suffix_coverage" -> Op(suffixCoverage,
      s"""WITH ${levelsChainSql(KCov)},
         dl AS (SELECT l.doc_id, l.pos FROM l$KCov l
           JOIN (SELECT r FROM l$KCov GROUP BY r HAVING COUNT(*) >= 2) sh
             ON sh.r = l.r),
         isl AS (SELECT doc_id, pos, SUM(brk) OVER
             (PARTITION BY doc_id ORDER BY pos) AS island
           FROM (SELECT doc_id, pos, CASE WHEN pos - LAG(pos) OVER
               (PARTITION BY doc_id ORDER BY pos) > $MinDupWords
             THEN 1 ELSE 0 END AS brk FROM dl)),
         sp AS (SELECT doc_id, island, MIN(pos) AS sp_s,
             MAX(pos) + ${MinDupWords - 1} AS sp_e
           FROM isl GROUP BY 1, 2)
         SELECT sp.doc_id, d.nw AS n_words,
           CAST(COUNT(*) AS BIGINT) AS n_dup_spans,
           CAST(SUM(sp_e - sp_s + 1) AS BIGINT) AS dup_words,
           round(CAST(SUM(sp_e - sp_s + 1) AS DOUBLE) / d.nw, 6) AS dup_ratio
         FROM sp JOIN d ON d.doc_id = sp.doc_id
         GROUP BY sp.doc_id, d.nw
         ORDER BY sp.doc_id"""),
  )
}
