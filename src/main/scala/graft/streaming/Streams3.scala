package graft.streaming

import graft.functions.ArrayMath.round6
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.OutputMode

/** Round-15 streaming twin for the exact-substring dedup family. */
object Streams3 {

  /** One K-word shingle start of an arriving document (hash computed
    * row-locally with [[graft.Tables.h48jvm]] — the bit-parity-tested
    * JVM twin of the SQL shingle hash in
    * [[graft.ops.Llm10.shingleStarts]], so batch and stream agree on
    * every key by construction). */
  case class ShingleRow(sh: Long, doc_id: Long, nw: Long, pos: Long)

  /** A shingle start flagged as duplicated-vs-prefix: some strictly
    * earlier occurrence (earlier doc, or earlier position of the same
    * doc) already claimed this shingle. */
  case class DupFlag(doc_id: Long, nw: Long, pos: Long)

  /** L365 — ONLINE exact-substring dedup (the live form of
    * [[graft.ops.Llm10.dedupSubstringIncr]], L364's keep-first prefix
    * semantics replayed one arriving document at a time — the form a
    * crawl pipeline actually wants: the moment a page arrives, which
    * of its spans are verbatim copies of anything already ingested?).
    * Each arriving doc explodes row-locally into its K-word shingle
    * starts; state is keyed by the SHINGLE HASH (the same
    * collision-proportional key discipline as batch — state size is
    * DISTINCT-shingle-bounded, the deduped corpus's own vocabulary,
    * never the token stream) holding the first-claimant (doc, pos) as
    * a ValueState; every later occurrence emits a [[DupFlag]].
    * Intra-batch occurrences fold in (doc_id, pos) order, so a
    * micro-batch boundary can never change which occurrence is the
    * keeper — the twin table pins the streamed flags' per-doc span
    * merge equal to the batch `llm_dedup_substring_incr` rows across
    * RocksDB micro-batches. */
  def substrDedupTws(docs: Dataset[(Long, String)]): Dataset[DupFlag] = {
    import docs.sparkSession.implicits._
    val k = graft.ops.Llm10.ShingleK
    docs
      .flatMap { case (id, text) =>
        val w = text.split(" ", -1)
        val nw = w.length.toLong
        if (w.length < k) Iterator.empty
        else (0 to w.length - k).iterator.map(i =>
          ShingleRow(graft.Tables.h48jvm(w.slice(i, i + k).mkString(" ")),
            id, nw, i.toLong))
      }
      .groupByKey(_.sh)
      .transformWithState(new SubstrProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** One frame of one video arriving on the stream (the payload is
    * synthesized + decoded row-locally through the SAME
    * [[graft.ops.MmVideo]] code path as batch — zero drift). */
  case class FrameEvent(doc_id: Long, frame_no: Int)
  case class CutAlert(doc_id: Long, frame_no: Long, sad: Long)

  /** L369 — ONLINE shot-boundary detection (the live form of
    * [[graft.ops.Mm4.videoSceneCut]]: a cut alerts the moment its
    * frame arrives — the shape a live-ingest pipeline needs to start
    * a new shot record without waiting for the batch sweep). State is
    * keyed by the VIDEO (doc_id) and holds exactly ONE decoded frame —
    * the latest seen (frame_no, 768 grayscale bytes) — so state is
    * one-frame-per-live-video bounded, never the stream; an arriving
    * frame decodes through the real `javax.imageio` reader, SADs
    * against the stored predecessor, alerts on the same ≥ 8·768
    * threshold, and replaces the stored frame. Intra-batch frames fold
    * in frame_no order; a frame whose predecessor index is missing
    * (out-of-contract arrival) is folded into state without alerting
    * rather than SAD'd against a non-adjacent frame — the batch chain
    * only ever compares consecutive frames. The twin table pins the
    * streamed alerts set-equal to the batch `mm_video_scene_cut` rows
    * with micro-batch boundaries cutting videos mid-sequence. */
  def sceneCutTws(frames: Dataset[FrameEvent]): Dataset[CutAlert] = {
    import frames.sparkSession.implicits._
    frames
      .groupByKey(_.doc_id)
      .transformWithState(new SceneCutProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class SceneCutProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, FrameEvent, CutAlert] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var last: streaming.ValueState[(Int, Array[Byte])] = _

    override def init(outputMode: OutputMode,
        timeMode: streaming.TimeMode): Unit =
      last = getHandle.getValueState[(Int, Array[Byte])]("scene_last",
        Encoders.tuple(Encoders.scalaInt, Encoders.BINARY),
        streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[FrameEvent],
        timerValues: streaming.TimerValues): Iterator[CutAlert] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[CutAlert]
      var prev = Option(last.get())
      rows.toSeq.sortBy(_.frame_no).foreach { r =>
        val px = graft.ops.MmVideo.decodeFramePixels(key, r.frame_no)
        prev match {
          case Some((pt, pp)) if pt == r.frame_no - 1 =>
            var sad = 0L
            var i = 0
            while (i < px.length) {
              sad += math.abs((px(i) & 0xff) - (pp(i) & 0xff))
              i += 1
            }
            if (sad >= graft.ops.MmVideo.sadThreshold)
              out += CutAlert(key, r.frame_no.toLong, sad)
          case _ => // first frame of the video, or out-of-contract gap
        }
        prev = Some((r.frame_no, px))
      }
      prev.foreach(last.update)
      out.iterator
    }
  }

  class SubstrProcessor extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, ShingleRow, DupFlag] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var first: streaming.ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode,
        timeMode: streaming.TimeMode): Unit =
      first = getHandle.getValueState[(Long, Long)]("substr_first",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        streaming.TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[ShingleRow],
        timerValues: streaming.TimerValues): Iterator[DupFlag] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[DupFlag]
      var claimed = Option(first.get()).isDefined
      // fold in (doc, pos) order so the keeper is batch-split-invariant
      rows.toSeq.sortBy(r => (r.doc_id, r.pos)).foreach { r =>
        if (claimed) out += DupFlag(r.doc_id, r.nw, r.pos)
        else {
          first.update((r.doc_id, r.pos))
          claimed = true
        }
      }
      out.iterator
    }
  }

  // -------------------------------------------------- Page–Hinkley

  /** One (possibly partial) contribution to an hour's monitored total —
    * partial sums for the same bucket accumulate in state, so a single
    * hour may arrive split across micro-batches. */
  case class HourPoint(bucket_us: Long, x_micro: Long)

  case class PhPoint(rn: Long, bucket_us: Long, x_micro: Long,
    mean_run: Long, m: Long, ph: Long, alarm: Boolean)

  /** L379 — Page–Hinkley change-point monitor ON A STREAM (the live
    * form of [[graft.ops.Stats4.pageHinkley]]: the drift alarm trips
    * the hour the statistic crosses λ, not in tomorrow's batch — which
    * is the whole point of a SEQUENTIAL change detector; Page 1954's
    * test was designed for exactly this one-pass regime, the batch
    * windows are the retrospective replay). Single-model-key
    * `transformWithState`: state = one (n, S, m, m_min) integer tuple
    * plus the open hours' partial micro sums (O(open hours), nothing
    * corpus-proportional). An hour folds into the statistic only when
    * a LATER hour has been seen (hour-close-by-progress — the
    * bounded-drain analogue of an hour watermark, the
    * [[graft.streaming.Streams.holtTws]] convention). Arithmetic is
    * byte-for-byte the batch frame: exact half-up integer-micro
    * running means, 64-bit m and prefix-min — the twin table pins every
    * emitted (rn, mean, m, ph) bit-equal to
    * [[graft.ops.Stats4.pageHinkleyFrameMicro]] across RocksDB
    * micro-batches, including hours split across batch boundaries. */
  def pageHinkleyTws(hours: Dataset[HourPoint],
      lambdaMicro: Long, deltaMicro: Long): Dataset[PhPoint] = {
    import hours.sparkSession.implicits._
    hours
      .groupByKey(_ => 0L)
      .transformWithState(new PageHinkleyProcessor(lambdaMicro, deltaMicro),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** The hour-close-by-progress drain shared by [[PageHinkleyProcessor]]
    * and [[AdwinProcessor]]: adds each row's micro partial to its open
    * hour in `hourSums` — a partial for an hour at or below `frontier` is
    * late for an already-folded hour and dropped — then hands every
    * CLOSED hour (all but the newest open one) in order to
    * `fold(bucket_us, x_micro)`, removes it, and moves the frontier to
    * the last hour folded. Returns whether any hour closed. */
  private def foldClosedHours(rows: Iterator[HourPoint],
      hourSums: org.apache.spark.sql.streaming.MapState[Long, Long],
      frontier: org.apache.spark.sql.streaming.ValueState[Long])(
      fold: (Long, Long) => Unit): Boolean = {
    // exists() guard: ValueState[Long].get() on absent state returns a
    // null that primitive unboxing turns into 0L, so Option(get()) can
    // never yield the MinValue default (round-17 ADVICE)
    val closed = if (frontier.exists()) frontier.get() else Long.MinValue
    rows.foreach { p =>
      if (p.bucket_us > closed) {
        val cur = if (hourSums.containsKey(p.bucket_us))
          hourSums.getValue(p.bucket_us) else 0L
        hourSums.updateValue(p.bucket_us, cur + p.x_micro)
      }
    }
    val open = hourSums.keys().toSeq.sorted
    if (open.length <= 1) return false
    val closing = open.dropRight(1)
    closing.foreach { bucket =>
      fold(bucket, hourSums.getValue(bucket))
      hourSums.removeKey(bucket)
    }
    frontier.update(closing.last)
    true
  }

  class PageHinkleyProcessor(lambdaMicro: Long, deltaMicro: Long)
      extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, HourPoint, PhPoint] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var hourSums: streaming.MapState[Long, Long] = _
    // (n_closed, s_cum, m, m_min) — all exact integer micros
    @transient private var stat:
      streaming.ValueState[(Long, Long, Long, Long)] = _
    // max CLOSED bucket_us — a late partial at or below it would
    // re-create the bucket and fold the hour a SECOND time with a fresh
    // rn (round-16 ADVICE); the hour-close-by-progress contract makes
    // emitted rows immutable, so such partials are dropped (the
    // StlProcessor frontier convention, StreamingSpec-pinned there)
    @transient private var frontier: streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: streaming.TimeMode): Unit = {
      hourSums = getHandle.getMapState[Long, Long]("ph_hour_sums",
        Encoders.scalaLong, Encoders.scalaLong, streaming.TTLConfig.NONE)
      stat = getHandle.getValueState[(Long, Long, Long, Long)]("ph_stat",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
          Encoders.scalaLong, Encoders.scalaLong), streaming.TTLConfig.NONE)
      frontier = getHandle.getValueState[Long]("ph_frontier",
        Encoders.scalaLong, streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[HourPoint],
        timerValues: streaming.TimerValues): Iterator[PhPoint] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[PhPoint]
      var (n, s, m, mMin) =
        Option(stat.get()).getOrElse((0L, 0L, 0L, Long.MaxValue))
      val folded = foldClosedHours(rows, hourSums, frontier) { (bucket, x) =>
        n += 1
        s += x
        val mean = (2 * s + n) / (2 * n)
        m += x - mean - deltaMicro
        if (m < mMin) mMin = m
        val ph = m - mMin
        out += PhPoint(n, bucket, x, mean, m, ph, ph > lambdaMicro)
      }
      if (folded) stat.update((n, s, m, mMin))
      out.iterator
    }
  }

  // ------------------------------------------------------------ ADWIN

  case class AdwinPoint(rn: Long, x: Double, window_len: Long,
    window_mean: Double, n_dropped: Long, shrank: Boolean)

  /** L392 — ADWIN adaptive-window drift detection ON A STREAM (Bifet &
    * Gavaldà SDM 2007 — the SELF-TUNING sibling of the L379
    * Page–Hinkley twin: PH needs δ and λ chosen per series (L378's were
    * measured against this fixture); ADWIN's only knob is a confidence
    * and its window ADAPTS — it grows while the mean is stable and
    * collapses to the post-change regime at a shift, which doubles as
    * a change-point LOCATOR: the post-cut width points at the change).
    * Exponential-histogram state (≤ M buckets per doubling level —
    * O(M log n) for an n-wide window, the paper's bound) + the same
    * hour-close-by-progress drain as the PH/Holt twins. The
    * insert/compress/cut kernel is [[AdwinKernel]], shared verbatim
    * with Round15jSpec's JVM replica; the spec pins chunking
    * invariance, the replica equality, pre-drift stability (no mass
    * drops) and the post-drift window collapse. */
  def adwinTws(hours: Dataset[HourPoint],
      delta: Double = 0.002): Dataset[AdwinPoint] = {
    import hours.sparkSession.implicits._
    hours
      .groupByKey(_ => 0L)
      .transformWithState(new AdwinProcessor(delta),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class AdwinProcessor(delta: Double)
      extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, HourPoint, AdwinPoint] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var hourSums: streaming.MapState[Long, Long] = _
    @transient private var buckets:
      streaming.ListState[(Double, Long, Double, Double)] = _
    @transient private var seen: streaming.ValueState[Long] = _
    // same closed-hour frontier as PageHinkleyProcessor (round-16
    // ADVICE): a late partial for a folded hour must not re-open it
    @transient private var frontier: streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: streaming.TimeMode): Unit = {
      hourSums = getHandle.getMapState[Long, Long]("adwin_hour_sums",
        Encoders.scalaLong, Encoders.scalaLong, streaming.TTLConfig.NONE)
      buckets = getHandle.getListState[(Double, Long, Double, Double)](
        "adwin_buckets",
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong,
          Encoders.scalaDouble, Encoders.scalaDouble),
        streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("adwin_seen",
        Encoders.scalaLong, streaming.TTLConfig.NONE)
      frontier = getHandle.getValueState[Long]("adwin_frontier",
        Encoders.scalaLong, streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[HourPoint],
        timerValues: streaming.TimerValues): Iterator[AdwinPoint] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[AdwinPoint]
      var bs: AdwinKernel.Buckets = buckets.get().toVector
      var n = Option(seen.get()).getOrElse(0L)
      val folded = foldClosedHours(rows, hourSums, frontier) { (_, xMicro) =>
        val x = xMicro / 1e6
        val (nbs, dropped) = AdwinKernel.step(bs, x, delta)
        bs = nbs
        n += 1
        val w = AdwinKernel.width(bs)
        out += AdwinPoint(n, round6(x), w,
          round6(AdwinKernel.total(bs) / w), dropped, dropped > 0)
      }
      if (folded) {
        buckets.put(bs.toArray)
        seen.update(n)
      }
      out.iterator
    }
  }

  // --------------------------------------------- streaming k-center

  case class VecPoint(vec_id: Long, emb: Seq[Double])
  /** Per-point decision log: the algorithm is a sequential fold, so
    * the log is invariant to micro-batch boundaries — which is what
    * the spec pins. */
  case class KcLog(vec_id: Long, action: String, n_centers: Int,
    r2: Double)

  /** L386 — streaming k-center via the DOUBLING algorithm (Charikar,
    * Chekuri, Feder & Motwani STOC 1997 — the one-pass 8-approximation
    * that keeps ≤ k centers in bounded state while the batch greedy
    * L381 needs k full passes; the form an ingest pipeline runs to
    * maintain a diverse representative set as documents arrive).
    * State = the ≤ k center vectors + the current threshold r² (O(k·d)
    * — independent of stream length). Arriving point: if its min d² to
    * the centers exceeds (2r)² it becomes a center; when the set
    * overflows k, r doubles (r² ← 4r²) and the centers are greedily
    * re-filtered in insertion order (keep c iff > 2r from every kept
    * center) — each phase at least halves... the classic argument
    * gives cover radius ≤ 8·OPT. First threshold: when the set first
    * overflows with r = 0, r² seeds at the min pairwise d²/4 of the
    * current centers (the standard init). Points fold in vec_id order
    * within a batch (arrival-order contract, documented); d² uses the
    * same index-order fold + round-6 as L381 so the JVM replica in the
    * spec is bit-exact. Round15hSpec pins: identical decision logs
    * across different micro-batch chunkings, log ≡ a JVM replica,
    * ≤ k centers, and cover radius ≤ 64× the batch-greedy radius in d²
    * (the squared form of the 8× distance guarantee vs greedy ≥ OPT). */
  def kcenterDoublingTws(points: Dataset[VecPoint],
      k: Int): Dataset[KcLog] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_ => 0L)
      .transformWithState(new KcenterDoublingProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class KcenterDoublingProcessor(k: Int)
      extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, VecPoint, KcLog] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var centers: streaming.ListState[VecPoint] = _
    @transient private var r2state: streaming.ValueState[Double] = _

    override def init(outputMode: OutputMode,
        timeMode: streaming.TimeMode): Unit = {
      centers = getHandle.getListState[VecPoint]("kc_centers",
        Encoders.product[VecPoint], streaming.TTLConfig.NONE)
      r2state = getHandle.getValueState[Double]("kc_r2",
        Encoders.scalaDouble, streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[VecPoint],
        timerValues: streaming.TimerValues): Iterator[KcLog] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[KcLog]
      var cs = centers.get().map(c => (c.vec_id, c.emb.toArray)).toVector
      var r2 = Option(r2state.get()).getOrElse(0.0)
      rows.toSeq.sortBy(_.vec_id).foreach { p =>
        val pe = p.emb.toArray
        val (newCs, newR2, action) =
          KcenterDoubling.step(cs, r2, p.vec_id, pe, k)
        cs = newCs; r2 = newR2
        out += KcLog(p.vec_id, action, cs.length, round6(r2))
      }
      centers.put(cs.map(c => VecPoint(c._1, c._2.toSeq)).toArray)
      r2state.update(r2)
      out.iterator
    }
  }

  // --------------------------------------------- source-mix monitor

  /** One arriving document's provenance: ingest-hour bucket + source. */
  case class SourceHour(bucket_us: Long, source: String)

  /** Cumulative mix table emitted when `bucket_us` closes. */
  case class MixPoint(bucket_us: Long, source: String, n_docs: Long,
    p: Double, expected_docs: Long)

  /** L406 — LIVE temperature source-mix rebalancing (the streaming form
    * of L133's `llm_temperature_mix`: the per-source sampling weights
    * p_s ∝ n_s^0.5 a pretraining sampler consumes, re-emitted as each
    * ingest hour CLOSES so the sampler always reads a consistent,
    * immutable snapshot). Same hour-close-by-progress frontier as the
    * PH/ADWIN twins (an hour folds into the cumulative per-source
    * totals exactly once; late partials for folded hours drop), and
    * the weight arithmetic replays the batch query bit-for-bit: each
    * √n quantized to DECIMAL(18,6) HALF_UP before the total (the
    * `dsum` convention — order-free), p = round(√n/T, 6), expected
    * docs = round(1000·√n/T) — so after the last fixture hour closes
    * the emitted table IS the batch frame (the twin table pins it).
    * State is source-cardinality-bounded (cumulative totals) plus the
    * open hours' partial counts — never the document stream. */
  def sourceMixTws(docs: Dataset[SourceHour]): Dataset[MixPoint] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(_ => 0L)
      .transformWithState(new SourceMixProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class SourceMixProcessor
      extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, SourceHour, MixPoint] {
    import org.apache.spark.sql.{Encoders, streaming}
    // open-hour partial counts, keyed (bucket_us, source)
    @transient private var hourCounts:
      streaming.MapState[(Long, String), Long] = _
    // cumulative per-source doc totals over CLOSED hours
    @transient private var totals: streaming.MapState[String, Long] = _
    @transient private var frontier: streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: streaming.TimeMode): Unit = {
      hourCounts = getHandle.getMapState[(Long, String), Long](
        "mix_hour_counts",
        Encoders.tuple(Encoders.scalaLong, Encoders.STRING),
        Encoders.scalaLong, streaming.TTLConfig.NONE)
      totals = getHandle.getMapState[String, Long]("mix_totals",
        Encoders.STRING, Encoders.scalaLong, streaming.TTLConfig.NONE)
      frontier = getHandle.getValueState[Long]("mix_frontier",
        Encoders.scalaLong, streaming.TTLConfig.NONE)
    }

    /** The batch `temperatureMix` arithmetic on the current totals:
      * √n per source, DECIMAL(18,6) HALF_UP quantization into the
      * total (order-free — summed in sorted-source order for
      * determinism anyway), round-6 p, round-0 expected docs. */
    private def mixRows(bucket: Long): Seq[MixPoint] = {
      val ts = totals.iterator().map(p => (p._1, p._2)).toSeq.sortBy(_._1)
      val tw = ts.map { case (_, n) =>
        BigDecimal(math.sqrt(n.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      val twD = tw.toDouble
      ts.map { case (src, n) =>
        val wt = math.sqrt(n.toDouble)
        val p = round6(wt / twD)
        val exp = BigDecimal(wt / twD * 1000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        MixPoint(bucket, src, n, p, exp)
      }
    }

    override def handleInputRows(key: Long, rows: Iterator[SourceHour],
        timerValues: streaming.TimerValues): Iterator[MixPoint] = {
      // exists() guard: ValueState[Long].get() on absent state returns a
      // null that primitive unboxing turns into 0L (round-17 ADVICE)
      val closed = if (frontier.exists()) frontier.get() else Long.MinValue
      rows.foreach { d =>
        if (d.bucket_us > closed) {
          val k = (d.bucket_us, d.source)
          val cur = if (hourCounts.containsKey(k)) hourCounts.getValue(k) else 0L
          hourCounts.updateValue(k, cur + 1L)
        } // else: late arrival for an already-published hour — dropped
      }
      val open = hourCounts.keys().map(_._1).toSeq.distinct.sorted
      if (open.length <= 1) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[MixPoint]
      open.dropRight(1).foreach { bucket => // fold every CLOSED hour
        hourCounts.iterator().filter(_._1._1 == bucket).toSeq
          .foreach { case ((b, src), n) =>
            val cur = if (totals.containsKey(src)) totals.getValue(src) else 0L
            totals.updateValue(src, cur + n)
            hourCounts.removeKey((b, src))
          }
        out ++= mixRows(bucket)
      }
      frontier.update(open.dropRight(1).last)
      out.iterator
    }
  }
}

/** ADWIN0 kernel (Bifet & Gavaldà SDM 2007 "Learning from
  * time-changing data with adaptive windowing") — the SELF-TUNING
  * drift detector beside the fixed-threshold Page–Hinkley twin (L379
  * needs δ and λ chosen per series; ADWIN's only knob is the
  * confidence δ, and its window width ADAPTS: it grows while the mean
  * is stable and collapses to the post-change regime when it is not).
  * Exponential-histogram state: buckets of doubling capacity, ≤ M per
  * level — O(M·log n) state for an n-item window, the paper's bound.
  * A cut drops the oldest bucket whenever some suffix/prefix split
  * has |μ₀ − μ₁| ≥ ε_cut(m, δ) with m the harmonic mean of the two
  * sizes. Shared verbatim by the streaming processor and the
  * Round15jSpec JVM replica. */
object AdwinKernel {
  final val MaxPerLevel = 5

  /** (sum, size, min, max) buckets, NEWEST FIRST; size is a power of
    * two. min/max ride along because the Hoeffding cut bound assumes
    * range-[0,1] values — ε_cut scales by the window's observed range
    * (the standard generalization for unnormalized inputs). */
  type Buckets = Vector[(Double, Long, Double, Double)]

  def width(bs: Buckets): Long = bs.map(_._2).sum
  def total(bs: Buckets): Double = bs.map(_._1).sum
  def range(bs: Buckets): Double =
    if (bs.isEmpty) 0.0 else bs.map(_._4).max - bs.map(_._3).min

  /** Merge the two OLDEST buckets of any over-full level (smallest
    * first — a merge can overflow the next level up) until every level
    * holds ≤ M buckets. Buckets are age-ordered (newest first) with
    * capacity non-decreasing toward the old end, so same-level buckets
    * are adjacent and the merged bucket keeps its age position. */
  private def compress(bs0: Buckets): Buckets = {
    var bs = bs0
    var merged = true
    while (merged) {
      merged = false
      val over = bs.groupBy(_._2).filter(_._2.length > MaxPerLevel).keys
      if (over.nonEmpty) {
        val cap = over.min
        val idxs = bs.zipWithIndex.filter(_._1._2 == cap).map(_._2)
        val (i1, i2) = (idxs(idxs.length - 2), idxs.last)
        val m = (bs(i1)._1 + bs(i2)._1, cap * 2,
          math.min(bs(i1)._3, bs(i2)._3), math.max(bs(i1)._4, bs(i2)._4))
        bs = ((bs.take(i1) :+ m) ++ bs.slice(i1 + 1, i2) ++
          bs.drop(i2 + 1))
        merged = true
      }
    }
    bs
  }

  /** Insert one value, compress, then drop old buckets while any split
    * violates the ADWIN cut condition. Returns (buckets, n_dropped). */
  def step(bs0: Buckets, x: Double, delta: Double): (Buckets, Long) = {
    var bs = compress((x, 1L, x, x) +: bs0)
    var dropped = 0L
    var cutting = true
    while (cutting && bs.length > 1) {
      cutting = false
      val n = width(bs).toDouble
      val r = range(bs)
      // splits between buckets, oldest side = suffix
      var s1 = 0.0; var n1 = 0L // newest side accumulators
      var i = 0
      while (i < bs.length - 1 && !cutting) {
        s1 += bs(i)._1; n1 += bs(i)._2
        val n0 = width(bs) - n1
        val s0 = total(bs) - s1
        val mu1 = s1 / n1
        val mu0 = s0 / n0
        val mHarm = 1.0 / (1.0 / n0 + 1.0 / n1)
        val eps = r * math.sqrt(1.0 / (2.0 * mHarm) *
          math.log(4.0 * n / delta))
        if (math.abs(mu0 - mu1) >= eps) {
          dropped += bs.last._2
          bs = bs.dropRight(1)
          cutting = true
        }
        i += 1
      }
    }
    (bs, dropped)
  }
}

/** The doubling-step kernel, shared verbatim by the streaming
  * processor and the Round15hSpec JVM replica (zero drift by
  * construction). */
object KcenterDoubling {


  /** Round-6 squared distance with the index-order dot fold (the L381
    * ArrayMath parity order). */
  def d2(a: Array[Double], b: Array[Double]): Double = {
    def dot(x: Array[Double], y: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * y(i); i += 1 }
      s
    }
    round6(dot(a, a) + dot(b, b) - 2.0 * dot(a, b))
  }

  /** One point through the doubling algorithm; returns (centers, r²,
    * action). */
  def step(cs: Vector[(Long, Array[Double])], r2in: Double, id: Long,
      pe: Array[Double], k: Int): (Vector[(Long, Array[Double])], Double, String) = {
    var centers = cs
    var r2 = r2in
    val minD2 = if (centers.isEmpty) Double.MaxValue
      else centers.map(c => d2(c._2, pe)).min
    if (minD2 <= 4.0 * r2 && centers.nonEmpty)
      return (centers, r2, "assigned")
    centers = centers :+ ((id, pe))
    var action = "center_added"
    while (centers.length > k) {
      // overflow: double the threshold (seed it from the min pairwise
      // d² on the first overflow, while r = 0) and greedily re-filter
      // in insertion order
      r2 = if (r2 == 0.0)
        (for (i <- centers.indices; j <- i + 1 until centers.length)
          yield d2(centers(i)._2, centers(j)._2)).min / 4.0
      else 4.0 * r2
      val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
      centers.foreach { c =>
        if (kept.forall(kc => d2(kc._2, c._2) > 4.0 * r2)) kept += c
      }
      centers = kept.toVector
      action = "merged_phase"
    }
    (centers, r2, action)
  }
}
