package graft.streaming

import graft.functions.ArrayMath.round6
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Round-14 streaming twins for the round-12 analytics tier (VERDICT r13
  * #3): the HBOS multivariate anomaly scorer, the STL daily decomposition
  * + residual monitor, and the golden-record survivorship ledger — each
  * the live form of an already-oracled batch query, arithmetic shared or
  * mirrored byte-for-byte so the twin table can pin batch ≡ stream across
  * RocksDB micro-batch boundaries.
  *
  * The deployment split these twins encode is the standard one: the
  * EXPENSIVE corpus-wide statistics (histograms, seasonal profile,
  * robust location/scale, entity clustering) are trained in batch and
  * FROZEN into the stream as references, while the stream does the
  * row-local / keyed-state part that must be live (scoring, day-close
  * folding, ledger upserts). That is exactly how L273's PSI monitor
  * already ships its reference distribution. */
object Streams2 {
  import Streams.{Event, micro, microsOf}

  // ----------------------------------------------------------------- HBOS

  /** L337 streaming twin — HBOS anomaly scoring ON A STREAM (the live
    * form of [[graft.ops.Audit.hbosAnomaly]]: events are scored the
    * moment they arrive against FROZEN per-feature histograms, instead
    * of in tomorrow's batch sweep — the L273 PSI deployment shape with
    * the reference on the other side of the join). The histograms
    * (trained upstream by [[graft.ops.Audit.hbosFeatures]] /
    * [[graft.ops.Audit.hbosHist]] — the same projection the batch
    * scorer uses, so the binning cannot drift) enter as ≤24-row
    * broadcast stream-static joins; the −ln(n/N) fold is row-local and
    * round-6 exactly like the batch column. Stateless append stream —
    * scoring cost per event is three broadcast-hash probes at any
    * scale. Events whose bin is ABSENT from a reference histogram are
    * the most anomalous ones a monitor can see, so they must not
    * vanish: the joins are LEFT joins and a missing bin scores at the
    * maximum surprise the reference can express — count 1 of N, i.e.
    * −ln(1/N) — with `novel_bin` set so the reader can split
    * "high-scoring trained bin" from "bin the reference never saw"
    * (round-15 ADVICE fix; the twin table pins the covered-bin
    * batch≡stream equality, StreamingSpec the novel-bin path). Global top-k is
    * the batch query's job; the stream emits every score. */
  def hbosScored(events: DataFrame, hodHist: DataFrame, dowHist: DataFrame,
      vbandHist: DataFrame, nTotal: Long): DataFrame = {
    val ev = events.select(col("event_id"),
      hour(col("ts")).as("hod"),
      dayofweek(col("ts")).as("dow"),
      least(floor(col("value") / 20.0).cast("long"), lit(9L)).as("vband"))
    def nll(c: String) = round(-log(coalesce(col(s"n_$c"), lit(1L))
      .cast("double") / lit(nTotal).cast("double")), 6)
    ev
      .join(broadcast(hodHist), Seq("hod"), "left")
      .join(broadcast(dowHist), Seq("dow"), "left")
      .join(broadcast(vbandHist), Seq("vband"), "left")
      .select(col("event_id"), col("hod"), col("dow"), col("vband"),
        round(nll("hod") + nll("dow") + nll("vband"), 6).as("hbos_score"),
        (col("n_hod").isNull || col("n_dow").isNull ||
          col("n_vband").isNull).as("novel_bin"))
  }

  // ------------------------------------------------------------ STL daily

  case class StlPoint(day_num: Long, dow: Long, x: Double, trend: Double,
    seasonal: Double, residual: Double, robust_z: Double, is_anomaly: Boolean)

  /** L339/L343 streaming twin — STL daily decomposition + residual
    * anomaly ON A STREAM (the live form of [[graft.ops.Audit.stlDaily]]
    * composed with [[graft.ops.Audit.stlResidualAnomaly]]'s scorer: the
    * decomposition row for a day emits as soon as its centered 7-row
    * trend window CLOSES, instead of in tonight's batch — the L288
    * Holt day-close shape extended from a trailing to a CENTERED
    * window). Keyed to the single series key; state is the day →
    * micro-unit revenue sum map (calendar-bounded — the same bound the
    * batch day frame carries) plus the emit cursor. A day-row emits
    * when its 3 successor day-rows exist AND are closed
    * (day-close-by-progress: a later day has been seen), so at any
    * fixture cut the stream has emitted exactly the batch frame minus
    * its final row — the twin table pins that alignment bit-for-bit.
    * The weekly seasonal profile and the robust location/scale
    * (median, MAD) are corpus statistics: trained in batch, frozen in
    * as references (the L273 PSI convention); the residual and its
    * Iglewicz–Hoaglin robust z mirror the batch arithmetic exactly
    * (micro-long day sums = dsum; round-6 at the same five sites;
    * 0.6745·(r−med)/mad with the same operation order; z = 0 at
    * MAD 0). The day-close-by-progress contract is ENFORCED, not
    * merely documented (round-15 ADVICE fix): once a day's row has
    * been emitted, every day its centered window consumed (up to 3
    * successors past the emitted day) is frozen at a `frontier`
    * day-number in state, and any later-arriving event at or below the
    * frontier is DROPPED — previously such an event silently mutated an
    * already-emitted trend or, worse, created a new earlier day that
    * shifted the positional cursor so rows re-emitted or skipped. Late
    * events for days ABOVE the frontier (closed by progress but not yet
    * consumed by any emitted window) still fold in — their rows have
    * not been published, so folding is the correct, more-complete
    * answer. StreamingSpec pins both sides of the frontier. */
  def stlDailyTws(orders: Dataset[Event], seasonalByDow: Map[Long, Double],
      med: Double, mad: Double): Dataset[StlPoint] = {
    import orders.sparkSession.implicits._
    orders
      .groupByKey(_ => 0L)
      .transformWithState(new StlProcessor(seasonalByDow, med, mad),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class StlProcessor(seasonalByDow: Map[Long, Double], med: Double,
      mad: Double)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, StlPoint] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var daySums: streaming.MapState[Long, Long] = _
    @transient private var nextIdx: streaming.ValueState[Long] = _
    // highest day-number consumed by an emitted window; events at or
    // below it are late beyond repair and are dropped (scaladoc above)
    @transient private var frontier: streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit = {
      daySums = getHandle.getMapState[Long, Long]("stl_day_sums",
        Encoders.scalaLong, Encoders.scalaLong, streaming.TTLConfig.NONE)
      nextIdx = getHandle.getValueState[Long]("stl_next_idx",
        Encoders.scalaLong, streaming.TTLConfig.NONE)
      frontier = getHandle.getValueState[Long]("stl_frontier_day",
        Encoders.scalaLong, streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: streaming.TimerValues): Iterator[StlPoint] = {
      val frozen = Option(frontier.get()).filter(_ != 0L)
        .getOrElse(Long.MinValue)
      rows.foreach { e =>
        val day = math.floorDiv(microsOf(e.ts), 86400000000L)
        if (day > frozen) {
          val cur = if (daySums.containsKey(day)) daySums.getValue(day) else 0L
          daySums.updateValue(day, cur + micro(e.value))
        } // else: late past the frontier — emitted rows are immutable
      }
      val days = daySums.keys().toSeq.sorted
      // all but the max seen day are CLOSED (their sums are final)
      val nClosed = days.length - 1
      var k = Option(nextIdx.get()).filter(_ > 0).getOrElse(3L).toInt
      val out = scala.collection.mutable.ArrayBuffer.empty[StlPoint]
      while (k + 3 <= nClosed - 1) {
        val x = round6(daySums.getValue(days(k)) / 1e6)
        val sum7 = (k - 3 to k + 3).map(j => daySums.getValue(days(j))).sum
        val trend = round6(sum7 / 1e6 / 7.0)
        val detr = round6(x - trend)
        val dow = Math.floorMod(days(k) + 4, 7L)
        val seasonal = seasonalByDow.getOrElse(dow, 0.0)
        val residual = round6(detr - seasonal)
        val z = if (mad != 0.0) round6(0.6745 * (residual - med) / mad) else 0.0
        out += StlPoint(days(k), dow, x, trend, seasonal, residual, z,
          math.abs(z) > 3.5)
        k += 1
      }
      nextIdx.update(k.toLong)
      // the last emitted index k-1 consumed days up to index k+2
      if (out.nonEmpty) frontier.update(days(k + 2))
      out.iterator
    }
  }

  // -------------------------------------------------- image aHash dedup

  case class BandKeyed(band_no: Int, bv: Int, doc_id: Long,
    b0: Int, b1: Int, b2: Int, b3: Int)
  case class AHashAlert(d1: Long, d2: Long, hamming: Int)

  /** L354 streaming twin — ONLINE perceptual-hash image near-dup
    * detection (the live form of [[graft.ops.Mm2.imageAHashDedup]]: a
    * crawled image alerts against everything already ingested the
    * moment it arrives, instead of waiting for tonight's batch sweep —
    * the L160 streaming-SNM design applied to the image modality).
    * Each arriving image decodes + hashes ROW-LOCALLY (the same real
    * `javax.imageio` round-trip and exact-integer aHash as batch,
    * via [[graft.ops.MmAHash]] — shared code, zero drift) and fans
    * into its 4 band buckets; per-bucket RocksDB ListState holds the
    * (doc, hash) members, so state is bucket-occupancy-bounded, never
    * the corpus. A new member alerts (d1 < d2, exact Hamming ≤ 8)
    * against its bucket's existing members — the same candidate
    * semantics as the batch band join, so streamed DISTINCT alerts
    * equal the batch candidate-pair verdicts exactly (a pair sharing
    * two bands may alert from both buckets; the batch `distinct` is
    * the reader's, mirrored in the spec).
    *
    * RETENTION (round-15 fix — r14 shipped `TTLConfig.NONE` with no
    * knob, so total state grew with the corpus forever): each bucket
    * keeps at most `maxPerBucket` members, evicting OLDEST-FIRST when a
    * new member lands in a full bucket — the deterministic form of a
    * TTL (a crawl's arrival order IS its time axis, and a count bound
    * is testable where a wall-clock TTL is flaky), giving the hard
    * state-size bound `4 buckets/doc × maxPerBucket × |occupied
    * buckets|` rows, independent of corpus length. The semantic
    * contract under eviction: a new image alerts against the most
    * recent `maxPerBucket` same-bucket members only — exactly the
    * sliding-window dedup guarantee streaming-SNM (L160) already
    * documents for text. Default `Int.MaxValue` preserves the
    * exact-batch-equality mode (the twin table's batch≡stream pin);
    * the eviction leg pins that a replica beyond the horizon no longer
    * alerts while one inside it still does. */
  def imageAHashTws(docIds: Dataset[Long],
      maxPerBucket: Int = Int.MaxValue): Dataset[AHashAlert] = {
    import docIds.sparkSession.implicits._
    docIds
      .flatMap { id =>
        val h = graft.ops.MmAHash.decodeHash(id,
          graft.ops.MmAHash.synthesize(id))
        val bs = Array(h.b0, h.b1, h.b2, h.b3)
        (0 until 4).map(i =>
          BandKeyed(i, bs(i), id, h.b0, h.b1, h.b2, h.b3))
      }
      .groupByKey(r => (r.band_no, r.bv))
      .transformWithState(new AHashProcessor(maxPerBucket),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class AHashProcessor(maxPerBucket: Int = Int.MaxValue)
      extends org.apache.spark.sql.streaming.StatefulProcessor[(Int, Int), BandKeyed, AHashAlert] {
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var seen:
      streaming.ListState[(Long, Int, Int, Int, Int)] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit =
      seen = getHandle.getListState[(Long, Int, Int, Int, Int)]("ahash_seen",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt,
          Encoders.scalaInt, Encoders.scalaInt, Encoders.scalaInt),
        streaming.TTLConfig.NONE)

    override def handleInputRows(key: (Int, Int), rows: Iterator[BandKeyed],
        timerValues: streaming.TimerValues): Iterator[AHashAlert] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[AHashAlert]
      // ListState preserves append order, so the buffer is the bucket's
      // arrival history — index 0 is the oldest member
      val members = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Int, Int, Int)] ++= seen.get()
      val atEntry = members.length
      // fold in doc order so an intra-batch pair alerts exactly once
      rows.toSeq.sortBy(_.doc_id).foreach { r =>
        val mine = Array(r.b0, r.b1, r.b2, r.b3)
        // alert only against the newest maxPerBucket members (the
        // retention horizon also applies within a micro-batch)
        members.drop(math.max(0, members.length - maxPerBucket))
          .foreach { case (d, a0, a1, a2, a3) =>
            if (d != r.doc_id) {
              val ham = Integer.bitCount(a0 ^ mine(0)) +
                Integer.bitCount(a1 ^ mine(1)) +
                Integer.bitCount(a2 ^ mine(2)) +
                Integer.bitCount(a3 ^ mine(3))
              if (ham <= 8)
                out += AHashAlert(math.min(d, r.doc_id),
                  math.max(d, r.doc_id), ham)
            }
          }
        members += ((r.doc_id, r.b0, r.b1, r.b2, r.b3))
      }
      if (members.length > maxPerBucket) {
        // eviction: full rewrite with the newest maxPerBucket only
        seen.clear()
        members.takeRight(maxPerBucket).foreach(seen.appendValue)
      } else {
        // fast path: append-only write for the new members
        members.drop(atEntry).foreach(seen.appendValue)
      }
      out.iterator
    }
  }

  // ------------------------------------------------------- golden record

  case class DocMember(doc_id: Long, n_chars: Long, source: String,
    cluster: Long)
  case class GoldenUpsert(cluster: Long, n_members: Long, golden_doc: Long,
    golden_chars: Long, majority_source: String, min_doc: Long,
    max_doc: Long, total_chars: Long)

  /** L342 streaming twin — golden-record survivorship ledger ON A
    * STREAM (the live form of [[graft.ops.Er.goldenRecord]]: the MDM
    * serving table updates the moment a matched member arrives, instead
    * of being republished by tonight's batch merge — the L142/A10
    * upsert-publish shape with the merge INSIDE keyed state). Cluster
    * assignment is the frozen output of the batch matcher (SNM pairs →
    * [[graft.ops.Llm3.componentLabelsDf]]) joined on upstream — online
    * ER re-clustering is a different operator (the streaming-SNM row
    * covers candidate generation live). Per-cluster state is the
    * CURRENT golden row (longest member with doc_id tiebreak, id span,
    * member count, total chars) plus the source tally map for the
    * majority vote — all order-independent folds, so any arrival order
    * and any micro-batch split converge to the batch survivorship
    * (the twin table pins the final upsert per cluster row-equal to the
    * batch query). One upsert emits per cluster per micro-batch touched
    * — the ledger contract; the batch key's multi-member-only filter is
    * the reader's, mirrored in the spec. */
  def goldenRecordTws(members: Dataset[DocMember]): Dataset[GoldenUpsert] = {
    import members.sparkSession.implicits._
    members
      .groupByKey(_.cluster)
      .transformWithState(new GoldenProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  class GoldenProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, DocMember, GoldenUpsert] {
    import org.apache.spark.sql.{Encoders, streaming}
    // (golden_doc, golden_chars, n_members, min_doc, max_doc, total_chars)
    @transient private var cur: streaming.ValueState[GoldenUpsert] = _
    @transient private var srcCounts: streaming.MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: streaming.TimeMode): Unit = {
      cur = getHandle.getValueState[GoldenUpsert]("golden_cur",
        Encoders.product[GoldenUpsert], streaming.TTLConfig.NONE)
      srcCounts = getHandle.getMapState[String, Long]("golden_sources",
        Encoders.STRING, Encoders.scalaLong, streaming.TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[DocMember],
        timerValues: streaming.TimerValues): Iterator[GoldenUpsert] = {
      var st = Option(cur.get())
      rows.foreach { m =>
        val n = if (srcCounts.containsKey(m.source))
          srcCounts.getValue(m.source) else 0L
        srcCounts.updateValue(m.source, n + 1)
        st = Some(st match {
          case None => GoldenUpsert(key, 1L, m.doc_id, m.n_chars, "",
            m.doc_id, m.doc_id, m.n_chars)
          case Some(g) =>
            val better = m.n_chars > g.golden_chars ||
              (m.n_chars == g.golden_chars && m.doc_id < g.golden_doc)
            g.copy(
              n_members = g.n_members + 1,
              golden_doc = if (better) m.doc_id else g.golden_doc,
              golden_chars = if (better) m.n_chars else g.golden_chars,
              min_doc = math.min(g.min_doc, m.doc_id),
              max_doc = math.max(g.max_doc, m.doc_id),
              total_chars = g.total_chars + m.n_chars)
        })
      }
      st match {
        case None => Iterator.empty
        case Some(g) =>
          // majority vote resolved at emit time from the tally map
          // (count desc, lexicographic tiebreak — the batch rule)
          val maj = srcCounts.iterator().toSeq
            .sortBy { case (s, n) => (-n, s) }.head._1
          val resolved = g.copy(majority_source = maj)
          cur.update(resolved)
          Iterator.single(resolved)
      }
    }
  }
}
