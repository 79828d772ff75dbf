package graft.streaming

import java.sql.Date

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.fraud.Claims

/** Structured-Streaming twin of the reference's only interactive entry
  * point — the upload→score loop (reference app.py:13-28, where each
  * browser upload lands a CSV and triggers a batch run). Here the
  * landing directory IS the stream: a file source watches it and every
  * new CSV becomes a micro-batch (SURVEY §2.1 S3, §3 E1).
  *
  * Semantics vs the batch pipeline (documented divergences — SURVEY
  * §7.4-4): batch rules are retrospective over the whole file, a stream
  * can only know its prefix. So DuplicateAadhaar/FrequentClaims fire
  * from per-Aadhaar state accumulated so far, and the dataset-relative
  * thresholds (p99 amount) must be supplied as fitted constants — the
  * explicit "fitted-threshold mode" the survey called for. MultiAadhaar
  * (>1 Aadhaar per NAME) is keyed by Name, and one streaming query
  * cannot chain a second flatMapGroupsWithState after this one — run
  * the mirror-keyed variant as a parallel query over the same landing
  * dir and union the tag columns downstream; this twin implements the
  * Aadhaar-keyed rules only.
  *
  * Scale: state lives per key and is bounded — the first name (or
  * Aadhaar) seen, a "second distinct value seen" bit and the last claim
  * time — partitioned by the stream's groupBy key: no driver state, no
  * global shuffle beyond the keyed exchange every stateful op needs. A
  * watermark + event-time timeout expires keys idle past the lateness
  * horizon, bounding the state store. Without no-data micro-batches
  * (`graft.Sessions.local`) a key expires at the first data batch after
  * the watermark passes its horizon, one batch later than with them;
  * the tags do not change, because a key's state is read as absent once
  * the watermark has passed its horizon, whether or not Spark has timed
  * it out yet.
  *
  * The state schema changed from a set of names (Aadhaars) to the flat
  * form: a checkpoint written with the set-shaped state cannot be
  * restarted by this code; start such a query from a new checkpoint.
  */
object StreamingFraud {

  /** One claim on the wire (Date widened to epochDay; timestamp carries
    * the event-time watermark). */
  final case class ClaimEvent(
      Name: String, Aadhaar: Long, ClaimAmount: Double,
      SubsidyType: String, Date: java.sql.Timestamp)

  final case class TaggedClaim(
      Name: String, Aadhaar: Long, ClaimAmount: Double,
      SubsidyType: String, Date: java.sql.Timestamp, RuleFraud: String)

  /** Per-Aadhaar state: the first claimant name (may be NULL), whether a
    * different name (NULL counts as a name) has been seen since, and the
    * last claim date (epoch day). Exists once the key has a claim. */
  final case class AadhaarState(firstName: String, manyNames: Boolean, lastEpochDay: Long)

  val StateRetention = "30 days"
  private val DayMs = 86400000L
  private val RetentionMs = 30L * DayMs

  /** One key's turn in a micro-batch of a fraud twin. A timed-out key
    * is dropped and emits nothing. Otherwise `tag` folds the key's claims
    * from its state — None before its first claim, and None once the
    * watermark has passed its last claim (`lastMs`) + retention, since
    * Spark times such a key out only in a batch without data for it —
    * and the new state expires once the watermark passes that horizon;
    * the event-time base (not the current watermark, which is 0 on the
    * first batch) keeps fresh state from timing out immediately. */
  private def expiringKey[S](state: GroupState[S], lastMs: S => Long)(
      tag: Option[S] => (Option[S], Seq[TaggedClaim])): Iterator[TaggedClaim] =
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val wm = state.getCurrentWatermarkMs()
      val (st, out) = tag(state.getOption.filter(s => lastMs(s) + RetentionMs >= wm))
      st.foreach { s =>
        state.update(s)
        state.setTimeoutTimestamp(math.max(wm + 1, lastMs(s) + RetentionMs))
      }
      out.iterator
    }

  /** The Aadhaar-keyed rules over one batch of a key's claims, in event
    * time order, from the key's state before the batch (None: no claim
    * yet): the state after the batch and each claim's tags. */
  private[streaming] def tagClaims(
      aadhaar: Long,
      prev: Option[AadhaarState],
      rows: Seq[ClaimEvent],
      highClaimThreshold: Double): (Option[AadhaarState], Seq[TaggedClaim]) = {
    var st = prev
    val out = rows.sortBy(_.Date.getTime).map { c =>
      val epochDay = c.Date.getTime / DayMs
      // Late-event semantics: state tracks only the max epochDay seen, so
      // a cross-batch out-of-order claim (still inside the watermark) has
      // no recorded predecessor — it is tagged against the max-seen day
      // ONLY when it is not older than it (a negative gap would otherwise
      // satisfy <= 7 vacuously). Older stragglers get no FrequentClaims
      // tag; the batch pipeline (retrospective, fully sorted) is the
      // authority for exact gaps.
      val freq = st.exists(s => epochDay >= s.lastEpochDay && epochDay - s.lastEpochDay <= 7)
      val next = st.fold(AadhaarState(c.Name, manyNames = false, epochDay))(s =>
        AadhaarState(s.firstName, s.manyNames || s.firstName != c.Name,
          math.max(s.lastEpochDay, epochDay)))
      st = Some(next)
      val high = c.ClaimAmount > highClaimThreshold
      val tags = (if (next.manyNames) "DuplicateAadhaar;" else "") +
        (if (high) "HighClaimAmount;" else "") +
        (if (freq) "FrequentClaims;" else "")
      TaggedClaim(c.Name, aadhaar, c.ClaimAmount, c.SubsidyType, c.Date,
        if (tags.isEmpty) "Normal" else tags)
    }
    (st, out)
  }

  /** Core transform: a (streaming or batch) claims Dataset → per-claim
    * rule tags from keyed state. Pure function of the input stream, so
    * MemoryStream tests and the file-source entry share it. */
  def withRuleTags(claims: Dataset[ClaimEvent],
                   highClaimThreshold: Double): Dataset[TaggedClaim] = {
    import claims.sparkSession.implicits._
    claims
      .withWatermark("Date", StateRetention)
      .groupByKey(_.Aadhaar)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (k: Long, rows: Iterator[ClaimEvent], state: GroupState[AadhaarState]) =>
          expiringKey(state, (s: AadhaarState) => s.lastEpochDay * DayMs)(
            tagClaims(k, _, rows.toSeq, highClaimThreshold)))
  }

  /** Per-Name state: the first Aadhaar, whether a different Aadhaar has
    * been seen since, and the last claim time (epoch ms). */
  final case class NameState(firstAadhaar: Long, manyAadhaars: Boolean, lastMs: Long)

  /** MultiAadhaar over one batch of a name's claims, in event time
    * order, from the name's state before the batch (None: no claim
    * yet): the state after the batch and each claim's tags. */
  private[streaming] def tagNameClaims(
      name: String,
      prev: Option[NameState],
      rows: Seq[ClaimEvent]): (Option[NameState], Seq[TaggedClaim]) = {
    var st = prev
    val out = rows.sortBy(_.Date.getTime).map { c =>
      val ms = c.Date.getTime
      val next = st.fold(NameState(c.Aadhaar, manyAadhaars = false, ms))(s =>
        NameState(s.firstAadhaar, s.manyAadhaars || s.firstAadhaar != c.Aadhaar,
          math.max(s.lastMs, ms)))
      st = Some(next)
      TaggedClaim(name, c.Aadhaar, c.ClaimAmount, c.SubsidyType, c.Date,
        if (next.manyAadhaars) "MultiAadhaar;" else "Normal")
    }
    (st, out)
  }

  /** The MIRROR rule stream: keyed by Name, tagging MultiAadhaar (> 1
    * distinct Aadhaar seen so far for the claimant name). Run as a
    * parallel query over the same landing dir (one streaming query
    * cannot chain two flatMapGroupsWithState); union/join the tag
    * columns downstream on (Name, Aadhaar, Date). */
  def withNameRuleTags(claims: Dataset[ClaimEvent]): Dataset[TaggedClaim] = {
    import claims.sparkSession.implicits._
    claims
      .withWatermark("Date", StateRetention)
      .groupByKey(_.Name)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (name: String, rows: Iterator[ClaimEvent], state: GroupState[NameState]) =>
          expiringKey(state, (s: NameState) => s.lastMs)(tagNameClaims(name, _, rows.toSeq)))
  }

  /** Completes the E1 twin: ML-score the rule-tagged stream with a
    * FITTED model — features pinned to the training date origin (a
    * stream cannot take a dataset-global min, SURVEY §2.7-3) and a
    * fitted reconstruction-error threshold (a stream cannot compute
    * mean+2σ over itself, §7.4-4). Stateless after the keyed tagging
    * op: broadcast ~9 KB net, per-row scoring, rule-wins-else-ML
    * combine — identical semantics to FraudPipeline.score's combine. */
  def scoreStream(tagged: Dataset[TaggedClaim],
                  model: graft.fraud.FraudModel,
                  mlThreshold: Double): DataFrame = {
    val spark = tagged.sparkSession
    val bc = spark.sparkContext.broadcast(model.net)
    val errUdf = udf { (v: Seq[Double]) => bc.value.reconstructionError(v.toArray) }
    val withDate = tagged.toDF().withColumn("DateDay", to_date(col("Date")))
    val feat = graft.fraud.FeaturePipeline.transform(
      withDate.withColumnRenamed("Date", "EventTs").withColumnRenamed("DateDay", "Date"),
      model.params, fixedOrigin = Some(model.params.trainDateOrigin))
    feat
      .withColumn("ReconstructionError", errUdf(col("features")))
      .withColumn("MLFraud",
        when(col("ReconstructionError") > lit(mlThreshold), "Suspicious").otherwise("Normal"))
      .withColumn("FraudType", graft.fraud.FraudPipeline.combineFraudType)
      .select(col("Name"), col("Aadhaar"), col("ClaimAmount"), col("SubsidyType"),
        date_format(col("Date"), "yyyy-MM-dd").as("Date"),
        col("ReconstructionError"), col("FraudType"))
  }

  /** Streaming twin of the batch sessionizer (q27): Structured
    * Streaming's native `session_window` with a 30-minute gap —
    * watermark-bounded state, sessions emitted once the watermark
    * passes their close (Append mode). Input schema matches the events
    * table (user_id, ts, value). */
  def sessionize(events: DataFrame, gap: String = "30 minutes",
                 watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** One event on the as-of wire; ts carries the event-time watermark. */
  final case class AsofEvent(event_id: Long, user_id: Long,
                             ts: java.sql.Timestamp, event_type: String, value: Double)

  /** Output row — same contract as the batch q32 asofJoin. */
  final case class AsofMatch(event_id: Long, user_id: Long,
                             purchase_id: Option[Long], purchase_value: Option[Double])

  /** Per-user as-of state: in-horizon events awaiting finalization
    * (tsUs, event_id, isPurchase, value) + the most recent FINALIZED
    * purchase (tsUs, event_id, value). */
  final case class AsofState(
      buffer: List[(Long, Long, Boolean, Double)],
      lastPurchase: Option[(Long, Long, Double)])

  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Streaming twin of the batch backward as-of join (q32/q47): for
    * every event, the same user's most recent STRICTLY-earlier purchase.
    *
    * Correct event-time semantics need ordered replay, which a stream
    * only has once the watermark passes an event: rows buffer in keyed
    * state until ripe (ts ≤ watermark), then finalize in (ts, event_id)
    * order against one running last-purchase register — the same merge
    * order the batch window's range frame scans, so replaying the
    * events table reproduces q32 row-for-row (parity-pinned in
    * StreamingFraudSpec).
    *
    * Scale/state posture: per user the buffer holds only in-horizon
    * events (watermark-bounded, like session_window) plus ONE finalized
    * purchase tuple; output is Append-mode, emitted when the watermark
    * ripens the row. TTL relaxation, documented like dedupDocStream's:
    * a user idle past `retentionMs` is evicted, so a purchase older
    * than the horizon no longer matches — the batch job owns
    * cross-horizon lookback. */
  def asofStream(events: DataFrame, watermark: String = "1 hour",
                 retentionMs: Long = 30L * 86400000L): Dataset[AsofMatch] = {
    import events.sparkSession.implicits._
    events
      .selectExpr("event_id", "user_id", "ts", "event_type", "value")
      .withWatermark("ts", watermark)
      .as[AsofEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, rows: Iterator[AsofEvent], state: GroupState[AsofState]) => {
          val st = state.getOption.getOrElse(AsofState(Nil, None))
          val incoming = rows
            .map(e => (tsMicros(e.ts), e.event_id, e.event_type == "purchase", e.value))
            .toList
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ripe, hold) = (st.buffer ++ incoming)
            .sortBy(e => (e._1, e._2))
            .partition(_._1 <= wmUs)
          var last = st.lastPurchase
          val out = ripe.map { case (tsUs, id, isPurchase, v) =>
            // emit BEFORE updating the register: a purchase is never its
            // own match (strictly earlier — the batch frame's -1 µs bound)
            val m = AsofMatch(id, user, last.map(_._2),
              last.map(p => BigDecimal(p._3)
                .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble))
            if (isPurchase) last = Some((tsUs, id, v))
            m
          }
          // The timeout is the key's WAKEUP: a group function only runs
          // when the key has new rows or a fired timeout, so buffered
          // events would never ripen for a user who goes quiet. While
          // rows are pending, wake just past the earliest one (the
          // watermark advancing past it is what ripens it); once drained,
          // fall back to the retention timeout, and a retention firing
          // with nothing pending evicts the key (the TTL relaxation).
          if (state.hasTimedOut && incoming.isEmpty && ripe.isEmpty && hold.isEmpty)
            state.remove()
          else {
            state.update(AsofState(hold, last))
            val wakeupMs =
              if (hold.nonEmpty) hold.map(_._1).min / 1000L + 1L
              else wmUs / 1000L + retentionMs
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1, wakeupMs))
          }
          out.iterator
        })
  }

  /** q139's output shape on the wire (wait in integer micros). */
  final case class AsofFwdMatch(event_id: Long, user_id: Long,
                                purchase_id: Option[Long], wait_us: Option[Long])

  /** Per-user forward-as-of state: unripe rows (tsUs, event_id,
    * isPurchase) + ripe EVENTS still awaiting a later purchase
    * (tsUs, event_id), kept ts-ascending. */
  final case class AsofFwdState(
      buffer: List[(Long, Long, Boolean)],
      pending: List[(Long, Long)])

  /** Streaming twin of the FORWARD as-of (q139/q140): for every event,
    * the same user's earliest strictly-later purchase and the wait.
    *
    * Forward needs a different finalization rule than [[asofStream]]:
    * a ripe event is NOT answerable at its own ripening — its match is
    * a purchase that may not have arrived. It waits in `pending` until
    * the first RIPE purchase strictly after it appears (ripe ⇒ no
    * earlier purchase can still arrive, and every future arrival is
    * past the watermark, hence later — so that purchase is the true
    * earliest). Events whose user never purchases again flush as
    * unmatched (null) at the retention timeout — the stream's bounded
    * answer to the batch's "no later purchase EVER", the same TTL
    * relaxation asofStream and dedupDocStream document.
    *
    * State per user: watermark-bounded unripe buffer + the pending
    * events between the user's purchases. Pending is flushed at
    * retention ON EVERY invocation (not only key-idle timeouts): an
    * event older than watermark − retention can only ever be matched
    * by a purchase more than retention after it — every unripened
    * purchase sits past the watermark — and the TTL relaxation answers
    * that with null. Without the per-invocation flush, a continuously
    * active user who never purchases would keep resetting the idle
    * timeout and grow pending without bound. */
  def asofForwardStream(events: DataFrame, watermark: String = "1 hour",
                        retentionMs: Long = 30L * 86400000L): Dataset[AsofFwdMatch] = {
    import events.sparkSession.implicits._
    events
      .selectExpr("event_id", "user_id", "ts", "event_type", "value")
      .withWatermark("ts", watermark)
      .as[AsofEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, rows: Iterator[AsofEvent], state: GroupState[AsofFwdState]) => {
          val st = state.getOption.getOrElse(AsofFwdState(Nil, Nil))
          val incoming = rows
            .map(e => (tsMicros(e.ts), e.event_id, e.event_type == "purchase"))
            .toList
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ripe, hold) = (st.buffer ++ incoming)
            .sortBy(e => (e._1, e._2))
            .partition(_._1 <= wmUs)
          var pending = st.pending
          val out = scala.collection.mutable.ListBuffer.empty[AsofFwdMatch]
          ripe.foreach { case (ts, id, isPurchase) =>
            if (isPurchase) {
              val (emit, keep) = pending.partition(_._1 < ts)
              emit.foreach { case (ets, eid) =>
                out += AsofFwdMatch(eid, user, Some(id), Some(ts - ets)) }
              pending = keep
            }
            // every row is also a left-side event (a purchase's own
            // match is a LATER purchase — strict, like the batch frame)
            pending = pending :+ ((ts, id))
          }
          // retention flush, independent of key activity: entries this
          // old can only match a purchase > retention later (unripened
          // purchases are all past the watermark) — emit the TTL answer
          // now so pending stays bounded for active never-purchasing
          // users instead of waiting for an idle timeout that a busy
          // key keeps resetting
          val cutoffUs = wmUs - retentionMs * 1000L
          val (stale, fresh) = pending.partition(_._1 < cutoffUs)
          stale.foreach { case (_, eid) =>
            out += AsofFwdMatch(eid, user, None, None) }
          pending = fresh
          if (state.hasTimedOut && incoming.isEmpty && ripe.isEmpty && hold.isEmpty) {
            // retention-idle: no purchase is coming inside the horizon
            pending.foreach { case (_, eid) =>
              out += AsofFwdMatch(eid, user, None, None) }
            state.remove()
          } else {
            state.update(AsofFwdState(hold, pending))
            val wakeupMs =
              if (hold.nonEmpty) hold.map(_._1).min / 1000L + 1L
              else wmUs / 1000L + retentionMs
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1, wakeupMs))
          }
          out.iterator
        })
  }

  /** The q141/q142 twins chain flatMapGroupsWithState → unwindowed
    * aggregate, which trips Spark's GLOBAL-WATERMARK correctness check
    * (it assumes a downstream stateful op may DISCARD the emitted rows
    * as late). Here that hazard cannot occur: the emitted rows carry
    * no event-time column and the downstream aggregate is unwindowed —
    * it has no watermark eviction, never drops a row, and its cells
    * only ratchet upward (the [[tokenBudgetStream]] contract). The
    * check is per-session, so the twins disable it at plan time; a
    * deployment multiplexing other chained-stateful queries on the
    * same session should audit those before relying on the default. */
  private def allowStatefulChain(df: DataFrame): Unit =
    df.sparkSession.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled", "false")

  /** One matched conversion on the q141 wire. */
  final case class LatWait(event_type: String, wait_us: Long)

  /** Wait-histogram grain of [[conversionLatencyStream]]: 1-hour cells
    * keep the (event_type × bucket) grid ≤ 5 · retention/1h cells. */
  val LatBucketUs: Long = 3600000000L

  /** Streaming twin of q141 (conversion-latency rollup): the forward
    * as-of match stream folded into a per-(event_type, wait-bucket)
    * COUNT grid — the [[tokenBudgetStream]] posture applied to q139's
    * output. The batch q141 reads exact interpolated percentiles off
    * the full wait distribution; a stream cannot hold that
    * distribution, so the twin's contract is the HLL-twin contract
    * ([[hllRegistersStream]]): its STATE TABLE converges exactly to
    * the batch recount at the grid grain (StreamingFraudSpec pins
    * cell-for-cell equality), and percentile reads fold the grid
    * downstream, bracketed to bucket width.
    *
    * Tail events (no later purchase) are EXCLUDED by q141's own
    * definition, which is what keeps this twin's state honest: pending
    * events older than watermark − retention are dropped SILENTLY (no
    * unmatched emission to retract), so per-user state stays bounded
    * for active never-purchasing users and the grid never lies —
    * waits longer than retention are censored, the batch job owns
    * them. State: per-user ripening buffer + pending (both bounded) +
    * the global grid (≤ 5 types × retention/bucket cells, Update
    * mode). */
  def conversionLatencyStream(events: DataFrame, watermark: String = "1 hour",
                              retentionMs: Long = 30L * 86400000L,
                              bucketUs: Long = LatBucketUs): DataFrame = {
    import events.sparkSession.implicits._
    allowStatefulChain(events)
    val waits = events
      .selectExpr("event_id", "user_id", "ts", "event_type", "value")
      .withWatermark("ts", watermark)
      .as[AsofEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, rows: Iterator[AsofEvent], state: GroupState[LatState]) => {
          val st = state.getOption.getOrElse(LatState(Nil, Nil))
          val incoming = rows
            .map(e => (tsMicros(e.ts), e.event_id, e.event_type))
            .toList
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ripe, hold) = (st.buffer ++ incoming)
            .sortBy(e => (e._1, e._2))
            .partition(_._1 <= wmUs)
          var pending = st.pending
          val out = scala.collection.mutable.ListBuffer.empty[LatWait]
          ripe.foreach { case (ts, _, etype) =>
            if (etype == "purchase") {
              val (emit, keep) = pending.partition(_._1 < ts)
              emit.foreach { case (ets, et) => out += LatWait(et, ts - ets) }
              pending = keep
            }
            pending = pending :+ ((ts, etype))
          }
          // censor, don't emit: q141 excludes tails, so stale entries
          // just leave (same per-invocation bound as asofForwardStream)
          pending = pending.filter(_._1 >= wmUs - retentionMs * 1000L)
          if (state.hasTimedOut && incoming.isEmpty && ripe.isEmpty && hold.isEmpty)
            state.remove()
          else {
            state.update(LatState(hold, pending))
            val wakeupMs =
              if (hold.nonEmpty) hold.map(_._1).min / 1000L + 1L
              else wmUs / 1000L + retentionMs
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1, wakeupMs))
          }
          out.iterator
        })
    waits.toDF()
      .groupBy(col("event_type"),
        expr(s"CAST(wait_us div $bucketUs AS BIGINT)").as("wait_bucket"))
      .agg(count(lit(1)).as("n_waits"))
  }

  /** Per-user q141-twin state: unripe rows (tsUs, event_id,
    * event_type) + ripe events awaiting a later purchase (tsUs,
    * event_type) — event ids are not needed once ripe (the rollup is
    * anonymous), types are (the grid key). */
  final case class LatState(
      buffer: List[(Long, Long, String)],
      pending: List[(Long, String)])

  /** One closed session on the q142 wire. */
  final case class ClosedSession(n_events: Long, converted: Boolean)

  /** Per-user sessionizer state: unripe rows (tsUs, event_id,
    * isPurchase) + the OPEN session (lastUs, n_events, converted).
    * Gap-bounded: nothing outlives lastTs + gap. */
  final case class SessRollState(
      buffer: List[(Long, Long, Boolean)],
      cur: Option[(Long, Long, Boolean)])

  /** Streaming twin of q142 (session conversion by depth): a per-user
    * sessionizer that emits CLOSED sessions (Append — a session is
    * final once the watermark clears its gap: any still-unseen event
    * has ts > watermark > last + gap and would start a NEW session),
    * folded into the ≤ [[graft.ops.RelationalQueries.SessionDepthCap]]+1-row
    * depth grid in Update mode — grid-bounded like
    * [[tokenBudgetStream]], per VERDICT r12 #5. The gap compare
    * truncates to MILLIS exactly like the batch's `unix_millis`
    * arithmetic, so replay parity is bit-exact (StreamingFraudSpec).
    * State: gap-bounded open session + watermark-bounded buffer per
    * user — no retention TTL needed, idle keys close their session at
    * the gap timeout and evict. */
  def sessionConversionStream(events: DataFrame, gapMs: Long = 1800000L,
                              watermark: String = "1 hour"): DataFrame = {
    import events.sparkSession.implicits._
    allowStatefulChain(events)
    val depthCap = graft.ops.RelationalQueries.SessionDepthCap
    val closed = events
      .selectExpr("event_id", "user_id", "ts", "event_type", "value")
      .withWatermark("ts", watermark)
      .as[AsofEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (user: Long, rows: Iterator[AsofEvent], state: GroupState[SessRollState]) => {
          val st = state.getOption.getOrElse(SessRollState(Nil, None))
          val incoming = rows
            .map(e => (tsMicros(e.ts), e.event_id, e.event_type == "purchase"))
            .toList
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ripe, hold) = (st.buffer ++ incoming)
            .sortBy(e => (e._1, e._2))
            .partition(_._1 <= wmUs)
          var cur = st.cur
          val out = scala.collection.mutable.ListBuffer.empty[ClosedSession]
          ripe.foreach { case (ts, _, isPurchase) =>
            cur match {
              // millis-truncated gap compare ≡ the batch's unix_millis
              case Some((last, n, conv))
                  if Math.floorDiv(ts, 1000L) - Math.floorDiv(last, 1000L) <= gapMs =>
                cur = Some((ts, n + 1, conv || isPurchase))
              case Some((_, n, conv)) =>
                out += ClosedSession(n, conv)
                cur = Some((ts, 1L, isPurchase))
              case None =>
                cur = Some((ts, 1L, isPurchase))
            }
          }
          // the watermark itself closes a session: every unseen event
          // is past the watermark, hence past the gap
          cur match {
            case Some((last, n, conv))
                if Math.floorDiv(wmUs, 1000L) - Math.floorDiv(last, 1000L) > gapMs =>
              out += ClosedSession(n, conv)
              cur = None
            case _ => ()
          }
          if (cur.isEmpty && hold.isEmpty) state.remove()
          else {
            state.update(SessRollState(hold, cur))
            val wakeupMs =
              if (hold.nonEmpty) hold.map(_._1).min / 1000L + 1L
              else cur.get._1 / 1000L + gapMs + 1L
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs() + 1, wakeupMs))
          }
          out.iterator
        })
    closed.toDF()
      .groupBy(least(col("n_events"), lit(depthCap)).as("depth"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("converted"), 1L).otherwise(0L)).as("n_converted"))
  }

  /** Streaming twin of exact dedup (q16/q25): drop later arrivals of the
    * same canonical fingerprint. `dropDuplicatesWithinWatermark` keeps
    * per-fp state only inside the watermark horizon — bounded state at
    * 100 TB/day ingest, with the documented relaxation that a duplicate
    * arriving after the horizon is re-admitted (cross-horizon dedup is
    * the batch job's responsibility). Input: (doc_id, ts, text). */
  def dedupDocStream(docs: DataFrame, watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(regexp_replace(lower(col("text")), "[^a-z0-9]", "")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming KMV distinct-count (q65's sketch on a stream): per
    * tumbling window, the estimated number of DISTINCT users, carried
    * as a bounded bottom-k-hashes aggregation state instead of the
    * exact per-key set. This is the streaming cardinality posture at
    * 100 TB/day: `approx` state is k longs per open window (vs one
    * entry per distinct key for an exact distinct), the aggregator
    * merges across micro-batches like any partial, and the watermark
    * closes windows so state stays proportional to open windows × k.
    * The estimate is the same deterministic md5-derived KMV as the
    * batch q65, so a batch backfill reproduces the stream's numbers
    * exactly. Input schema: (ts, user_id). */
  def distinctUsersStream(events: DataFrame, window: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame = {
    val h63 = graft.functions.GraftFunctions
      .md5Lower64(col("user_id").cast("string"))
      .bitwiseAND(Long.MaxValue)
    val kmv = org.apache.spark.sql.functions.udaf(
      new graft.ops.Sketches.MinKDistinct(graft.ops.Sketches.KmvK),
      org.apache.spark.sql.Encoders.scalaLong)
    val k = graft.ops.Sketches.KmvK
    events
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(kmv(h63).as("ks"))
      .select(
        col("window.start").as("window_start"),
        size(col("ks")).cast("long").as("k_used"),
        when(size(col("ks")) < k, size(col("ks")).cast("double"))
          .otherwise(round(
            lit((k - 1).toDouble * math.pow(2, 63)) /
              element_at(col("ks"), -1), 2))
          .as("est_distinct_users"))
  }

  /** Streaming twin of q144 — the same 2h/1h HOPPING windows as the
    * batch query, on a stream: Spark's window(ts, window, slide)
    * fans each event into its window/slide covering windows inside
    * the one stateful aggregate (no self-union), the watermark closes
    * a window `watermark` past its END, and append mode emits each
    * (window, event_type) row exactly once — so a batch backfill over
    * the same rows is row-identical (StreamingFraudSpec). State is
    * proportional to open windows × event types, independent of
    * event volume; each event updates window/slide = 2 rows of state
    * regardless of rate. Input schema: (ts, event_type, value). */
  def hoppingWindowStream(events: DataFrame, windowLen: String = "2 hours",
                          slide: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Streaming twin of q145 — the data-quality CONSTRAINT GATE on the
    * events ingest stream: the per-row-checkable constraint catalog
    * ([[graft.ops.Quality.eventConstraintFlags]] — completeness,
    * accepted values, non-negative, ts bounds) folded into a running
    * per-constraint (violations, total_rows) grid, Update mode
    * emitting touched cells. This is the gate a pipeline consults
    * BEFORE a batch lands: violation counters at ingest time instead
    * of at the next nightly q145 run.
    *
    * State is the [[tokenBudgetStream]] posture: one sum/count cell
    * per constraint — 6 cells forever, no watermark, no timeout;
    * sums and counts compose across batches so the grid converges to
    * the batch recount exactly (StreamingFraudSpec). The two q145
    * constraints that are NOT per-row-checkable are deliberately not
    * approximated here: streaming key-uniqueness is per-key state
    * (the dedup twins' job — [[dedupDocStream]]), and referential
    * integrity is a stream-static join against the dimension
    * (compose with a `join(broadcast(dim), "left")` upstream and a
    * `c_key IS NULL` flag if the dimension is available). Input
    * schema: (ts, user_id, event_type, value). */
  def qualityGateStream(events: DataFrame): DataFrame =
    graft.ops.Quality.eventConstraintFlags(events)
      .groupBy("check_name", "col_name")
      .agg(sum("v").as("violations"), count(lit(1)).as("total_rows"))

  /** Streaming twin of q148 — ONLINE DISTRIBUTION-DRIFT MONITORING:
    * the q148 monitoring dimensions ([[graft.ops.Quality.docBins]] —
    * the n_chars length histogram and the lang marginal) folded to a
    * running (dim, bin) → count grid over the document ingest stream,
    * Update mode emitting touched cells. A drift monitor compares this
    * live grid against a frozen training-snapshot baseline with
    * exactly q148's smoothed-PSI fold — that comparison happens
    * DOWNSTREAM of the state (the baseline is a static table; joining
    * it inside the streaming aggregate would bake the baseline into
    * checkpointed state, making retraining a state-migration problem
    * instead of a join argument — the same sums-compose reasoning that
    * keeps the mean out of [[tokenBudgetStream]]'s state).
    *
    * State: |dims|·|bins| count cells (9 length bins + 5 langs here),
    * no watermark, counts only ratchet — the [[tokenBudgetStream]]
    * posture. The grid converges to the batch recount exactly
    * (StreamingFraudSpec). Input schema: (doc_id, lang, n_chars). */
  def distributionDriftStream(docs: DataFrame): DataFrame =
    graft.ops.Quality.docBins(docs)
      .groupBy("dim", "bin")
      .agg(count(lit(1)).as("n_docs"))

  /** Streaming twin of q185 — ONLINE BLOCKLIST SCREEN: the broadcast
    * Aho–Corasick automaton runs inside the stream's stateless
    * mapPartitions (one pass per arriving doc, partials batched per
    * task exactly as in batch), and the (source, pattern) hit counts
    * fold into running state because they are ADDITIVE — micro-batch
    * partials sum into cells the same way partition partials do. The
    * same [[graft.text.Scrub.blocklistCounts]] pipeline IS the
    * streaming query; the only twin-specific bit is the stream-static
    * join that resolves pattern ids to strings (broadcast, K rows).
    *
    * State: ≤ |sources|·K count cells forever — grid-bounded like
    * [[tokenBudgetStream]], no watermark needed, counts only ratchet.
    * Converges to the batch screen's touched cells exactly
    * (StreamingFraudSpec; zeros are reported by the batch grid join,
    * absence on the stream). Input schema: (source, text). */
  /** Streaming twin of q182's corpus half — per-source KMV theta
    * sketches as running state: each micro-batch's gram hashes fold
    * into the k-bounded MinKDistinct buffer (same udaf as
    * [[distinctUsersStream]], same expressions as the batch
    * [[graft.ops.Sketches.kmvSourceSketches]]). The k smallest of a
    * multiset are invariant to arrival order and duplication, so the
    * state converges to the batch sketch table EXACTLY, and
    * [[graft.ops.Sketches.kmvPairAlgebra]] over a state snapshot then
    * reproduces the full q182 pair matrix without re-touching the
    * corpus — the live "which sources overlap" catalog.
    *
    * State: k longs per source, forever — no watermark, min-fold only
    * ratchets downward. Input schema: (source, text). */
  def kmvSketchStream(docs: DataFrame): DataFrame =
    graft.ops.Sketches.kmvSourceSketches(docs)

  /** Streaming twin of q198's count grid — the ONLINE KS DRIFT
    * MONITOR's state: (source, length) doc counts as running additive
    * cells (the [[distributionDriftStream]] posture, unbinned —
    * KS needs the raw value support). Counts only ratchet upward, no
    * watermark; state is length-support × sources, never corpus-sized.
    * [[graft.ops.Quality.ksFromCounts]] over a state snapshot then
    * reproduces the registered q198 pair matrix EXACTLY without
    * re-touching the corpus (StreamingFraudSpec pins it) — the live
    * "is source B still length-distributed like source A" alarm.
    * Input schema: (source, n_chars). */
  def ksCountsStream(docs: DataFrame): DataFrame =
    graft.ops.Quality.ksCounts(docs)

  /** Streaming twin of the (event_type, day) count grid — ONE state
    * that replays FIVE registered tables: q240's seasonal-vs-naive
    * backtest, q251's Theil–Sen robust trend, q264's weekday-seasonal
    * outlier gate, q283's Mann–Kendall trend test, and (summed over
    * types) q280's changepoint segmentation — each via its
    * `FromCounts` tail over a snapshot (`Quality.typeDayCounts` is
    * the shared grid builder, so every consumer counts identically;
    * `Changepoint.mannKendallFrom` / `changepointsFromCounts` are the
    * trend/segmentation tails). The trend tests are thereby LIVE
    * alarms, not just batch audits. State is |types|·|days| additive
    * cells, calendar-bounded forever — the [[cusumCountsStream]]
    * posture with the type key carried along. Input schema:
    * (ts, event_type). */
  def typeDayCountsStream(events: DataFrame): DataFrame =
    graft.ops.Quality.typeDayCounts(events)

  /** Streaming twin of q262's register grid — the LIVE SKETCHED-DAU
    * MONITOR's state: (day, register) max-ranks over arriving events
    * (the [[hllRegistersStream]] posture at calendar grain). State is
    * |days|·256 longs forever — max-merge means late and replayed
    * events are idempotent, the property exact DAU (q237) can't have.
    * [[graft.ops.Sketches.hllDauFromRegisters]] over a snapshot
    * replays the registered q262 table bit-for-bit
    * (StreamingFraudSpec pins it). Input schema: (ts, user_id). */
  def hllDauRegistersStream(events: DataFrame): DataFrame =
    graft.ops.Sketches.userDayRegisters(events)
      .groupBy("day", "reg").agg(max("rank").as("mrank"))

  /** Streaming twin of q242/q243's source grid — the LIVE PROPORTION-
    * DRIFT GATE's state: per-source (docs seen, docs passing the q23
    * quality cut) as two additive counters (the [[ksCountsStream]]
    * posture at its smallest: state is 2·|sources| longs, forever).
    * [[graft.ops.Inference.twoPropZFromCounts]] /
    * [[graft.ops.Inference.bhFdrFromCounts]] over a state snapshot
    * then reproduce the registered q242 pair grid and the q243 BH
    * decision EXACTLY without re-touching the corpus
    * (StreamingFraudSpec pins both) — the multiple-comparison-
    * corrected "which feeds' quality rates have drifted apart" alarm
    * running live. Input schema: (source, text). */
  def goodRateCountsStream(docs: DataFrame): DataFrame =
    graft.ops.Inference.goodRateCounts(docs)

  /** Streaming twin of q273's ROW-LOCAL expectation families — the
    * LIVE INGEST GATE: per-expectation (checked, violations) counters
    * over arriving documents (the [[goodRateCountsStream]] posture;
    * state is 2·|expectations| longs, forever, and counters ADD across
    * micro-batches and retries). The set-level families (UNIQUE,
    * referential) stay audit-side BY DESIGN — they need distinct/join
    * state, not additive counters; this is exactly the production
    * split: the gate trips on malformed rows as they arrive, the
    * audit catches cross-row defects nightly. A full-table replay
    * equals the registered q273 rows for these families
    * (ContractsSpec pins it). Input schema: (doc_id, text, lang,
    * n_chars). */
  def contractsGateStream(docs: DataFrame): DataFrame =
    graft.ops.Contracts.docRowLocalCounts(docs)

  /** Streaming twin of q212's digit grid — the LIVE BENFORD MONITOR:
    * leading-digit counts of arriving amounts as nine additive cells
    * (same floor+string digit extraction as the batch audit, same
    * reason — CAST rounds in DuckDB, truncates here). State is ≤ 9
    * counters forever; the batch tail (expected counts + chi-square
    * cells against the integer ppm table) re-runs on any snapshot.
    * The forensic screen as an alarm: a feed whose first-digit mass
    * drifts off log10(1+1/d) mid-stream is flagging fabricated or
    * truncated amounts while they arrive. Input schema: (amount). */
  def benfordCountsStream(amounts: DataFrame): DataFrame =
    amounts
      .filter(col("amount") >= 1)
      .select(substring(expr("CAST(floor(amount) AS BIGINT)")
        .cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("o"))

  /** Streaming twin of q217's day grid — the LIVE CUSUM MONITOR's
    * state: daily event counts as running additive cells (the
    * [[ksCountsStream]]/[[benfordCountsStream]] posture at calendar
    * grain). State is the days grid — bounded by the calendar, never
    * event-sized; counts only ratchet upward, no watermark.
    * [[graft.ops.Quality.cusumFromCounts]] over a state snapshot then
    * reproduces the full q217 alarm table EXACTLY without re-touching
    * the events (StreamingFraudSpec pins it) — the slow-leak detector
    * (a feed running 10% hot never trips a daily 3σ gate; its CUSUM
    * climbs linearly) running as a live alarm. Input schema: (ts). */
  def cusumCountsStream(events: DataFrame): DataFrame =
    graft.ops.Quality.dailyCounts(events)

  def blocklistScreenStream(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val names = graft.text.Scrub.Blocklist.zipWithIndex
      .map { case (p, i) => (i, p) }.toDF("pidx", "pattern")
    graft.text.Scrub.blocklistCounts(docs)
      .join(broadcast(names), "pidx")
      .select(col("source"), col("pattern"), col("n_docs"), col("n_occ"))
  }

  /** Streaming twin of q75 — incremental dedup of a DOCUMENT STREAM
    * against the persisted corpus index: each micro-batch's (doc_id,
    * text) rows run the same index-probing plan as the batch query
    * ([[graft.dedup.DedupQueries.incrementalVerdictsIndexed]]) via
    * foreachBatch, so per-micro-batch cost is ∝ the micro-batch —
    * signatures are computed for the new documents only and the corpus
    * side is the bucketed band/hash tables, read exchange-free and
    * never recomputed. This is the nightly-crawl plan with "nightly"
    * shrunk to the trigger interval; verdicts are handed to `sink`
    * (write to your store of choice) and are byte-identical to the
    * batch q71/q75 verdicts for the same documents
    * (StreamingFraudSpec). foreachBatch rather than a stream-static
    * join pipeline because the verdict requires a per-doc EXISTS over
    * candidate matches — an aggregation that in pure streaming would
    * drag in watermark state the batch-per-trigger shape doesn't need. */
  def incrementalDedupStream(spark: SparkSession, corpusDir: String,
                             docs: DataFrame,
                             sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.dedup.DedupQueries.incrementalVerdictsIndexed(
          spark, corpusDir, batch.select("doc_id", "text")), batchId)
      }
      .start()

  /** The FULL nightly crawl loop as a stream: per micro-batch, verdicts
    * against the persisted corpus index (cost ∝ batch), then the
    * WRITE-BACK — the admitted ("new") docs are appended to the index
    * ([[graft.dedup.DedupQueries.appendToCorpusIndex]]) so the NEXT
    * micro-batch dedups against them too. A doc duplicated across
    * micro-batches is "new" once and "exact_dup" ever after
    * (StreamingFraudSpec). Verdicts are pinned (persist + count)
    * BEFORE the index grows, so what `sink` sees and what gets
    * appended are computed against the same index state regardless of
    * when the sink materializes. */
  def crawlDedupStream(spark: SparkSession, corpusDir: String,
                       docs: DataFrame,
                       sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.select("doc_id", "text").persist()
        try {
          val verdicts = graft.dedup.DedupQueries
            .incrementalVerdictsIndexed(spark, corpusDir, b).persist()
          try {
            verdicts.count() // pin against the PRE-append index state
            sink(verdicts, batchId)
            graft.dedup.DedupQueries.appendToCorpusIndex(spark, corpusDir,
              b.join(verdicts.filter(col("verdict") === "new"), "doc_id")
                .select("doc_id", "text"))
          } finally { verdicts.unpersist(); () }
        } finally { b.unpersist(); () }
      }
      .start()

  /** Streaming twin of q128/q130 — span DECONTAMINATION of a document
    * stream at admission time: each micro-batch's docs probe the
    * persisted corpus gram index ([[graft.text.Scrub.spanGramIndex]] —
    * distinct corpus 8-gram md5s, bucketed) and emit the maximal token
    * runs the corpus already contains, before the doc is admitted.
    * Same foreachBatch shape as [[incrementalDedupStream]] and for the
    * same reason: the island merge is a per-doc window over the
    * micro-batch's own rows — per-batch cost ∝ batch, index side read
    * pre-partitioned, no streaming state at all (the corpus membership
    * IS the state, and it lives in the index files). Output per batch
    * is row-identical to batch q128 on the same docs
    * (StreamingFraudSpec). */
  def spanDecontamStream(spark: SparkSession, corpusDir: String,
                         docs: DataFrame,
                         sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        sink(graft.text.Scrub.incrementalSpansIndexed(
          spark, corpusDir, batch.select("doc_id", "text")), batchId)
      }
      .start()

  /** Streaming twin of q76 — k-NN label propagation of a VECTOR STREAM
    * against the persisted IVF index ([[graft.sim.SimilarityQueries
    * .ivfIndex]]): each micro-batch's (vec_id, embedding) rows probe
    * the durable codebook + bucketed list tables
    * ([[graft.sim.SimilarityQueries.ivfProbeIndexed]]) and run the
    * unchanged vote/verdict stages, so per-micro-batch cost is ∝ the
    * micro-batch — the corpus lists are read pre-partitioned and never
    * re-assigned. Default nProbe probes all lists so verdicts are
    * byte-identical to batch q76 for the same vectors
    * (StreamingFraudSpec); production sets nProbe ≪ nlist. Same
    * foreachBatch shape as [[incrementalDedupStream]] and for the same
    * reason: top-k + majority-vote per query is a per-batch aggregation
    * a pure stream-static join can't express without watermark state. */
  def knnLabelStream(spark: SparkSession, corpusDir: String,
                     vecs: DataFrame, sink: (DataFrame, Long) => Unit,
                     k: Int = 5, nProbe: Int = Int.MaxValue): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val queries = batch.select(col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qe"))
        sink(graft.sim.SimilarityQueries.knnLabelFrom(spark, corpusDir,
          graft.sim.SimilarityQueries.ivfProbeIndexed(
            spark, corpusDir, queries, k, nProbe)), batchId)
      }
      .start()

  /** Streaming INDEX MAINTENANCE for the ANN side — the q174 append
    * arc as a stream: each micro-batch of new (vec_id, label, e)
    * vectors runs the real write-back ([[graft.sim.SimilarityQueries
    * .appendToIvfIndex]] — assignment against the FROZEN persisted
    * codebook, bucketed list + PQ-code append), so the NEXT
    * micro-batch's searches see them; then the batch's own vectors are
    * searched over the just-grown index (probe-all by default — the
    * search-as-you-insert readback) and handed to `sink`. Per-trigger
    * cost ∝ batch: one broadcast-assign plus a bucket-file append —
    * never a base re-scan, never an in-stream retrain (codebook drift
    * is an offline re-version, the documented IVF discipline).
    * Parity (StreamingFraudSpec): after arbitrary micro-batch splits,
    * the persisted lists AND a probe-all search are row-identical to
    * one batch append of the same vectors. */
  def ivfAppendStream(spark: SparkSession, corpusDir: String,
                      vecs: DataFrame, sink: (DataFrame, Long) => Unit,
                      k: Int = 5, nProbe: Int = Int.MaxValue): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val b = batch.select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("e")).persist()
        try {
          b.count() // pin: the append and the readback see one batch state
          graft.sim.SimilarityQueries.appendToIvfIndex(spark, corpusDir, b)
          sink(graft.sim.SimilarityQueries.ivfProbeIndexed(spark, corpusDir,
            b.select(col("vec_id").as("qid"), col("e").as("qe")), k, nProbe),
            batchId)
        } finally { b.unpersist(); () }
      }
      .start()

  /** Driver-held streaming k-means model: cent_id → (centroid,
    * weight). Same footprint as the broadcast codebook every IVF probe
    * already ships (nlist·dim doubles) — the model living on the
    * driver IS the classic streaming-k-means posture; executors only
    * ever see it broadcast. */
  final class KMeansStreamHandle(
      @volatile private[streaming] var model: Map[Long, (Array[Double], Double)]) {
    def centroids: Map[Long, Array[Double]] =
      model.map { case (k, (c, _)) => k -> c }
    def weights: Map[Long, Double] =
      model.map { case (k, (_, w)) => k -> w }
  }

  /** Streaming twin of q110 — MICRO-BATCH Lloyd's (the classic
    * streaming k-means): each batch assigns its vectors against the
    * current codebook (the same broadcast-assign
    * [[graft.sim.SimilarityQueries.ivfAssign]] plan q44/q110 use), and
    * the per-centroid batch sums fold into the model with the standard
    * decayed-mean rule — `w' = α·w + n_b`, `c' = (α·w·c + Σ_b) / w'` —
    * so `decay = 1` is the exact running mean over everything seen
    * (batch-boundary-invariant, spec-checked against a driver recount)
    * and `decay < 1` forgets old data with a geometric horizon (the
    * drift-tracking production setting). Per-batch cost: one
    * batch-sized assign + an nlist·dim-bounded aggregate collected to
    * the driver; no per-key streaming state at all, so nothing grows.
    * Emits (vec_id, cent_id) assignments per batch via `sink`. Input
    * schema: (vec_id, e: array<double>). */
  def kmeansStream(spark: SparkSession, vecs: DataFrame,
                   init: Map[Long, Array[Double]],
                   decay: Double = 1.0,
                   sink: (DataFrame, Long) => Unit = (_, _) => ())
      : (org.apache.spark.sql.streaming.StreamingQuery, KMeansStreamHandle) = {
    val handle = new KMeansStreamHandle(init.map { case (k, c) => k -> (c, 0.0) })
    val query = vecs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import spark.implicits._
        val cents = handle.model.toSeq
          .map { case (k, (c, _)) => (k, c.toSeq) }
          .toDF("cent_id", "ce")
        val assigned = graft.sim.SimilarityQueries
          .ivfAssign(batch.select("vec_id", "e"), cents)
          .persist()
        try {
          val stats = assigned
            .select(col("cent_id"), posexplode(col("e")).as(Seq("pos", "v")))
            .groupBy("cent_id", "pos")
            .agg(sum("v").as("s"), count(lit(1)).as("n"))
            .collect()
            .groupBy(_.getLong(0))
          handle.model = handle.model.map { case (k, (c, w)) =>
            stats.get(k) match {
              case Some(rows) =>
                val n = rows.head.getLong(3).toDouble
                val sums = rows.map(r => r.getInt(1) -> r.getDouble(2)).toMap
                val w2 = decay * w + n
                val c2 = c.indices.map(j => (decay * w * c(j) + sums(j)) / w2).toArray
                k -> (c2, w2)
              case None => k -> (c, decay * w) // untouched centroid decays
            }
          }
          sink(assigned.select("vec_id", "cent_id"), batchId)
        } finally { assigned.unpersist(); () }
      }
      .start()
    (query, handle)
  }

  /** Per-user decayed-activity state: the score AS OF `anchor_us` (the
    * user's latest event time so far). */
  final case class UserActivity(
      user_id: Long, anchor_us: Long, score: Double, n_events: Long)

  /** Streaming twin of q92 — the exponentially time-decayed activity
    * score maintained INCREMENTALLY: per-user state is three numbers
    * (anchor, score-at-anchor, count), updated per event as
    * `score' = score·e^{−(A'−A)/τ} + v·e^{−(A'−t)/τ}` with
    * `A' = max(A, t)` — algebraically exact for out-of-order events,
    * because the true score is a sum of independent per-event decay
    * terms (addition order only moves float ulps). Reading the score
    * at any later anchor is one more multiply; no event history is
    * retained. This is the feature-store posture at stream scale:
    * O(1) state per user where a naive "recompute the window" keeps
    * every event inside the horizon.
    *
    * Batch equivalence (StreamingFraudSpec): decay each user's final
    * state to the global max timestamp and it matches q92's one-pass
    * aggregate on the same rows to float tolerance. Input schema:
    * (ts: timestamp, user_id, value). */
  /** Default idle-state TTL for [[decayedActivityStream]]: ~12·τ at
    * the default τ = 30 days, where the retained score has decayed to
    * e^−12 ≈ 6e−6 of itself — numerically indistinguishable from a
    * fresh user, so dropping the state changes nothing a reader could
    * observe beyond float dust (the TTL spec pins the restart). */
  val ActivityIdleTtlDays: Double = 365.0

  def decayedActivityStream(events: DataFrame,
                            tauDays: Double = graft.ops.RelationalQueries.DecayTauDays,
                            idleTtlDays: Double = ActivityIdleTtlDays): Dataset[UserActivity] = {
    import events.sparkSession.implicits._
    val tauUs = tauDays * 86400e6
    val withTtl = idleTtlDays > 0
    val ttlMs = (idleTtlDays * 86400e3).toLong
    // The per-user state is O(1), but the USER SET is not: without a
    // TTL an open-world id space (the 100 TB reality) accretes state
    // forever. EventTimeTimeout reclaims users idle past the TTL; the
    // score a reaped user carried had already decayed below e^(-ttl/τ)
    // of itself, so a re-appearing user restarting from zero is the
    // documented approximation (and with NoTimeout semantics available
    // via idleTtlDays = 0 for a closed user universe).
    val src = if (withTtl)
      events.withWatermark("ts", s"${math.max(1L, ttlMs / 1000)} seconds")
    else events
    val timeoutConf =
      if (withTtl) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    src
      // `ts` itself must ride through to the grouped input: the
      // event-time-timeout checker requires the watermarked COLUMN in
      // the stateful operator's child output — an expression derived
      // from it (unix_micros alias) drops the watermark metadata
      .selectExpr("user_id", "ts", "unix_micros(ts) AS t_us", "value")
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(timeoutConf)(
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Long, Double)],
         st: GroupState[UserActivity]) => {
          if (withTtl && st.hasTimedOut) {
            val last = st.get
            st.remove() // reap: re-emit the final reading as the tombstone
            last
          } else {
            var s = st.getOption.getOrElse(UserActivity(uid, 0L, 0.0, 0L))
            rows.foreach { case (_, _, t, v) =>
              if (s.n_events == 0L) s = UserActivity(uid, t, v, 1L)
              else {
                val a = math.max(s.anchor_us, t)
                s = UserActivity(uid, a,
                  s.score * math.exp(-(a - s.anchor_us) / tauUs) +
                    v * math.exp(-(a - t).toDouble / tauUs),
                  s.n_events + 1)
              }
            }
            st.update(s)
            if (withTtl)
              st.setTimeoutTimestamp(
                math.max(s.anchor_us / 1000 + ttlMs,
                  st.getCurrentWatermarkMs() + 1))
            s
          }
        })
  }

  /** Streaming twin of q91 — per-window heavy-hitter CANDIDATES over a
    * token stream, the Misra–Gries summary as windowed aggregation
    * state: ≤ k counters + the window's token total per open window
    * (the same bounded-state posture as [[distinctUsersStream]]'s
    * KMV), merging across micro-batches like any partial. Emits each
    * window's candidate set and stream length; the exact-recount stage
    * that turns candidates into exact answers is a per-batch batch
    * join (q91's second pass) once the window closes — the sketch's
    * no-miss guarantee (anything above n/(k+1) is in the summary,
    * SketchesSpec) is what makes the deferred recount sound. Input
    * schema: (ts: timestamp, w: string). */
  def heavyHittersStream(tokens: DataFrame, window: String = "1 hour",
                         watermark: String = "2 hours",
                         k: Int = graft.ops.Sketches.MgK): DataFrame = {
    val mg = org.apache.spark.sql.functions.udaf(
      new graft.ops.Sketches.MisraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    tokens
      .withWatermark("ts", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window))
      .agg(mg(col("w")).as("mg"))
      .select(col("window.start").as("window_start"),
        col("mg._1").as("candidates"), col("mg._2").as("n_tokens"))
  }

  /** Streaming twin of q108 — the token-budget grid as a STATEFUL
    * aggregation: each micro-batch's documents fold their counts into
    * the running (split × lang) totals, Update mode emits the touched
    * cells — the live dashboard face of the batch accounting a crawl
    * watches while filling a budget. Split/bucket/token expressions are
    * the SAME columns q85/q108 use ([[graft.text.CorpusOps.splitCol]]),
    * so the streaming grid converges to the batch answer exactly
    * (StreamingFraudSpec asserts ≡ batch after the final batch). State
    * is |splits|·|langs| sum/count cells — bounded, no watermark
    * needed, the cheapest stateful query in the repo. The mean stays
    * OUT of the state (sums and counts compose across batches; a
    * stored mean would not) — derive avg_tok_x10k downstream the q108
    * way. Input schema: (text, lang). */
  def tokenBudgetStream(docs: DataFrame): DataFrame =
    docs
      .select(graft.text.CorpusOps.splitCol.as("split"), col("lang"),
        graft.text.CorpusOps.nTokCol.as("n_tok"))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))

  /** Streaming twin of q117 — distinct-token registers as a STATEFUL
    * aggregation: each micro-batch's tokens max-fold into the running
    * (lang, register) table, Update mode emits the touched cells. This
    * is the one streaming distinct counter whose state CANNOT grow
    * with the data: |langs|·2^8 max cells forever, no watermark, no
    * timeout — registers only ratchet upward, so late or replayed data
    * is harmless (max is idempotent), where the KMV twin
    * ([[distinctUsersStream]]) holds k values per window and exact
    * distinct state would hold the vocabulary. Register/rank columns
    * are [[graft.ops.Sketches.tokenRegisters]] — the SAME expressions
    * the batch q117 folds, so the stream converges to the batch
    * register table exactly (StreamingFraudSpec); fold to the q117
    * rollup (m_used, Σrank, harmonic denominator) downstream. Input
    * schema: (text, lang). */
  def hllRegistersStream(docs: DataFrame): DataFrame =
    graft.ops.Sketches.tokenRegisters(docs, "lang")
      .groupBy("lang", "reg").agg(max("rank").as("mrank"))

  /** Current best copy of one content group (q103's policy on a
    * stream): longest text wins, smaller doc_id breaks ties. */
  final case class BestDoc(fp: String, doc_id: Long, n_chars: Long, n_seen: Long)

  /** The state-store provider a production deployment of the stateful
    * twins runs on. Per-fingerprint dedup state grows with DISTINCT
    * content forever — `NoTimeout` is inherent to dedup semantics, not
    * an oversight — so the store choice is what makes the query
    * survivable: the default HDFS-backed provider keeps every key on
    * the executor HEAP (state size caps at executor memory and GC
    * degrades long before that), while RocksDB keeps state off-heap on
    * local disk with block-cache reads and incremental/changelog
    * checkpointing — state bounded by SSD, not heap. Session conf:
    * `spark.sql.streaming.stateStore.providerClass` = this, set BEFORE
    * the query starts (StreamingFraudSpec runs the displacement
    * scenario under it). The bounded-MEMORY alternative when even SSD
    * state is unwanted: the [[crawlDedupStream]] path, which keeps
    * verdict state in the durable bucketed corpus index (foreachBatch
    * append) and no per-key store at all. */
  val RocksDbProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Streaming twin of q103 — keep-BEST dedup as per-fingerprint state:
    * `dropDuplicatesWithinWatermark` (the q16/streaming-exact twin)
    * can only keep the FIRST arrival; the quality-aware policy needs a
    * later, better duplicate to DISPLACE the survivor, which is
    * genuinely stateful — one (doc_id, n_chars) pair per content
    * fingerprint, updated by the same struct-ordering q103 applies in
    * batch. Emits each group's current best per micro-batch (Update
    * mode); n_seen carries the group's arrival count. Input schema:
    * (doc_id, text, n_chars). State posture: [[RocksDbProvider]]. */
  def keepBestDedupStream(docs: DataFrame): Dataset[BestDoc] = {
    import docs.sparkSession.implicits._
    docs
      .selectExpr("md5(regexp_replace(lower(text), '[^a-z0-9]', '')) AS fp",
        "doc_id", "n_chars")
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(
        (fp: String, rows: Iterator[(String, Long, Long)],
         st: GroupState[BestDoc]) => {
          var s = st.getOption.getOrElse(BestDoc(fp, Long.MaxValue, -1L, 0L))
          rows.foreach { case (_, id, nc) =>
            val better = nc > s.n_chars || (nc == s.n_chars && id < s.doc_id)
            s = BestDoc(fp,
              if (better) id else s.doc_id,
              if (better) nc else s.n_chars,
              s.n_seen + 1)
          }
          st.update(s)
          s
        })
  }

  /** One CDC record on the wire: op ∈ {I,U,D} with the full row payload
    * and a writer-assigned sequence number (the log offset / commit ts
    * a real CDC feed carries). */
  final case class CdcChange(seq: Long, doc_id: Long, op: String,
      lang: String, source: String, n_chars: Long)

  /** Per-key merge-on-read state: the key's current row (or tombstone),
    * the seq that produced it, and an emit counter (n_applied) so a
    * memory-sink reader can pick each key's LATEST update. */
  final case class CdcRow(doc_id: Long, lang: String, source: String,
      n_chars: Long, seq: Long, deleted: Boolean, n_applied: Long)

  /** Streaming twin of q152 — CDC MERGE-ON-READ: the batch
    * [[graft.ops.Maintenance.mergeUpsert]] copy-on-write join, deferred
    * into per-key "latest version wins" state. Each micro-batch of CDC
    * records (I/U/D + payload + seq) folds into one [[CdcRow]] per key:
    * a record applies iff its seq ≥ the state's seq (LAST-WRITER-WINS —
    * an out-of-order earlier update can never clobber a newer one, and
    * a DELETE leaves a seq-carrying TOMBSTONE so a late pre-delete
    * update cannot resurrect the key). Update mode emits each touched
    * key's current row/tombstone per micro-batch; the read side takes
    * the latest emit per key and drops tombstones — that snapshot is
    * row-for-row the batch MERGE output for the same records under ANY
    * micro-batch split and ANY cross-key arrival order
    * (StreamingFraudSpec).
    *
    * Scale: state is ONE row per live key (plus tombstones until a
    * compaction sweep — exactly the delete-vector debt a merge-on-read
    * table format carries), partitioned by the groupByKey exchange;
    * no base-table scan per batch — that is the entire point vs the
    * copy-on-write batch join. State posture: [[RocksDbProvider]] for
    * a 100 TB key space. */
  def cdcMergeStream(changes: Dataset[CdcChange]): Dataset[CdcRow] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.doc_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(
        (id: Long, recs: Iterator[CdcChange], st: GroupState[CdcRow]) => {
          var s = st.getOption.getOrElse(
            CdcRow(id, null, null, 0L, Long.MinValue, deleted = true, 0L))
          recs.foreach { c =>
            s = if (c.seq >= s.seq) {
              if (c.op == "D")
                s.copy(seq = c.seq, deleted = true, n_applied = s.n_applied + 1)
              else
                CdcRow(id, c.lang, c.source, c.n_chars, c.seq,
                  deleted = false, s.n_applied + 1)
            } else s.copy(n_applied = s.n_applied + 1) // stale: count, don't apply
          }
          st.update(s)
          s
        })
  }

  /** Streaming twin of q155 — INTERVAL ATTRIBUTION as Spark's NATIVE
    * watermarked stream-stream join: views and purchases (two filters
    * of the same event stream) join on user_id with the purchase
    * constrained to (view.ts, view.ts + 1 h]. This is the one member
    * of the event-join family that needs no custom state operator —
    * the time-bound condition plus both-side watermarks let Spark
    * prove every buffered row droppable once the watermark passes
    * v_ts + 1 h, so state is the last (watermark + 1 h) of each side,
    * independent of stream length. Inner join ⇒ matches emit as soon
    * as both rows have arrived; a full replay is row-for-row the batch
    * q155 (StreamingFraudSpec). Input schema: (ts, user_id, event_id,
    * event_type). */
  def attributionStream(events: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val views = events
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", watermark)
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    views
      .join(purchases,
        expr("user_id = p_user AND p_ts > v_ts AND p_ts <= v_ts + INTERVAL 1 HOUR"))
      .select(col("view_id"), col("purchase_id"), col("user_id"),
        (unix_millis(col("p_ts")) - unix_millis(col("v_ts"))).as("wait_ms"))
  }

  /** File-source entry: watch a landing directory of claim CSVs (the
    * app.py upload loop), tag, and write per-micro-batch result CSVs. */
  def fileStream(spark: SparkSession, landingDir: String, outDir: String,
                 checkpointDir: String, highClaimThreshold: Double): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val raw = spark.readStream
      .option("header", "true")
      .option("dateFormat", "yyyy-MM-dd")
      .schema(Claims.schema)
      .csv(landingDir)
      .withColumn("Date", col("Date").cast("timestamp"))
      // PERMISSIVE parsing nulls malformed cells; a null in a primitive
      // ClaimEvent field would kill the query (and the checkpoint would
      // replay the poisoned file forever) — drop such rows instead
      .filter(col("Aadhaar").isNotNull && col("ClaimAmount").isNotNull &&
        col("Date").isNotNull)
      .as[ClaimEvent]
    withRuleTags(raw, highClaimThreshold)
      .withColumn("Date", date_format(col("Date"), "yyyy-MM-dd"))
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .option("header", "true")
      .format("csv")
      .option("path", outDir)
      .start()
  }
}
