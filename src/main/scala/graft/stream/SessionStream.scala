package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.ops.SessionOps

/** Streaming sessionization — the live face of [[SessionOps]]: events
  * arrive continuously, a user's session CLOSES either when a later
  * event opens the next one (explicit gap in the data) or when the
  * EVENT-TIME WATERMARK passes its deadline (gap of silence at the
  * stream frontier — `GroupStateTimeout.EventTimeTimeout`, the one
  * closure a batch window can't express because the closing evidence
  * is the absence of data). Closed sessions append as finished
  * conversation documents with the batch face's exact cap semantics
  * ([[SessionOps.MaxTurns]] earliest-wins, `n_dropped`).
  *
  * State: one O(MaxTurns)-bounded entry per OPEN session, keyed by
  * user; a timeout close collapses the entry to an ORDINAL TOMBSTONE
  * (three zeroed longs) rather than removing it — session_seq must
  * stay monotone per user across closes, exactly like the batch
  * face's ordinals, or the output stream would carry duplicate
  * (user_id, session_seq) keys. So state is O(open sessions) in the
  * heavy part plus O(users ever seen) tombstone longs — the honest
  * price of history-wide ordinals (a deployment content with
  * per-epoch ordinals can TTL the tombstones). Checkpointed and
  * restored across restarts (ordinals continue, spec-proven —
  * including after a timeout close).
  */
object SessionStream {

  case class Ev(userId: Long, eventId: Long, tsUs: Long, eventType: String)

  /** Open-session state: turn list capped at [[SessionOps.MaxTurns]],
    * full count kept for `n_dropped`.
    */
  case class SessState(sessionSeq: Long, startUs: Long, lastUs: Long,
      nAll: Long, turns: List[String])

  /** Closed-session record — `convo` is the batch conversationFlatten
    * rendering; `rendered`/`mask_spans`/`n_mask_chars` are the
    * post-training SFT face ([[graft.ops.PostTrainOps.chatRender]]'s
    * template + assistant-only loss-mask spans, computed by the shared
    * JVM twin so the streamed document is byte-identical to the batch
    * one — spec-asserted).
    */
  case class Closed(user_id: Long, session_seq: Long, n_events: Long,
      start_us: Long, end_us: Long, duration_us: Long,
      n_turns: Long, n_dropped: Long, convo: String,
      rendered: String, mask_spans: String, n_mask_chars: Long)

  private def close(userId: Long, s: SessState): Closed = {
    val (rendered, spans, _, nMask) =
      graft.ops.PostTrainOps.renderTurnsLocal(s.turns)
    Closed(userId, s.sessionSeq, s.nAll, s.startUs, s.lastUs,
      s.lastUs - s.startUs,
      math.min(s.nAll, SessionOps.MaxTurns.toLong),
      math.max(s.nAll - SessionOps.MaxTurns, 0L),
      s.turns.mkString(" "),
      rendered, spans, nMask)
  }

  private def open(seq: Long, e: Ev): SessState =
    SessState(seq, e.tsUs, e.tsUs, 1L, List(e.eventType))

  private def absorb(s: SessState, e: Ev): SessState =
    s.copy(lastUs = math.max(s.lastUs, e.tsUs), nAll = s.nAll + 1,
      turns = if (s.turns.length < SessionOps.MaxTurns)
        s.turns :+ e.eventType else s.turns)

  /** Per-key transition: fold the batch's events (time-ordered, ties by
    * unique event_id — the batch face's total order) into the open
    * session, closing on gap; or, on a timeout invocation (empty
    * iterator, watermark passed lastUs + gap), close what is open.
    */
  private def update(key: Long, rows: Iterator[Ev],
      state: GroupState[SessState]): Iterator[Closed] = {
    if (state.hasTimedOut) {
      val s = state.get
      // TOMBSTONE, not remove(): the ordinal must survive the close, or
      // the user's next event would reopen at session_seq = 1 and the
      // sink would append duplicate (user_id, session_seq) keys — the
      // batch face's ordinals are monotone per user over the whole
      // history, and so are these. nAll == 0 marks "nothing open"; no
      // timeout is set on a tombstone (nothing left to close).
      state.update(SessState(s.sessionSeq, 0L, 0L, 0L, Nil))
      Iterator(close(key, s))
    } else {
      val batch = rows.toSeq.sortBy(e => (e.tsUs, e.eventId))
      var closed = List.empty[Closed]
      var cur = state.getOption
      for (e <- batch) {
        cur = cur match {
          case Some(s) if s.nAll == 0L => // tombstone: continue ordinals
            Some(open(s.sessionSeq + 1, e))
          case Some(s) if e.tsUs - s.lastUs <= SessionOps.SessionGapUs =>
            Some(absorb(s, e))
          case Some(s) =>
            closed ::= close(key, s)
            Some(open(s.sessionSeq + 1, e))
          case None => Some(open(1L, e))
        }
      }
      cur.filter(_.nAll > 0L).foreach { s =>
        state.update(s)
        // deadline in epoch MILLIS; fires when the watermark passes it
        state.setTimeoutTimestamp(s.lastUs / 1000 + SessionOps.SessionGapUs / 1000)
      }
      closed.reverse.iterator
    }
  }

  /** events stream → closed-session stream (append). `delay` is the
    * late-data bound on the watermark; the fixture streams in order, a
    * production deployment sets it to its ingestion skew.
    */
  def closedSessions(spark: SparkSession, eventsDir: String,
      delay: String = "0 seconds"): DataFrame = {
    import spark.implicits._
    // event_time rides along un-projected: a typed .map would mint fresh
    // attributes and strip the watermark tag the EventTimeTimeout
    // analysis requires — as[Ev] over a select keeps the original
    // watermarked attribute in the plan
    Pipeline.withEventTime(Pipeline.changeStream(spark, eventsDir), delay)
      .select(col("user_id").cast("long").as("userId"),
        col("event_id").cast("long").as("eventId"),
        expr("ts div 1000").as("tsUs"),
        col("event_type").as("eventType"),
        col("event_time"))
      .as[Ev]
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(update)
      .toDF()
  }

  def run(spark: SparkSession, eventsDir: String, outDir: String,
      checkpointDir: String, delay: String = "0 seconds",
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    StreamQuery.writer(closedSessions(spark, eventsDir, delay),
        "session-stream", checkpointDir, trigger)
      .format("parquet")
      .option("path", outDir)
      .start()
}
