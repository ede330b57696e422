package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** W13's CUSUM change detector as a STREAMING operator (SURVEY §2.10
  * companion to queries/SignalQueries.w13): the batch form replays the
  * whole history through two stacked windows (the reflection identity),
  * but a live detector needs the RECURRENCE — S = max(0, S + (v − k)) —
  * which is exactly what per-key state is for. State per user is four
  * counters (current excursion, running max, event count, alarm count):
  * O(1) per key, the smallest state any stateful operator here carries.
  *
  * The drift allowance k and alarm threshold h are deploy-time
  * constants from a batch profile (streamScoreQuality's frozen-model
  * convention — the batch query derives k from the corpus; a stream
  * cannot see its future mean). Events are folded in (tu, event_id)
  * order WITHIN each micro-batch; late rows that sort before already-
  * consumed ones still fold in arrival order (the recurrence is
  * order-sensitive — that is the operator's semantics, and the batch
  * form is the exact-order replay when order must be authoritative).
  * Update-mode output re-emits a user's summary each time its state
  * changes; the final emission per user equals the batch fold, which is
  * how FileStreamSpec pins parity.
  */
object StreamingCusum {

  final case class Ev(user_id: Long, tu: Long, event_id: Long, v_fp: Long)
  final case class St(s_fp: Long, max_s_fp: Long, n_events: Long, n_alarms: Long)
  final case class Out(user_id: Long, n_events: Long, max_s_fp: Long, n_alarms: Long)

  val emptySt: St = St(0L, 0L, 0L, 0L)

  /** Pure fold step — deterministic given batch contents (sorts the
    * batch on the event total order), so batch-boundary placement only
    * affects interleaving of LATE rows, never in-order streams. */
  def advance(st: St, batch: Seq[Ev], kFp: Long, hFp: Long): St = {
    var s = st.s_fp; var mx = st.max_s_fp
    var n = st.n_events; var al = st.n_alarms
    batch.sortBy(e => (e.tu, e.event_id)).foreach { e =>
      s = math.max(0L, s + (e.v_fp - kFp))
      mx = math.max(mx, s)
      n += 1
      if (s >= hFp) al += 1
    }
    St(s, mx, n, al)
  }

  /** Streaming wrapper: Update-mode per-user summaries. */
  def cusum(events: Dataset[Ev], kFp: Long, hFp: Long): Dataset[Out] = {
    implicit val stEnc = Encoders.product[St]
    implicit val outEnc = Encoders.product[Out]
    events.groupByKey(_.user_id)(Encoders.scalaLong)
      .mapGroupsWithState[St, Out](GroupStateTimeout.NoTimeout()) {
        (user: Long, it: Iterator[Ev], state: GroupState[St]) =>
          val st = advance(state.getOption.getOrElse(emptySt), it.toSeq, kFp, hFp)
          state.update(st)
          Out(user, st.n_events, st.max_s_fp, st.n_alarms)
      }
  }
}
