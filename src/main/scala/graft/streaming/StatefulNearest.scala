package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A purchase waiting for its nearest view. `backGap` is the distance
  * to the latest view at-or-before it — `Long.MaxValue` when that view
  * doesn't exist or lies outside the horizon (only a forward view can
  * match then). */
case class PendingPurchase(event_id: Long, us: Long, backGap: Long)

case class NearestState(lastView: Long, pending: List[PendingPurchase])

/** An emitted nearest-event decision — the batch e29 row with the NULL
  * no-match encoded as view_us = -1, gap_us = 0, direction = "none"
  * (case classes can't carry SQL NULLs without boxing). */
case class NearestDecision(event_id: Long, user_id: Long, purchase_us: Long,
                           view_us: Long, gap_us: Long, direction: String)

/** The e29 bidirectional nearest-event join as a LIVE streaming
  * operator. The hard half is the FORWARD direction: a purchase cannot
  * finalize until either a view arrives (the first view after it is
  * automatically the closest forward candidate — event order) or the
  * stream provably moves past its +horizon (any same-user event beyond
  * `us + horizon` proves no forward view can still qualify). So each
  * purchase resolves at the EARLIEST event that decides it:
  *   - immediately, when its backward gap is 0 (forward can't win a tie);
  *   - at the first subsequent view `v`: backward wins iff
  *     backGap ≤ v.us − purchase.us (the batch tie-break), else forward;
  *   - at expiry: backward-if-within-horizon, else none.
  *
  * State per user: one long (last view) + the pending purchases younger
  * than the horizon — bounded by horizon × arrival rate, the
  * stream-stream interval join's state contract, NOT stream length
  * (resolved and expired entries leave on every event).
  *
  * Faithfulness: rows are processed in (us, kind) order within a batch
  * (views before purchases at equal timestamps — the batch window
  * sort); replaying a stream whose per-user order is preserved emits
  * decisions bit-identical to batch e29 for every purchase the stream
  * has moved past (StatefulStreamingSpec replays with a mid-stream
  * split and a horizon-advancing flush). */
object StatefulNearest {

  val DefaultHorizonUs: Long = 1800000000L

  def nearest(ds: Dataset[TouchEvent],
              horizonUs: Long = DefaultHorizonUs): Dataset[NearestDecision] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[TouchEvent], state: GroupState[NearestState]) =>
          val st = state.getOption.getOrElse(NearestState(Long.MinValue, Nil))
          var lastView = st.lastView
          var pending = st.pending
          val out = List.newBuilder[NearestDecision]

          def backwardOrNone(p: PendingPurchase): NearestDecision =
            if (p.backGap <= horizonUs)
              NearestDecision(p.event_id, user, p.us, p.us - p.backGap,
                p.backGap, "backward")
            else NearestDecision(p.event_id, user, p.us, -1L, 0L, "none")

          rows.toSeq.sortBy(r => (r.us, r.kind)).foreach { r =>
            // the stream has moved past +horizon for these: no forward
            // view can still qualify
            val (expired, alive) = pending.partition(p => r.us > p.us + horizonUs)
            expired.foreach(p => out += backwardOrNone(p))
            pending = alive
            if (r.isView) {
              // first view after every alive pending purchase — the
              // closest possible forward candidate for each
              pending.foreach { p =>
                val fg = r.us - p.us
                if (p.backGap <= fg && p.backGap <= horizonUs)
                  out += NearestDecision(p.event_id, user, p.us,
                    p.us - p.backGap, p.backGap, "backward")
                else
                  out += NearestDecision(p.event_id, user, p.us, r.us,
                    -fg, "forward")
              }
              pending = Nil
              lastView = math.max(lastView, r.us)
            } else {
              val bg = if (lastView == Long.MinValue) Long.MaxValue
                       else r.us - lastView
              if (bg == 0L)
                out += NearestDecision(r.event_id, user, r.us, r.us, 0L,
                  "backward")
              else
                pending = pending :+ PendingPurchase(r.event_id, r.us,
                  if (bg <= horizonUs) bg else Long.MaxValue)
            }
          }
          state.update(NearestState(lastView, pending))
          out.result().iterator
      }
  }
}
