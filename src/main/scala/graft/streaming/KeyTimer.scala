package graft.streaming

import org.apache.spark.sql.streaming.StatefulProcessorHandle

/** The timer rule of graft's `transformWithState` processors: each key
  * holds at most ONE event-time timer, re-armed after every fold.
  *
  * `firing` is the expiry of the timer whose `handleExpiredTimer` is
  * running (None while handling input rows). It is never deleted here:
  * Spark deletes a fired timer itself once the handler returns
  * (`TransformWithStateExec.handleTimerRows`), so deleting it first
  * costs a state lookup and makes Spark's own delete log
  * `WARN Failed to delete timer … since it does not exist`.
  */
private[streaming] object KeyTimer {

  /** Leave the key armed at `at` only (no timer when None), apart from
    * the firing timer; a timer already armed at `at` stays as it is. */
  def rearm(h: StatefulProcessorHandle, firing: Option[Long], at: Option[Long]): Unit = {
    var armed = false
    h.listTimers().foreach { t =>
      val ms = t.asInstanceOf[Long]
      if (at.contains(ms)) armed = true
      else if (!firing.contains(ms)) h.deleteTimer(ms)
    }
    if (!armed) at.foreach(h.registerTimer)
  }

  /** Move the key's timer to `at`, never EARLIER: a timer armed at or
    * after `at` stays (the idle-TTL rule, where a straggler batch with
    * old event times must not shorten an armed window). Input-row path
    * only. */
  def advance(h: StatefulProcessorHandle, at: Long): Unit = {
    val armed = h.listTimers().map(_.asInstanceOf[Long]).toSeq
    if (armed.forall(_ < at)) { armed.foreach(h.deleteTimer); h.registerTimer(at) }
  }
}
