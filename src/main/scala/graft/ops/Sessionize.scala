package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.time.LocalDateTime
import java.time.temporal.ChronoUnit

/** Gap-based sessionization of an event stream (beyond the reference's
  * stateless streams). A session starts at a user's first event or after
  * a gap of more than `gapSeconds`; both forms share that semantics:
  *  - [[labelSessions]] — lag + running-sum window functions label every
  *    event with its session id; one shuffle, no per-key buffering: the
  *    100 TB batch path.
  *  - [[sessionizeTyped]] — typed `groupByKey.flatMapGroups`; buffers one
  *    key's events in memory (fine for bounded per-user cardinality;
  *    cross-checked against the window labels in tests).
  */
object Sessionize {

  final case class Event(user_id: Long, ts: LocalDateTime, event_id: Long)

  final case class SessionRow(
      user_id: Long,
      session_id: Long,
      session_start: LocalDateTime,
      session_end: LocalDateTime,
      n_events: Long)

  /** Exact microsecond gap — NOT ChronoUnit.SECONDS/date_diff('second'),
    * whose truncation/boundary-crossing semantics differ across engines. */
  private def gapExceeded(prev: LocalDateTime, cur: LocalDateTime, gapSeconds: Long) =
    ChronoUnit.MICROS.between(prev, cur) > gapSeconds * 1000000L

  /** Per-EVENT session labels: every input row comes back with its
    * `session_id` (running count of gap boundaries per user), which
    * path/funnel analyses consume row-level. Single shuffle on the user
    * key. */
  def labelSessions(events: DataFrame, tsCol: String, userCol: String,
      tieBreak: String, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(tieBreak))
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("_prev", lag(col(tsCol), 1).over(byUser))
      .withColumn("_new_session",
        when(col("_prev").isNull ||
          unix_micros(col(tsCol).cast("timestamp")) -
            unix_micros(col("_prev").cast("timestamp")) > gapSeconds * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("_new_session")).over(running))
      .drop("_prev", "_new_session")
  }

  /** Typed variant: per-user fold over time-sorted events. */
  def sessionizeTyped(events: Dataset[Event], gapSeconds: Long): Dataset[SessionRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id).flatMapGroups { (uid, it) =>
      val sorted = it.toArray.sortWith { (a, b) =>
        val c = a.ts.compareTo(b.ts)
        c < 0 || (c == 0 && a.event_id < b.event_id)
      }
      val out = Seq.newBuilder[SessionRow]
      var sid = 0L
      var start: LocalDateTime = null
      var last: LocalDateTime = null
      var n = 0L
      sorted.foreach { e =>
        if (start == null || gapExceeded(last, e.ts, gapSeconds)) {
          if (start != null) out += SessionRow(uid, sid, start, last, n)
          sid += 1; start = e.ts; n = 0
        }
        last = e.ts; n += 1
      }
      if (start != null) out += SessionRow(uid, sid, start, last, n)
      out.result().iterator
    }
  }
}
