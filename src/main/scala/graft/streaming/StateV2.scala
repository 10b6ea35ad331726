package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig,
  TimeMode, TimerValues, ValueState}

/** Spark 4 arbitrary-state operators on `transformWithState` — the
  * successor API to `mapGroupsWithState` (SPARK-40434, state v2): typed
  * per-key state handles (ValueState/ListState/MapState) with explicit
  * TTL, timers, and schema-evolvable state, backed by the RocksDB state
  * store. This file exercises the v2 surface the same way a
  * production migration would — one operator, same exactly-once
  * semantics, state bounded by key cardinality.
  *
  * `transformWithState` requires the RocksDB state store provider;
  * [[withRocksDbState]] scopes that conf to the calling block (the
  * HDFS-backed default remains for every v1 stream in the suite).
  */
object StateV2 {

  /** One input event, timestamp pre-lowered to epoch micros (BIGINT is
    * the oracle-boundary encoding for instants). */
  final case class EventIn(user_id: Long, event_us: Long)

  /** Running per-user profile after each micro-batch touch. */
  final case class UserRunning(user_id: Long, n_events: Long, last_us: Long)

  /** Per-user running (count, max-ts) in a single ValueState cell —
    * both folds are commutative+associative over inputs, so the final
    * emission per key is batch-order independent (count is
    * replay-SENSITIVE, so delivery must be exactly-once: the state
    * store's transactional batch versioning provides it, unlike the
    * algebraic shields the bitmap/KMV folds carry). */
  class UserStatsProcessor extends StatefulProcessor[Long, EventIn, UserRunning] {
    @transient private var st: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("stats",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong), TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EventIn],
        tv: TimerValues): Iterator[UserRunning] = {
      var (n, mx) = if (st.exists()) st.get() else (0L, Long.MinValue)
      rows.foreach { e =>
        n += 1
        if (e.event_us > mx) mx = e.event_us
      }
      st.update((n, mx))
      Iterator.single(UserRunning(key, n, mx))
    }
  }

  /** Running per-user event count + latest event time over a stream of
    * [[EventIn]] — emits the updated profile for every touched key per
    * micro-batch (Update mode). State is one (long, long) per user:
    * bounded by key cardinality, never by stream length. */
  def runningUserStats(events: Dataset[EventIn]): Dataset[UserRunning] = {
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    implicit val outEnc: Encoder[UserRunning] = Encoders.product[UserRunning]
    events.groupByKey(_.user_id)
      .transformWithState(new UserStatsProcessor, TimeMode.None(),
        OutputMode.Update(), outEnc)
  }

  /** Run `body` with the RocksDB state store provider (required by
    * transformWithState), restoring the previous provider after. */
  def withRocksDbState[A](spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }
}
