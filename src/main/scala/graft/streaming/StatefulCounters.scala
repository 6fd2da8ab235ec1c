package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{MapState, OutputMode,
  StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Per-key running event count on the Spark 4 arbitrary-state API
  * (`transformWithState` + [[StatefulProcessor]]): one ValueState[Long]
  * per user in the RocksDB state store, updated once per micro-batch
  * per key — O(users) state on the typed-state surface (named state
  * variables, per-state TTL, timers) that every graft stateful stream
  * uses. TTLConfig.NONE here because the count is a forever-total; a
  * bounded-retention deployment passes a TTL and lets the store expire
  * idle users instead of growing without bound.
  */
class RunningCountProcessor
    extends StatefulProcessor[Long, Long, (Long, Long)] {
  @transient private var count: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    count = getHandle.getValueState[Long](
      "count", Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Long],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    val next = (if (count.exists()) count.get() else 0L) + rows.size
    count.update(next)
    Iterator.single((key, next))
  }
}

/** Per-user per-event-type running counts on MapState — the composite
  * state surface: one map entry per (user, type) in the RocksDB store
  * (point lookups/updates per arriving type, NOT a read-modify-write of
  * a whole collection — the reason MapState exists over a
  * ValueState[Map]). Emits (user, distinct types seen, total events)
  * after each batch; converges to the batch countDistinct/count pair.
  */
class TypeMixProcessor
    extends StatefulProcessor[Long, (Long, String), (Long, Long, Long)] {
  @transient private var byType: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    byType = getHandle.getMapState[String, Long](
      "byType", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[(Long, String)],
      timerValues: TimerValues): Iterator[(Long, Long, Long)] = {
    rows.foreach { case (_, t) =>
      byType.updateValue(t,
        (if (byType.containsKey(t)) byType.getValue(t) else 0L) + 1L)
    }
    var types = 0L
    var total = 0L
    byType.iterator().foreach { p => types += 1; total += p._2 }
    Iterator.single((key, types, total))
  }
}

/** Per-user event-type TRANSITION extractor — the streaming twin of
  * batch q129's lead() window: ValueState carries the user's last
  * (ts_us, event_id, event_type) ACROSS micro-batches, each batch
  * sorts only its OWN rows for the key (bounded by per-batch arrival,
  * never the user's history) on the same deterministic (ts, event_id)
  * order, and every consecutive pair is emitted exactly once — append
  * semantics, O(users) state. In-order arrival gives exact batch
  * parity (StreamingSpec); out-of-order arrival would need a
  * watermark + buffer, deliberately out of scope for the twin.
  */
class TransitionProcessor extends StatefulProcessor[
    Long, (Long, Long, Long, String), (Long, String, String)] {
  @transient private var last: ValueState[(Long, Long, String)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    last = getHandle.getValueState[(Long, Long, String)]("last",
      Encoders.product[(Long, Long, String)], TTLConfig.NONE)

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, Long, String)],
      timerValues: TimerValues): Iterator[(Long, String, String)] = {
    val sorted = rows.map(r => (r._2, r._3, r._4)).toSeq
      .sortBy(x => (x._1, x._2))
    val chain = (if (last.exists()) Seq(last.get()) else Nil) ++ sorted
    if (chain.nonEmpty) last.update(chain.last)
    chain.sliding(2).collect {
      case Seq(a, b) => (key, a._3, b._3)
    }
  }
}

object StatefulCounters {

  /** transformWithState needs the RocksDB state store provider — set
    * this on the session before starting the query (and revert after
    * in tests; the default HDFS-backed provider rejects the operator). */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** (user_id, running_count) updates over a streaming events frame —
    * run in update mode; the latest row per user equals the batch
    * per-user count once all input is processed. */
  def runningCounts(spark: SparkSession,
      events: DataFrame): Dataset[(Long, Long)] = {
    import spark.implicits._
    // the events schema is NULLABLE (ntzSchema): a NULL user_id would
    // kill the typed encoder ("Null value appeared in non-nullable
    // field") and terminate the stream. Batch per-user counts group
    // NULL keys away from every oracle the twins compare against, so
    // dropping them IS the batch semantics, not a shortcut — the
    // q136/EventTime null-domain pin, applied to the typed twins.
    events.select(col("user_id")).filter(col("user_id").isNotNull)
      .as[Long]
      .groupByKey(identity)
      .transformWithState(new RunningCountProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** (user_id, distinct event types, total events) updates over a
    * streaming events frame — MapState variant; run in update mode. */
  def typeMix(spark: SparkSession,
      events: DataFrame): Dataset[(Long, Long, Long)] = {
    import spark.implicits._
    events.select(col("user_id"), col("event_type"))
      .filter(col("user_id").isNotNull) // nullable schema: see runningCounts
      .as[(Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TypeMixProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** (user_id, cur, nxt) event-type transitions over a streaming
    * events frame — each transition emitted exactly once (append
    * mode); counting them per (cur, nxt) converges to batch q129's
    * matrix under in-order arrival. */
  def transitions(spark: SparkSession,
      events: DataFrame): Dataset[(Long, String, String)] = {
    import spark.implicits._
    events.select(col("user_id"), expr("unix_micros(ts)"),
        col("event_id"), col("event_type"))
      // nullable schema: a NULL user_id/ts/event_id breaks the tuple
      // encoder (see runningCounts); an unordered NULL ts has no place
      // in a transition sequence either way
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_id").isNotNull)
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new TransitionProcessor,
        TimeMode.None(), OutputMode.Append())
  }
}
