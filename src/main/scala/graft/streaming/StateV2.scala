package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ListState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** The `transformWithState` arbitrary-state surface (new in Spark 4.0)
  * — the successor to `mapGroupsWithState` that UserState covers:
  * state is declared as named, individually-evolvable variables
  * (ValueState / ListState / MapState) on a StatefulProcessor instead
  * of one monolithic case class, so operators can add state variables
  * across restarts and give each its own TTL.
  *
  * The processor here tracks, per user, a lifetime aggregate
  * (ValueState — count / integer-cent sum / max) AND a bounded
  * recent-values window (ListState, last 3) — two differently-shaped
  * state variables on one key, which the old API could only fake by
  * stuffing both into a single tuple. Emits one snapshot per user per
  * micro-batch (Update-mode semantics).
  *
  * Scale design: state volume is O(|users|) with a hard O(1) bound per
  * key (the list is clamped to 3); each micro-batch shuffles only its
  * delta to the state-store partitions. Requires the RocksDB state
  * store provider ([[twsConfs]]), which is also the right
  * provider at scale: state lives off-heap and spills to disk, so a
  * 100 TB stream's key space is bounded by storage, not executor heap.
  * All arithmetic is integer cents; the batch is sorted by
  * (ts, event_id) before folding so snapshots are identical under any
  * arrival interleaving.
  */
object StateV2 {

  final case class TwsEvent(
      event_id: Long, user_id: Long, ts: java.sql.Timestamp, value: Double)

  final case class LifetimeAgg(n_events: Long, sum_cents: Long, max_cents: Long)

  final case class UserSnapshot(
      user_id: Long, n_events: Long, sum_cents: Long, max_cents: Long,
      recent_avg_cents: Double)

  /** Conf required by transformWithState (and a good idea generally at
    * scale): the RocksDB state store provider.
    */
  val twsConfs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  final class LifetimeProcessor
      extends StatefulProcessor[Long, TwsEvent, UserSnapshot] {

    @transient private var agg: ValueState[LifetimeAgg] = _
    @transient private var recent: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState[LifetimeAgg](
        "agg", Encoders.product[LifetimeAgg], TTLConfig.NONE)
      recent = getHandle.getListState[Long](
        "recent", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TwsEvent],
        timers: TimerValues): Iterator[UserSnapshot] = {
      // deterministic fold order regardless of shuffle arrival order —
      // full sub-millisecond precision (getTime alone truncates to ms,
      // which could diverge from the micros-ordered q242/q243 replay)
      val batch = rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
      if (batch.isEmpty) return Iterator.empty
      val cents = batch.map(e => math.round(e.value * 100))
      val prev = if (agg.exists()) agg.get() else LifetimeAgg(0L, 0L, Long.MinValue)
      val next = LifetimeAgg(
        prev.n_events + batch.size,
        prev.sum_cents + cents.sum,
        math.max(prev.max_cents, cents.max))
      agg.update(next)
      val window = ((if (recent.exists()) recent.get().toSeq else Seq.empty)
        ++ cents).takeRight(3)
      recent.put(window.toArray)
      Iterator.single(UserSnapshot(key, next.n_events, next.sum_cents,
        next.max_cents, window.sum.toDouble / window.size))
    }
  }

  /** Streaming per-user snapshots via transformWithState (Update sinks). */
  def lifetimeSnapshots(events: DataFrame): Dataset[UserSnapshot] = {
    implicit val eventEnc: Encoder[TwsEvent] = Encoders.product[TwsEvent]
    implicit val outEnc: Encoder[UserSnapshot] = Encoders.product[UserSnapshot]
    implicit val keyEnc: Encoder[Long] = Encoders.scalaLong
    events.select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .as[TwsEvent]
      .groupByKey(_.user_id)
      .transformWithState(new LifetimeProcessor,
        TimeMode.None(), OutputMode.Update())
  }
}
