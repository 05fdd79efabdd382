package graft.streaming

import graft.functions.Enrich
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/**
 * Stateful Structured Streaming operators. The reference's streaming job is
 * stateless (SURVEY §2.8), but a Spark-native engine exposes the state
 * primitives its users reach for next: watermarked event-time windows and
 * arbitrary per-key state. Both run identically over `readStream` (state
 * store on executors, checkpointed) and batch DataFrames (degenerate state).
 *
 * Scale notes: windowed aggregation shuffles on (key, window) with partial
 * aggregation map-side; the watermark bounds state size — without it the
 * store grows forever. flatMapGroupsWithState keeps one state row per key
 * in the executor state store (RocksDB-backed in production configs).
 */
object StatefulOps {

  /**
   * Tumbling event-time window aggregation with a watermark: per
   * (station, window) averages/extremes of the reading stream. Late rows
   * beyond `lateness` are dropped deterministically by the watermark.
   */
  def windowedWeather(readings: DataFrame, windowLen: String = "1 hour",
                      lateness: String = "10 minutes"): DataFrame =
    readings
      .withColumn("event_time", to_timestamp(col("timestamp")))
      .withWatermark("event_time", lateness)
      .groupBy(col("station_id"), window(col("event_time"), windowLen))
      .agg(
        avg(col("temperature_celsius")).as("avg_temperature"),
        max(col("temperature_celsius")).as("max_temperature"),
        sum(col("precipitation_mm")).as("total_precipitation"),
        count(lit(1)).as("reading_count"))
      .select(col("station_id"), col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("avg_temperature"),
        col("max_temperature"), col("total_precipitation"), col("reading_count"))

  /**
   * Streaming dedup (D1/D2 in the streaming path): drop duplicate
   * (station, timestamp) readings across micro-batches. The watermark
   * bounds the dedup state — keys older than `lateness` are evicted, so
   * the state store holds one entry per key per watermark horizon instead
   * of growing forever.
   */
  def dedupStream(readings: DataFrame, lateness: String = "1 hour"): DataFrame =
    readings
      .withColumn("event_time", to_timestamp(col("timestamp")))
      .withWatermark("event_time", lateness)
      .dropDuplicates("station_id", "event_time")

  /**
   * Streaming ingest-time document dedup — the streaming twin of exact
   * text dedup (Dedup.exactTextGroups): drop content-duplicate documents
   * across micro-batches. The dedup key is the 128-bit content digest
   * (state carries 32-byte keys, never documents), and it deliberately
   * EXCLUDES the event time — identical content at different times is
   * still a duplicate — so plain watermarked dropDuplicates would never
   * evict state; `dropDuplicatesWithinWatermark` keys the dedup on the
   * digest while still expiring entries past the watermark horizon.
   */
  def dedupDocStream(docs: DataFrame, timeCol: String, textCol: String,
                     lateness: String = "24 hours"): DataFrame =
    docs
      .withColumn("event_time", to_timestamp(col(timeCol)))
      .withWatermark("event_time", lateness)
      .withColumn("text_md5", md5(col(textCol)))
      .dropDuplicatesWithinWatermark("text_md5")

  /**
   * Stream-static dimension enrichment: join the reading stream against a
   * static dimension table (station metadata). Stateless for the stream —
   * the static side is broadcast per micro-batch, no streaming state at
   * all; the standard shape for reference-data lookups at any scale.
   */
  def withStationMetadata(readings: DataFrame, stations: DataFrame): DataFrame =
    readings.join(broadcast(stations), Seq("station_id"), "left")

  /**
   * Stream-stream interval join: pair each alert with the readings of the
   * same station within `windowSeconds` BEFORE the alert (root-cause
   * context lookup). Both sides carry watermarks and the join condition
   * time-bounds the buffered state, so each side's state store holds only
   * the watermark horizon — the requirements for Spark to run a
   * stream-stream join at all.
   */
  def alertContextJoin(readings: DataFrame, alerts: DataFrame,
                       windowSeconds: Long, lateness: String = "10 minutes"): DataFrame = {
    val r = readings
      .withColumn("reading_time", to_timestamp(col("timestamp")))
      .withWatermark("reading_time", lateness)
      .select(col("station_id").as("r_station"), col("reading_time"),
        col("temperature_celsius").as("context_temperature"))
    val a = alerts
      .withColumn("alert_time", to_timestamp(col("timestamp")))
      .withWatermark("alert_time", lateness)
      .select(col("station_id").as("a_station"), col("alert_time"),
        col("alert_level"))
    a.join(r,
      col("a_station") === col("r_station") &&
        col("reading_time") >= col("alert_time") - expr(s"INTERVAL $windowSeconds SECONDS") &&
        col("reading_time") <= col("alert_time"))
      .select(col("a_station").as("station_id"), col("alert_time"),
        col("alert_level"), col("reading_time"), col("context_temperature"))
  }

  // ---- streaming twins of the batch feature operators (q44 / q45) ----

  final case class TimedValue(key: Long, id: Long, epoch: Long, value: Double)
  final case class RollingFeature(key: Long, id: Long, epoch: Long, priorCount: Long,
                                  priorSum: Option[Double], priorMax: Option[Double])
  final case class RollingBuf(epochs: Seq[Long], values: Seq[Double])

  /**
   * Streaming twin of `Aggregates.rollingFeatures` (q44): per key, each
   * event's strictly-before `[epoch−lookback, epoch−1]` aggregates. State
   * per key is ONLY the lookback horizon (entries older than the newest
   * event minus lookback are evicted as events arrive) — bounded like every
   * stateful op here. The sum mirrors the batch DECIMAL(28,6) path
   * (per-value HALF_UP at scale 6, exact addition), so output is
   * bit-identical to the batch operator for rows arriving in event-time
   * order per key — the tested contract. Cross-batch LATE rows see the
   * already-evicted horizon and their own frame may be short: the standard
   * streaming relaxation (a watermark-driven variant would buffer and
   * reorder; same state bound, higher latency).
   */
  def rollingFeaturesStream(events: Dataset[TimedValue], lookbackSec: Long): Dataset[RollingFeature] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[TimedValue], state: GroupState[RollingBuf]) =>
          var epochs = state.getOption.map(_.epochs.toVector).getOrElse(Vector.empty)
          var values = state.getOption.map(_.values.toVector).getOrElse(Vector.empty)
          val out = Seq.newBuilder[RollingFeature]
          rows.toSeq.sortBy(r => (r.epoch, r.id)).foreach { r =>
            // evict below every possible future frame (event time is
            // monotone per key under the in-order contract)
            val lo = r.epoch - lookbackSec
            val firstKeep = epochs.indexWhere(_ >= lo) match {
              case -1 => epochs.size
              case i  => i
            }
            epochs = epochs.drop(firstKeep); values = values.drop(firstKeep)
            // strictly-before frame: same-epoch peers excluded, like batch
            val inFrame = epochs.indices.takeWhile(i => epochs(i) <= r.epoch - 1)
            val cnt = inFrame.size.toLong
            val sum =
              if (cnt == 0) None
              else Some(inFrame.map(i => java.math.BigDecimal.valueOf(values(i))
                  .setScale(6, java.math.RoundingMode.HALF_UP))
                .reduce(_.add(_)).doubleValue)
            val mx = if (cnt == 0) None else Some(inFrame.map(values).max)
            out += RollingFeature(key, r.id, r.epoch, cnt, sum, mx)
            epochs :+= r.epoch; values :+= r.value
          }
          state.update(RollingBuf(epochs, values))
          out.result().iterator
      }
  }

  final case class TrailRow(key: Long, id: Long, epoch: Long, v: Long)
  final case class TrailOut(key: Long, id: Long, epoch: Long, v: Long,
                            trailN: Long, trailSum: Long)
  final case class TrailBuf(epochs: Seq[Long], values: Seq[Long])

  /**
   * Streaming twin of `Aggregates.trailingRange` (q119): per key, count
   * and exact long sum over the rows whose epoch lies in
   * [current − horizon, current]. State is the horizon-bounded (epoch,
   * value) buffer — evicted below every possible future frame under the
   * in-order contract, so state size is bounded by the horizon's row
   * count, never the stream's.
   *
   * Tie semantics: batch RANGE frames include ALL peers of the current
   * order value — including ones a stream hasn't seen yet. The streaming
   * contract therefore matches batch bit-for-bit when same-epoch rows
   * arrive within one micro-batch (they are processed as one peer group
   * here); ties split across batches get the prefix the stream has seen
   * — the unavoidable streaming relaxation, same in-order caveat as
   * [[rollingFeaturesStream]].
   */
  def trailingRangeStream(events: Dataset[TrailRow],
                          horizonSec: Long): Dataset[TrailOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, rows: Iterator[TrailRow], state: GroupState[TrailBuf]) =>
          var epochs = state.getOption.map(_.epochs.toVector).getOrElse(Vector.empty)
          var values = state.getOption.map(_.values.toVector).getOrElse(Vector.empty)
          val out = Seq.newBuilder[TrailOut]
          // equal-epoch runs process as ONE peer group (the RANGE frame's
          // all-peers rule, restricted to what the stream has seen)
          rows.toSeq.sortBy(r => (r.epoch, r.id)).foldLeft(Vector.empty[Vector[TrailRow]]) {
            case (acc, r) if acc.nonEmpty && acc.last.head.epoch == r.epoch =>
              acc.init :+ (acc.last :+ r)
            case (acc, r) => acc :+ Vector(r)
          }.foreach { grp =>
            val t = grp.head.epoch
            val lo = t - horizonSec
            val firstKeep = epochs.indexWhere(_ >= lo) match {
              case -1 => epochs.size
              case i  => i
            }
            epochs = epochs.drop(firstKeep); values = values.drop(firstKeep)
            grp.foreach { r => epochs :+= r.epoch; values :+= r.v }
            // after eviction the whole buffer IS the frame (all ≥ lo, ≤ t)
            val n = epochs.size.toLong
            val s = values.sum
            grp.foreach(r => out += TrailOut(key, r.id, r.epoch, r.v, n, s))
          }
          state.update(TrailBuf(epochs, values))
          out.result().iterator
      }
  }

  final case class KeyedRow(group: String, id: Long)
  final case class AdmitCount(n: Long)

  /**
   * Streaming twin of `Sampling.capPerGroup` (q45): admit at most
   * `maxPerGroup` rows per group over the stream's lifetime. Within a
   * micro-batch the draw uses the SAME hash-of-key order as the batch
   * operator (so a single-batch run is bit-identical to batch); across
   * batches admission is first-come — a stream cannot rank against future
   * arrivals. State is one counter per group.
   */
  def capPerGroupStream(rows: Dataset[KeyedRow], maxPerGroup: Int): Dataset[KeyedRow] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (g: String, it: Iterator[KeyedRow], state: GroupState[AdmitCount]) =>
          val have = state.getOption.map(_.n).getOrElse(0L)
          val room = math.max(0L, maxPerGroup - have).toInt
          val admitted = it.toSeq
            .sortBy(r => (graft.functions.Hashing.stableHash60Scala(r.id.toString), r.id))
            .take(room)
          state.update(AdmitCount(have + admitted.size))
          admitted.iterator
      }
  }

  final case class AlertEvent(stationId: String, alertLevel: String, eventTime: java.sql.Timestamp)
  final case class StreakState(current: Int, longest: Int) {
    /** The state after one station's batch of events, taken in event-time
      * order (the group is small: one station, one micro-batch). */
    def advance(events: Iterator[AlertEvent]): StreakState =
      events.toSeq.sortBy(_.eventTime.getTime).foldLeft(this) { (s, e) =>
        val cur = if (Enrich.AlertTiers.contains(e.alertLevel)) s.current + 1 else 0
        StreakState(cur, math.max(s.longest, cur))
      }
  }
  final case class StreakUpdate(stationId: String, currentStreak: Int, longestStreak: Int)

  /**
   * The same streak tracker on Spark 4's transformWithState API — state
   * lives in named, TTL-capable state variables (RocksDB-backed provider
   * in production configs) instead of one opaque GroupState blob; timers
   * and multiple state vars compose per processor. Functional twin of
   * [[alertStreaks]] so both APIs are covered and cross-checked.
   */
  class StreakProcessor extends StatefulProcessor[String, AlertEvent, StreakUpdate] {
    @transient private var state: ValueState[StreakState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[StreakState](
        "streak", Encoders.product[StreakState], TTLConfig.NONE)

    override def handleInputRows(station: String, rows: Iterator[AlertEvent],
                                 timerValues: TimerValues): Iterator[StreakUpdate] = {
      val s = Option(state.get()).getOrElse(StreakState(0, 0)).advance(rows)
      state.update(s)
      Iterator.single(StreakUpdate(station, s.current, s.longest))
    }
  }

  def alertStreaksTws(events: Dataset[AlertEvent]): Dataset[StreakUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.stationId)
      .transformWithState(new StreakProcessor, TimeMode.None(), OutputMode.Append())
  }

  /**
   * Arbitrary stateful processing (flatMapGroupsWithState): track per
   * station the current and longest run of consecutive alerting readings
   * (WARNING/CRITICAL). Emits an update whenever a group sees data;
   * processing-time timeout expires idle stations' state.
   */
  def alertStreaks(events: Dataset[AlertEvent],
                   timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout()): Dataset[StreakUpdate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.stationId)
      .flatMapGroupsWithState(OutputMode.Append(), timeout) {
        (station: String, rows: Iterator[AlertEvent], state: GroupState[StreakState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val s = state.getOption.getOrElse(StreakState(0, 0)).advance(rows)
            state.update(s)
            if (timeout != GroupStateTimeout.NoTimeout())
              state.setTimeoutDuration("1 hour")
            Iterator.single(StreakUpdate(station, s.current, s.longest))
          }
      }
  }
}
