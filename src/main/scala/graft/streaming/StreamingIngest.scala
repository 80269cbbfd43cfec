package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/**
 * Structured-Streaming surface for the engine. The reference is cron-batch
 * only (SURVEY §2.8) — its "incremental load" is a watermark-bounded batch
 * query on a schedule. This module is the streaming-native expression of the
 * same semantics, which a continuously-fed 100 TB lake needs:
 *
 *  - `incrementalStream`: the batch watermark window (P3/I1) becomes a real
 *    event-time watermark — late rows beyond the delay are dropped by the
 *    engine instead of re-extracted next run.
 *  - `windowedCounts`: the per-period aggregation the reference materializes
 *    via full reloads, as an incremental windowed aggregate.
 *  - `sessionize`: custom per-key state (flatMapGroupsWithState), the shape
 *    any bespoke streaming operator plugs into.
 *
 * State is partitioned by key; throughput scales with
 * `spark.sql.shuffle.partitions` — state-store shards are per-partition.
 */
object StreamingIngest {

  /** Stream a raw directory of parquet drops (the raw-zone pattern, S4) with
    * an event-time watermark replacing the batch DELAY_INCREMENTAL_INI.
    * The ts column goes through [[graft.sources.EventLog.normalizeTs]]
    * BEFORE the watermark: raw-zone producers re-encode timestamps across
    * generations (nanos-as-long / NTZ / micros / ISO string — the drift
    * EventLog documents), and a watermark bound to one hard-assumed
    * encoding breaks on the next regeneration. The normalization is a
    * pure column rewrite, so it composes with the streaming source. */
  def incrementalStream(spark: SparkSession, path: String, schema: StructType,
      tsCol: String, delay: String = "1 hour"): DataFrame =
    graft.sources.EventLog.normalizeTs(
      spark.readStream.schema(schema).parquet(path), tsCol)
      .withWatermark(tsCol, delay)

  /** Windowed event counts + value sums per type (append-mode capable). */
  def windowedCounts(events: DataFrame, tsCol: String = "ts",
      window_ : String = "5 minutes", slide: String = "5 minutes"): DataFrame =
    events
      .groupBy(window(col(tsCol), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))

  /** EVENT-TIME session windows (native `session_window`, the declarative
    * sibling of [[sessionize]]'s custom-state form): per-user sessions
    * close when event time goes `gap` quiet, independent of arrival
    * timing — replays and backfills produce identical sessions, which the
    * processing-time variant cannot promise. State is evicted by the
    * watermark. Works identically on a batch frame (used by the parity
    * spec). */
  def sessionWindowStats(events: DataFrame, tsCol: String = "ts",
      gap: String = "30 minutes", delay: String = "1 hour"): DataFrame = {
    // respect an upstream watermark (e.g. incrementalStream's): redefining
    // one on the same stream is an analysis error
    val hasWatermark = events.queryExecution.analyzed.collectFirst {
      case e: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark
        => e
    }.nonEmpty
    val in = if (events.isStreaming && !hasWatermark)
      events.withWatermark(tsCol, delay) else events
    in.groupBy(session_window(col(tsCol), gap), col("user_id"))
      // cents, not raw double sums: a float total would depend on the
      // partial-aggregation order and stream/batch parity could drift in
      // the last ulp — the catalog's money discipline applies here too
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100).cast("long")).as("total_cents"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("user_id"),
        col("n_events"), col("total_cents"))
  }

  /** Streaming dedup: first row per key wins, duplicate arrivals within the
    * watermark horizon are dropped, and the per-key state itself is evicted
    * once the watermark passes — WITHOUT the horizon bound, dedup state grows
    * with every key ever seen, the thing that kills a long-running job. The
    * streaming face of W1/D2 (batch: latest-per-key window dedup). */
  def streamingDedup(events: DataFrame, keys: Seq[String], tsCol: String,
      delay: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys)

  /** Streaming heavy-hitter candidate tracking: ONE Misra–Gries aggregate
    * (see [[graft.plans.MisraGriesAgg]]) over the whole stream — state is
    * bounded at `k` (item, count) entries TOTAL no matter how long the
    * stream runs or how large the value domain grows, which is the property
    * a long-running job needs (a groupBy-count's state grows with every
    * distinct value ever seen). Every value with overall frequency
    * > n_total/(k+1) is guaranteed present; counts are lower bounds. Emits
    * one row (candidates array + exact n_total) per trigger in
    * complete/update mode; the periodic exact recount is a batch
    * [[graft.ops.TextOps.heavyHitters]] pass over the landed data. */
  def heavyHitterCandidates(stream: DataFrame, valueCol: String,
      k: Int): DataFrame =
    stream.agg(
      graft.plans.GraftExpressions.misra_gries(col(valueCol), k)
        .as("candidates"),
      count(col(valueCol)).as("n_total"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  /** Exact event-time micros of a Timestamp. `getTime` alone truncates to
    * MILLIS — an operator ordering or differencing on it silently
    * diverges from its batch counterpart on the micros-precision events
    * fixture (the batch windows compare `unix_micros`). */
  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  final case class SessionState(nEvents: Long, total: Double, lastTs: Long)
  final case class SessionOut(user_id: Long, nEvents: Long, total: Double)

  /** Per-user sessionization with a processing-time gap timeout — emits a
    * summary row when a user's session closes. */
  def sessionize(events: Dataset[Event], gapMs: Long = 30000L)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.ProcessingTimeTimeout)(
        (uid: Long, rows: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionOut(uid, s.nEvents, s.total))
          } else {
            val prev = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
            val batch = rows.toSeq
            val next = SessionState(prev.nEvents + batch.size,
              prev.total + batch.map(_.value).sum,
              math.max(prev.lastTs, batch.map(_.ts.getTime).max))
            state.update(next)
            state.setTimeoutDuration(gapMs)
            Iterator.empty
          }
        })
  }

  final case class DecayState(week: Long, acc: Long, n: Long)
  final case class DecayOut(user_id: Long, week: Long,
    engagement_micros: Long, n_events: Long)

  /**
   * Streaming recency-decayed engagement — the streaming face of
   * `q_agg_decay`'s power-of-two half-life features, maintained
   * incrementally: per user the state holds ONE accumulator normalized to
   * the user's latest event week; when a newer event arrives the
   * accumulator right-shifts by the week delta before adding, and a LATE
   * event shifts its own contribution instead (monotone state — late data
   * folds in without rewinding). Every update emits the user's current
   * (week, engagement_micros, n_events) row.
   *
   * All integer arithmetic — the fold recurrence is the contract and is
   * deterministic for a given arrival order; within a micro-batch rows
   * fold in (ts, event_id) order so replays of the same batch sequence
   * reproduce the same outputs. Note the incremental fold truncates at
   * each step (floor(floor(a/2^s)+b) vs the batch formula's one floor per
   * term), so it is a <=1-unit-per-fold lower neighbor of the batch
   * number — the documented price of O(1) state per user (three longs;
   * bound the keyspace with a timeout in a production sink).
   */
  def decayedEngagement(events: Dataset[Event],
      halfLifeHours: Long = 168L): Dataset[DecayOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[Event], state: GroupState[DecayState]) => {
          var s = state.getOption.getOrElse(DecayState(Long.MinValue, 0L, 0L))
          rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val w = e.ts.getTime / 1000L / 3600L / halfLifeHours
            val micros = math.floor(e.value * 1e6).toLong
            s =
              if (s.week == Long.MinValue) DecayState(w, micros, 1L)
              else if (w >= s.week) {
                val sh = math.min(w - s.week, 62L).toInt
                DecayState(w, (s.acc >> sh) + micros, s.n + 1L)
              } else {
                val sh = math.min(s.week - w, 62L).toInt
                DecayState(s.week, s.acc + (micros >> sh), s.n + 1L)
              }
          }
          state.update(s)
          DecayOut(uid, s.week, s.acc, s.n)
        })
  }

  final case class TouchState(touch: String, lastTs: Long, lastId: Long) // lastTs in event-time MICROS
  final case class AttributionOut(event_id: Long, user_id: Long,
    touch: String, value_cents: Long)

  /**
   * Streaming last-touch attribution — the streaming face of
   * `q_seq_attribution`: per user the state is ONE (touch, ts, event_id)
   * triple, the latest click/view seen so far; each purchase emits a
   * conversion row crediting that touch ('organic' when no prior touch
   * exists). O(1) state per user — a 100 TB clickstream keys this by its
   * user cardinality, not its event count (bound the keyspace with a
   * timeout in a production sink).
   *
   * Within a micro-batch rows fold in (ts, event_id) order, so a replayed
   * batch sequence reproduces the same outputs; an in-order stream
   * reproduces the batch window exactly (spec-pinned). An out-of-order
   * arrival attributes to the latest touch SEEN so far — the documented
   * price of constant state; the event-time-exact answer is the batch
   * query.
   */
  def lastTouchAttribution(events: Dataset[Event])
      : Dataset[AttributionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[Event],
            state: GroupState[TouchState]) => {
          var s = state.getOption.orNull
          val out = scala.collection.mutable.ListBuffer[AttributionOut]()
          rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id)).foreach { e =>
            e.event_type match {
              case "click" | "view" =>
                val t = tsMicros(e.ts)
                if (s == null || t > s.lastTs ||
                    (t == s.lastTs && e.event_id > s.lastId))
                  s = TouchState(e.event_type, t, e.event_id)
              case "purchase" =>
                out += AttributionOut(e.event_id, uid,
                  if (s == null) "organic" else s.touch,
                  math.floor(e.value * 100).toLong)
              case _ => ()
            }
          }
          if (s != null) state.update(s)
          out.iterator
        })
  }

  final case class DebounceOut(event_id: Long, user_id: Long,
    event_type: String, kept: Boolean)

  /**
   * Streaming debounce — the streaming face of `q_dedup_debounce`: an
   * event repeating its (user, type) key within `minGapMs` of the
   * PREVIOUS occurrence (kept or not — lag semantics, matching the batch
   * window) is flagged as a client-side duplicate. State per key is ONE
   * long (the last event's timestamp); in-order streams reproduce the
   * batch window exactly (spec-pinned against a reference fold).
   */
  def debounce(events: Dataset[Event], minGapMs: Long = 5000L)
      : Dataset[DebounceOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Long, String), rows: Iterator[Event],
            state: GroupState[Long]) => {
          var last = state.getOption.getOrElse(Long.MinValue)
          val out = rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id))
            .map { e =>
              val t = tsMicros(e.ts)
              val kept = last == Long.MinValue ||
                t - last >= minGapMs * 1000L
              last = t
              DebounceOut(e.event_id, key._1, key._2, kept)
            }
          state.update(last)
          out.iterator
        })
  }

  final case class GeoPing(ping_id: Long, device_id: Long,
    ts: java.sql.Timestamp, lat: Long, lon: Long)
  final case class FenceTransition(device_id: Long, ping_id: Long,
    from_fence: String, to_fence: String, kind: String)

  /**
   * Streaming geofence transition detection — the streaming face of
   * `q_geo_fence` (graft.ops.Geo.assignFences): per device, emit a row
   * whenever the containing fence CHANGES (`enter` from outside,
   * `exit` to outside, `switch` fence-to-fence); steady pings inside
   * one fence emit nothing. Fences are a driver-side literal list
   * (first containing rectangle wins, half-open micro bounds — the
   * same contract as the batch op), so containment is a constant
   * per-ping probe; state per device is ONE fence name. Micro-batch
   * rows fold in (event-time, ping_id) order — in-order streams
   * reproduce the reference fold exactly (spec-pinned); out-of-order
   * arrivals fold at arrival position, the documented price of O(1)
   * state.
   */
  def geofenceTransitions(pings: Dataset[GeoPing],
      fences: Seq[(String, Long, Long, Long, Long)])
      : Dataset[FenceTransition] = {
    import pings.sparkSession.implicits._
    require(fences.nonEmpty, "geofenceTransitions needs >= 1 fence")
    def fenceOf(lat: Long, lon: Long): String =
      fences.collectFirst {
        case (id, latLo, latHi, lonLo, lonHi)
          if lat >= latLo && lat < latHi &&
             lon >= lonLo && lon < lonHi => id
      }.orNull
    pings.groupByKey(_.device_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (dev: Long, rows: Iterator[GeoPing],
            state: GroupState[String]) => {
          // "" = known-outside; state absent = never seen
          var cur = state.getOption.orNull
          val out = scala.collection.mutable.ListBuffer[FenceTransition]()
          rows.toSeq.sortBy(p => (tsMicros(p.ts), p.ping_id)).foreach { p =>
            val f = fenceOf(p.lat, p.lon)
            val fKey = if (f == null) "" else f
            if (cur == null) {
              // first ping ever: entering a fence is a transition,
              // starting outside is not
              if (fKey.nonEmpty)
                out += FenceTransition(dev, p.ping_id, null, f, "enter")
              cur = fKey
            } else if (fKey != cur) {
              val kind =
                if (cur.isEmpty) "enter"
                else if (fKey.isEmpty) "exit"
                else "switch"
              out += FenceTransition(dev, p.ping_id,
                if (cur.isEmpty) null else cur,
                if (fKey.isEmpty) null else f, kind)
              cur = fKey
            }
          }
          state.update(cur)
          out.iterator
        })
  }

  final case class TrajState(lat: Long, lon: Long, path: Long, n: Long)
  final case class TrajUpdate(device_id: Long, ping_id: Long,
    n_pings: Long, step_micro: Long, path_micro: Long)

  /**
   * Streaming trajectory accumulation — the streaming face of
   * `q_geo_trajectory`: per device, each ping advances the running
   * path length by `floor(sqrt(segment d2))` in exact micro units
   * (correctly-rounded sqrt + floor — the SAME segment quantization
   * the batch query sums, so an in-order stream's final `path_micro`
   * equals the batch answer exactly; spec-pinned). State per device is
   * four longs. Emits one update row per ping (the live-odometer
   * shape); out-of-order arrivals fold at arrival position — the
   * documented O(1)-state price, the event-time-exact answer is the
   * batch query.
   */
  def trajectoryStream(pings: Dataset[GeoPing]): Dataset[TrajUpdate] = {
    import pings.sparkSession.implicits._
    pings.groupByKey(_.device_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (dev: Long, rows: Iterator[GeoPing],
            state: GroupState[TrajState]) => {
          var s = state.getOption.orNull
          val out = scala.collection.mutable.ListBuffer[TrajUpdate]()
          rows.toSeq.sortBy(p => (tsMicros(p.ts), p.ping_id)).foreach { p =>
            val step = if (s == null) 0L else {
              val dlat = p.lat - s.lat
              val dlon = p.lon - s.lon
              math.floor(math.sqrt(
                (dlat * dlat + dlon * dlon).toDouble)).toLong
            }
            s = TrajState(p.lat, p.lon,
              (if (s == null) 0L else s.path) + step,
              (if (s == null) 0L else s.n) + 1L)
            out += TrajUpdate(dev, p.ping_id, s.n, step, s.path)
          }
          if (s != null) state.update(s)
          out.iterator
        })
  }

  final case class CusumState(n: Long, sum: Long, mean: Long,
    sPos: Long, sNeg: Long)
  final case class CusumAlarm(event_type: String, event_id: Long,
    side: String, stat_micro: Long, mean_micro: Long)

  /**
   * Streaming CUSUM drift alarm (Page 1954) — the streaming face of
   * `q_agg_cusum`: per key (event_type) the state is FIVE longs — warmup
   * count/sum plus the frozen baseline mean, and the two one-sided CUSUM
   * statistics. The first `warmup` events fix the baseline (exact integer
   * division of micro sums); afterwards
   *   S⁺ = max(0, S⁺ + (x − μ − slack)),  S⁻ = max(0, S⁻ + (μ − x − slack))
   * and a strict crossing of `thresholdMicro` emits an alarm row and
   * resets that side — exact BIGINT micros end to end, no float state.
   * O(1) state per key: a 100 TB stream keys this by metric cardinality,
   * not event count. Micro-batch rows fold in (event-time, event_id)
   * order, so an in-order stream reproduces the reference fold exactly
   * (spec-pinned); out-of-order arrivals fold at arrival position — the
   * documented price of constant state (the event-time-exact answer is
   * the batch CUSUM query).
   */
  def cusumAlarms(events: Dataset[Event], warmup: Long = 50L,
      slackMicro: Long = 20000000L, thresholdMicro: Long = 400000000L)
      : Dataset[CusumAlarm] = {
    import events.sparkSession.implicits._
    require(warmup >= 1, s"warmup=$warmup must be >= 1")
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[Event],
            state: GroupState[CusumState]) => {
          var s = state.getOption.getOrElse(CusumState(0L, 0L, 0L, 0L, 0L))
          val out = scala.collection.mutable.ListBuffer[CusumAlarm]()
          rows.toSeq.sortBy(e => (tsMicros(e.ts), e.event_id)).foreach { e =>
            val x = math.floor(e.value * 1e6).toLong
            if (s.n < warmup) {
              val n = s.n + 1; val sum = s.sum + x
              // floorDiv, not `/`: Java `/` truncates toward zero, which
              // for a negative warmup sum would silently diverge from any
              // floor-based (`//`) batch oracle — floorDiv pins the spec
              s = CusumState(n, sum,
                if (n == warmup) Math.floorDiv(sum, warmup) else 0L, 0L, 0L)
            } else {
              var sp = math.max(0L, s.sPos + (x - s.mean - slackMicro))
              var sn = math.max(0L, s.sNeg + (s.mean - x - slackMicro))
              if (sp > thresholdMicro) {
                out += CusumAlarm(key, e.event_id, "up", sp, s.mean); sp = 0L
              }
              if (sn > thresholdMicro) {
                out += CusumAlarm(key, e.event_id, "down", sn, s.mean)
                sn = 0L
              }
              s = CusumState(s.n, s.sum, s.mean, sp, sn)
            }
          }
          state.update(s)
          out.iterator
        })
  }

  /**
   * Streaming KMV distinct sketch — per key the state is the k smallest
   * distinct 60-bit hashes seen so far (O(k) longs); each micro-batch
   * emits the key's current estimate using the SAME (k-1)·2^60/h_k
   * formula as the batch `kmv_distinct` aggregate, so a drained in-order
   * stream lands on the batch number exactly (spec-pinned). The streaming
   * face of q_profile_sketch_merge's mergeability: folding a batch into
   * the state IS the bottom-k union merge.
   */
  def kmvSketchStream(hashed: Dataset[(String, Long)], k: Int = 16)
      : Dataset[(String, Double)] = {
    import hashed.sparkSession.implicits._
    require(k >= 2, s"k=$k must be >= 2")
    hashed.groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[(String, Long)],
            state: GroupState[Array[Long]]) => {
          val prev = state.getOption.getOrElse(Array.empty[Long])
          val merged = (prev.iterator ++ rows.map(_._2)).toArray
            .distinct.sorted.take(k)
          state.update(merged)
          val est =
            if (merged.length < k) merged.length.toDouble
            else (k - 1).toDouble * 1152921504606846976.0 /
              merged(k - 1).toDouble
          (key, est)
        })
  }

  final case class MgState(items: Array[String], counts: Array[Long],
    n: Long)
  final case class MgOut(key: String, n: Long, item: String, lb: Long)

  /**
   * Streaming Misra–Gries heavy-hitter summary — the streaming face of the
   * batch `misra_gries` aggregate ([[graft.plans.MisraGriesAgg]]): per key
   * the state is ≤ k (item, count) entries plus the stream length n; an
   * arriving item increments its entry, opens one if there is room, and
   * otherwise decrements EVERY entry (dropping zeros) — the identical
   * update rule, so a drained single-partition in-order stream reproduces
   * the batch one-partition fold exactly (spec-pinned, like the KMV and
   * CUSUM states). Each micro-batch emits the key's current candidate set
   * with its lower-bound counts and n: every item with true frequency
   * > n/(k+1) is guaranteed present, and each lb undershoots by at most
   * n/(k+1) — the same candidates-then-exact-recount contract as the
   * batch operator ([[graft.ops.TextOps.heavyHitters]] is the second
   * pass). O(k) state per key, O(1) amortized per row.
   */
  def heavyHitterStream(rows: Dataset[(String, String)], k: Int = 8)
      : Dataset[MgOut] = {
    import rows.sparkSession.implicits._
    require(k >= 1 && k <= 65536, s"k=$k out of [1, 65536]")
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[(String, String)],
            state: GroupState[MgState]) => {
          val buf = scala.collection.mutable.LinkedHashMap
            .empty[String, Long]
          var n = 0L
          state.getOption.foreach { s =>
            var i = 0
            while (i < s.items.length) {
              buf.put(s.items(i), s.counts(i)); i += 1
            }
            n = s.n
          }
          it.foreach { case (_, item) =>
            n += 1L
            buf.get(item) match {
              case Some(c) => buf.update(item, c + 1L)
              case None if buf.size < k => buf.put(item, 1L)
              case None =>
                // decrement-all cancels k+1 arrivals; new item not kept
                val dead = scala.collection.mutable.ArrayBuffer
                  .empty[String]
                buf.keysIterator.foreach { kk =>
                  val c = buf(kk) - 1L
                  if (c == 0L) dead += kk else buf.update(kk, c)
                }
                dead.foreach(buf.remove)
            }
          }
          state.update(MgState(buf.keys.toArray, buf.values.toArray, n))
          buf.toSeq.sortBy { case (item, lb) => (-lb, item) }
            .iterator.map { case (item, lb) => MgOut(key, n, item, lb) }
        })
  }

  final case class QBoundOut(key: String, n: Long, bucket: Int,
    lo: Long, hi: Long)

  /**
   * Streaming constant-state quantile bound — the streaming face of
   * `Stats.quantileBounds`: per key the state is 65 power-of-two bucket
   * counters (bucket = bit-length of v+1, the same rule as the batch
   * aggregate), so ANY stream length costs O(65 longs) per key. Each
   * update emits the bucket containing the q-quantile with its [lo, hi]
   * value range — the range is GUARANTEED to contain the exact discrete
   * quantile, and a drained in-order stream lands on the batch
   * operator's bucket exactly (spec-pinned). Negative values are
   * ignored, as in the batch operator.
   */
  def quantileBoundStream(rows: Dataset[(String, Long)], q: Double = 0.5)
      : Dataset[QBoundOut] = {
    import rows.sparkSession.implicits._
    require(q > 0 && q <= 1, s"q in (0,1]: $q")
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (key: String, it: Iterator[(String, Long)],
            state: GroupState[Array[Long]]) => {
          val counts = state.getOption.getOrElse(new Array[Long](65))
          it.foreach { case (_, v) =>
            if (v >= 0) {
              val b = 64 - java.lang.Long.numberOfLeadingZeros(v + 1)
              counts(b) += 1
            }
          }
          state.update(counts)
          val n = counts.sum
          // no non-negative value yet -> no row, matching the batch
          // operator (which has no group to emit); emitting here would
          // fabricate a bucket from an all-zero histogram
          if (n == 0L) Iterator.empty
          else {
            val rank = math.max(math.ceil(q * n).toLong, 1L)
            var cum = 0L; var found = 0; var i = 0
            while (i < counts.length && found == 0) {
              cum += counts(i)
              if (cum >= rank) found = i
              i += 1
            }
            Iterator.single(QBoundOut(key, n, found,
              (1L << (found - 1)) - 1, (1L << found) - 2))
          }
        })
  }

  /**
   * CDC stream into a SNAPSHOT-COMMITTED table: each micro-batch upserts
   * through `SnapshotStore.commitMerge`, so concurrent readers always see a
   * complete committed version — no mid-swap window, and a reader holding
   * version N keeps it while the stream commits N+1.. (vacuum retention
   * permitting). Contrast [[mergeSink]]: same upsert semantics and a
   * crash-atomic publish too, but a reader that lists its table during
   * the publish's two renames can find it missing.
   * Replays converge: a checkpoint-replayed batch upserts rows the table
   * already carries — it commits a new (identical-content) version rather
   * than corrupting one. Vacuum periodically (`vacuumEvery` batches,
   * `keep` retention) or old versions accumulate one per micro-batch.
   */
  def snapshotMergeSink(stream: DataFrame, root: String, ids: Seq[String],
      checkpoint: String, recency: Seq[String] = Nil,
      vacuumEvery: Int = 10, keep: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    snapshotSink(stream, root, ids, checkpoint, recency, vacuumEvery, keep,
      graft.write.MergeWriter.upsert)

  /**
   * Sparse-CDC stream into a snapshot-committed table: each micro-batch
   * applies [[graft.write.MergeWriter.upsertPartial]] — a NULL in the
   * change image KEEPS the table's value (the Debezium/partial-image
   * feed shape) where [[snapshotMergeSink]]'s update-ALL would erase
   * every column the event didn't carry. Commits ride
   * `SnapshotStore.commitMerge` (readers always see a complete version);
   * replay converges because the deterministic batch dedup + coalesce
   * patch are idempotent against an already-patched table — same
   * at-least-once argument as [[mergeSink]]/[[scd2Sink]].
   */
  def partialMergeSink(stream: DataFrame, root: String, ids: Seq[String],
      checkpoint: String, recency: Seq[String] = Nil,
      vacuumEvery: Int = 10, keep: Int = 3)
      : org.apache.spark.sql.streaming.StreamingQuery =
    snapshotSink(stream, root, ids, checkpoint, recency, vacuumEvery, keep,
      graft.write.MergeWriter.upsertPartial)

  /** The body of [[snapshotMergeSink]] and [[partialMergeSink]]: each
    * non-empty micro-batch commits `merge(current, batch, ids, recency)`
    * through `SnapshotStore.commitMerge`, the first one the batch
    * deduplicated by `StageTransform.dedupLatest`, with a vacuum every
    * `vacuumEvery` batches. */
  private def snapshotSink(stream: DataFrame, root: String, ids: Seq[String],
      checkpoint: String, recency: Seq[String], vacuumEvery: Int, keep: Int,
      merge: (DataFrame, DataFrame, Seq[String], Seq[String]) => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.write.SnapshotStore.commitMerge(batch.sparkSession, root, {
            case Some(cur) => merge(cur, batch, ids, recency)
            case None =>
              graft.pipeline.StageTransform.dedupLatest(batch, ids, recency)
          })
          if (vacuumEvery > 0 && batchId % vacuumEvery == vacuumEvery - 1)
            graft.write.SnapshotStore.vacuum(root, keep)
          ()
        }
      }
      .start()

  /**
   * Watermarked STREAM-STREAM inner join: left rows match right rows with
   * the same `key` whose event time falls in `[leftTs - before,
   * leftTs + after]`. The two things that keep join state BOUNDED on an
   * unbounded stream — and that a naive `left.join(right, key)` lacks —
   * are both mandatory here: watermarks on BOTH sides (how late a row may
   * arrive) and the time-range join condition (how long a buffered row can
   * still find partners). Together they let the engine evict a buffered
   * row once the other side's watermark passes its window; without either,
   * state grows with every row ever seen and a long-running job dies by
   * state-store. Output columns: all left columns + the right side's
   * non-key columns.
   */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, before: String, after: String,
      delay: String = "1 hour"): DataFrame = {
    require(leftTs != rightTs,
      "leftTs and rightTs must be distinct column names (both survive the join)")
    val l = left.withWatermark(leftTs, delay).alias("l")
    val r = right.withWatermark(rightTs, delay).alias("r")
    l.join(r,
        col(s"l.$key") === col(s"r.$key") &&
          col(s"r.$rightTs") >= col(s"l.$leftTs") - expr(s"INTERVAL $before") &&
          col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $after"))
      .drop(col(s"r.$key"))
  }

  /**
   * CDC-style continuous merge: every micro-batch upserts into the stage
   * table through `MergeWriter.write` — the streaming form of the
   * reference's scheduled increment-then-MERGE cycle
   * (aje-stage-dms-load.py:470-518 on a cron trigger). With `partitionCols`
   * set AND the pruned-merge stability contract satisfied (partition columns
   * within `ids`, or asserted via `partitionStable` — see MergeWriter.write),
   * each micro-batch rewrites ONLY the partitions it touches (the
   * partition-pruned merge path), so steady-state cost tracks the increment
   * size, not the table size. Recovery semantics: the source replays from
   * the checkpoint at-least-once, and the upsert is idempotent per batch
   * (same keys, same rows — MergeWriterSpec "merging the same batch twice"),
   * so a replayed batch converges to the same table.
   */
  def mergeSink(stream: DataFrame, path: String, ids: Seq[String],
      checkpoint: String, partitionCols: Seq[String] = Nil,
      partitionStable: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        try {
          graft.write.MergeWriter.write(batch.sparkSession, batch, path,
            graft.meta.LoadMode.IncrementalMerge, ids, partitionCols,
            retrySleepMs = _ => 0L, partitionStable = partitionStable)
          ()
        } catch {
          // empty first batch against a missing table bootstraps it; the
          // signal exception is batch-job protocol, not a stream failure
          case _: graft.write.MergeWriter.NoDataToMigrateException => ()
        }
      }
      .start()

  /**
   * CDC stream into an SCD-2 HISTORY table: each micro-batch closes changed
   * versions and opens new ones through `MergeWriter.scd2Merge`; the first
   * batch with rows bootstraps (an empty one writes no data file, so
   * `MergeWriter.tableExists` still finds no table). The version label is derived from the BATCH ID, not
   * wall clock, so a checkpoint-replayed batch re-merges with the SAME
   * label against rows that already carry its values — a no-op — giving
   * at-least-once replay convergence just like [[mergeSink]]. That rests on
   * the batch dedup being deterministic: the merge and the bootstrap both
   * go through `StageTransform.dedupLatest`, whose order is total up to
   * identical rows (recency, then every other column), so the replayed
   * batch picks the same row even when its recency ties.
   *
   * The table is partitioned on `scd_part = coalesce(valid_to,
   * '__current__')` and each micro-batch goes through the PRUNED merge:
   * only the `__current__` partition is read and rewritten, plus one fresh
   * `scd_part=<versionTs>` partition for the rows this batch closes. A
   * closed row's valid_to never changes again, so closed partitions are
   * immutable by construction — the pruned-merge stability contract holds
   * trivially, and per-batch cost is O(|current| + |batch|) instead of the
   * O(|history|) whole-table rewrite (history grows monotonically; a
   * continuously-running CDC sink would otherwise slow down forever).
   * `recency` orders multi-change micro-batches (latest row per key wins).
   */
  def scd2Sink(stream: DataFrame, path: String, ids: Seq[String],
      checkpoint: String, versionOf: Long => String = b => f"batch-$b%06d",
      recency: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val CUR = "__current__"
    val part = coalesce(col("valid_to"), lit(CUR)).as("scd_part")
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        if (graft.write.MergeWriter.tableExists(path)) {
          graft.write.MergeWriter.prunedMergeWrite(
            s, batch.withColumn("scd_part", lit(CUR)), path,
            Seq("scd_part"), alsoTouched = None,
            (tgt, b) => graft.write.MergeWriter
              .scd2Merge(tgt.drop("scd_part"), b.drop("scd_part"),
                ids, versionOf(batchId), recency)
              .withColumn("scd_part", part))
        } else {
          val boot = graft.write.MergeWriter
            .scd2Bootstrap(graft.pipeline.StageTransform
                .dedupLatest(batch, ids, recency), versionOf(batchId))
            .withColumn("scd_part", part)
          graft.write.MergeWriter.writeSwap(boot, path, Seq("scd_part"))
        }
        ()
      }
      .start()
  }

  final case class AsofTick(k: Long, ts: java.sql.Timestamp, side: Int,
      id: Long, payload: Double)
  final case class AsofState(lastTs: Long, payload: Double, has: Boolean)
  final case class AsofOut(id: Long, k: Long, ts: java.sql.Timestamp,
      payload: Option[Double])

  /** Tag a frame as the left (probe) side of [[asofEnrich]]. */
  def asofLeft(df: DataFrame, kCol: String, tsCol: String, idCol: String)
      : DataFrame =
    df.select(col(kCol).cast("long").as("k"), col(tsCol).as("ts"),
      lit(1).as("side"), col(idCol).cast("long").as("id"),
      lit(0.0).as("payload"))

  /** Tag a frame as the right (state) side of [[asofEnrich]]. */
  def asofRight(df: DataFrame, kCol: String, tsCol: String,
      payloadCol: String): DataFrame =
    df.select(col(kCol).cast("long").as("k"), col(tsCol).as("ts"),
      lit(0).as("side"), lit(0L).as("id"),
      col(payloadCol).cast("double").as("payload"))

  /**
   * Stream-stream as-of enrichment — the online feature join: each left
   * (probe) event picks up the latest right (state) payload at or before
   * its own timestamp. The streaming face of `ops/AsofJoin.backward`, fed
   * by the UNION of [[asofLeft]] and [[asofRight]] (the same union shape
   * the batch operator shuffles — here the union is what lets ONE state
   * function see both sides, which Spark's built-in stream-stream interval
   * join cannot express as "latest per key").
   *
   * State is ONE record per key — (last right ts, payload) — so the store
   * is bounded by the live key universe, never by stream length; pass an
   * idle-key TTL to evict keys that stop ticking. Ordering semantics:
   * rows are processed in event-time order WITHIN a micro-batch (sorted
   * here), and in arrival order across batches — a right row arriving
   * after a later-timestamped right row is ignored (monotone state
   * frontier), and a left row is enriched with the newest state KNOWN at
   * its batch, exactly like an online feature store. For bit-exact
   * retro-joins over settled data, run the batch `AsofJoin` — the spec
   * asserts the two agree whenever arrival order respects event time.
   */
  def asofEnrich(ticks: Dataset[AsofTick],
      idleTimeout: Option[String] = None): Dataset[AsofOut] = {
    import ticks.sparkSession.implicits._
    val timeoutConf =
      if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    ticks.groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (k: Long, rows: Iterator[AsofTick], state: GroupState[AsofState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // event-time order within the batch; right before left on ties
            val sorted = rows.toSeq.sortBy(t => (t.ts.getTime, t.side, t.id))
            var st = state.getOption.getOrElse(
              AsofState(Long.MinValue, 0.0, has = false))
            val out = Seq.newBuilder[AsofOut]
            sorted.foreach { t =>
              if (t.side == 0) {
                if (!st.has || t.ts.getTime >= st.lastTs)
                  st = AsofState(t.ts.getTime, t.payload, has = true)
              } else out += AsofOut(t.id, k, t.ts,
                if (st.has) Some(st.payload) else None)
            }
            state.update(st)
            idleTimeout.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
        })
  }

  /**
   * Streaming ingestion gate against a STATIC benchmark — decontamination at
   * arrival time, so contaminated documents never land in the stage zone.
   * The benchmark's distinct n-grams are collected once at plan time and
   * broadcast — the SMALL-benchmark fast path (eval sets are driver-sized
   * by contract; a benchmark too big to collect belongs on
   * [[contaminationGateBloom]], whose state is constant-size, and
   * corpus-scale retro-scans on the batch `Dedup.contaminationPairs`);
   * each arriving document is then scored
   * by a pure per-row function — tokenize, shingle, count membership in the
   * broadcast set. Completely STATELESS: no streaming aggregation, no state
   * store, works in append mode with unchanged watermark semantics, and the
   * identical function serves batch frames (spec asserts the equivalence).
   * Output: input columns + (n_matched, contaminated).
   */
  def contaminationGate(docs: DataFrame, textCol: String, bench: DataFrame,
      benchId: String, benchText: String, n: Int,
      minShared: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, LongType}
    val grams = graft.ops.Dedup
      .shingleTable(bench, benchId, benchText, n)
      .select("shingle").na.drop()
      .distinct().collect().map(_.getString(0)).toSet
    val bc = docs.sparkSession.sparkContext.broadcast(grams)
    val textIdx = docs.schema.fieldIndex(textCol)
    val outSchema = docs.schema
      .add("n_matched", LongType, false)
      .add("contaminated", BooleanType, false)
    docs.map { r =>
      val matched =
        if (r.isNullAt(textIdx)) 0L
        else {
          val toks = graft.plans.TokenizeAlnum.tokensOf(r.getString(textIdx))
          val set = bc.value
          val grams =
            if (toks.length >= n) toks.sliding(n).map(_.mkString(" ")).toSet
            else Set(toks.mkString(" "))
          grams.count(set.contains).toLong
        }
      Row.fromSeq(r.toSeq ++ Seq(matched, matched >= minShared))
    }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /**
   * Bloom form of [[contaminationGate]] — the corpus-scale-benchmark shape.
   * The exact gate collects the benchmark's distinct shingles to the driver
   * (fine for eval-set-sized benchmarks, its documented contract); this
   * variant folds them into a [[graft.plans.BloomBitsAgg]] bit array —
   * mBits/64 longs of CONSTANT state regardless of benchmark size —
   * computed inside the engine and attached as a one-row broadcast
   * stream-static join, so NOTHING benchmark-sized ever reaches the
   * driver. Per arriving row the grams are built columnarly with the same
   * tokenize → sliding-n → distinct semantics as the exact gate (short
   * texts fall back to the single whole-text gram) and counted against the
   * filter via `bloom_contains` inside a higher-order filter — stateless,
   * append-mode, no watermark, exactly like the exact gate.
   *
   * `n_matched` can OVER-count by bloom false positives but never under
   * (no false negatives: every true overlap is flagged), so the gate only
   * ever over-quarantines; size `mBits >> k * |benchmark grams|` (the
   * default 2^20 bits / k=4 gives ~1e-7 per-gram FP on a 10^4-gram
   * benchmark — see [[graft.ops.Dedup.bloomContamination]]).
   */
  def contaminationGateBloom(docs: DataFrame, textCol: String,
      bench: DataFrame, benchId: String, benchText: String, n: Int,
      minShared: Int, mBits: Int = 1 << 20, k: Int = 4): DataFrame = {
    val E = graft.plans.GraftExpressions
    val bits = graft.ops.Dedup.shingleTable(bench, benchId, benchText, n)
      .filter(col("shingle").isNotNull)
      .agg(E.bloom_bits(col("shingle"), mBits, k).as("__bits"))
    val toks = E.tokenize_alnum(col(textCol))
    val grams = when(size(toks) >= n,
        array_distinct(transform(sequence(lit(0), size(toks) - lit(n)),
          i => array_join(slice(toks, i + lit(1), lit(n)), " "))))
      .otherwise(array(array_join(toks, " ")))
    docs.crossJoin(broadcast(bits))
      .withColumn("n_matched",
        when(col(textCol).isNull, lit(0L))
          .otherwise(size(filter(grams,
            g => E.bloom_contains(col("__bits"), g, mBits, k)))
            .cast("long")))
      .withColumn("contaminated", col("n_matched") >= minShared)
      .drop("__bits")
  }

  /**
   * Streaming embedding-dedup sink with a SELF-MAINTAINING persisted ANN
   * index — the arrival-time twin of the batch
   * `Similarity.incrementalAnnPairs` story: each micro-batch builds its own
   * `Similarity.annIndex` (same tables/planes/dims as the stored index),
   * drops every arriving vector with a near-duplicate (quantized cosine >=
   * `threshold`) either in the persisted corpus index (corpus always wins)
   * or earlier in its own batch (smaller id wins — `semanticDedup`'s greedy
   * rule), appends the SURVIVORS to `outPath` and their index rows to
   * `indexPath`. The index therefore always holds exactly the canonical
   * vectors, and per-batch cost is |batch| x bucket-collision work against
   * an equi-joined index — never a corpus rescan.
   *
   * Replay semantics (at-least-once source): survivors are appended to
   * `outPath` BEFORE their index rows. A crash between the two appends can
   * duplicate rows in `outPath` on replay (standard at-least-once output —
   * downstream exact dedup or an idempotent consumer absorbs it); once the
   * index append lands, a replayed batch's vectors match THEMSELVES in the
   * index at cosine 1 and are dropped, so the sink converges. Atomic
   * variants would route both appends through one SnapshotStore commit.
   */
  def annDedupSink(stream: DataFrame, idCol: String, vecCol: String,
      outPath: String, indexPath: String, checkpoint: String,
      threshold: Double, tables: Int = 8, planes: Int = 6, dims: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          import graft.ops.Similarity
          // one batch-index build reused by both joins and the final append
          val newIdx = Similarity
            .annIndex(batch, idCol, vecCol, tables, planes, dims)
            .localCheckpoint()
          val cos = Similarity.qcosineWithNorms(
            graft.plans.GraftExpressions.int_dot(col("x.v"), col("y.v")),
            col("x.n2"), col("y.n2"))
          val vsBatch = newIdx.as("x").join(newIdx.as("y"),
              col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
                col("x.id") > col("y.id"))
            .filter(cos >= threshold)
            .select(col("x.id"))
          val dropIds = (if (graft.write.MergeWriter.tableExists(indexPath)) {
            val corpusIdx = s.read.parquet(indexPath)
            newIdx.as("x").join(corpusIdx.as("y"),
                col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
                  col("x.id") =!= col("y.id"))
              .filter(cos >= threshold)
              .select(col("x.id"))
              .union(vsBatch)
          } else vsBatch).distinct()
          val survivors = batch.join(dropIds.withColumnRenamed("id", idCol),
            Seq(idCol), "left_anti")
          survivors.write.mode("append").parquet(outPath)
          newIdx
            .join(survivors.select(col(idCol).as("id")), Seq("id"),
              "left_semi")
            .write.mode("append").parquet(indexPath)
          ()
        }
      }
      .start()

  /**
   * Streaming anomaly gate — the streaming face of
   * [[graft.ops.Stats.countAnomalies]]: windowed per-key live counts
   * compared against a STATIC baseline's count moments with the same
   * exact-integer k-sigma algebra (no floating point). The baseline is one
   * batch aggregate over history; the stream needs no corpus-wide state —
   * one watermarked windowed count per cell plus a broadcast join, so a
   * spiking key is flagged as soon as its window closes. Emits
   * `keyCols + (window_start, n_rows)` in append mode.
   */
  def anomalyGate(stream: DataFrame, tsCol: String, keyCols: Seq[String],
      windowDur: String, watermark: String, baseline: DataFrame,
      baselineCell: Column, k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val gcols = keyCols.map(col)
    val cells = baseline
      .groupBy(gcols :+ baselineCell.as("cell"): _*)
      .agg(count(lit(1)).as("n_rows"))
    val moments = cells.groupBy(gcols: _*).agg(
      count(lit(1)).as("n_cells"),
      sum(col("n_rows")).as("s1"),
      sum(col("n_rows") * col("n_rows")).as("s2"))
    val live = stream.withWatermark(tsCol, watermark)
      .groupBy(gcols :+ window(col(tsCol), windowDur).as("w"): _*)
      .agg(count(lit(1)).as("n_rows"))
    val dev = col("n_rows") * col("n_cells") - col("s1")
    live.join(broadcast(moments), keyCols)
      .filter(dev * dev > lit(k.toLong * k) *
        (col("n_cells") * col("s2") - col("s1") * col("s1")))
      .select(gcols ++ Seq(col("w.start").as("window_start"),
        col("n_rows")): _*)
  }

  /** Drive a streaming frame through a memory sink synchronously (test /
    * local verification harness). */
  /** Drive a streaming frame to completion under `Trigger.AvailableNow`
    * into a fresh parquet FILE sink (append mode — the only mode a file
    * sink supports) and hand back the landed rows as a batch frame. This
    * is the replay harness the oracle-checked q_stream_* catalog rows run
    * on: AvailableNow processes everything currently in the source
    * directory, then runs the no-data flush batch, so append-mode output
    * is exactly the watermark-finalized result — deterministic for a
    * fixed fixture, replayable by a batch engine. Checkpoint and sink are
    * per-invocation temp dirs (a reused checkpoint would resume instead
    * of replay). */
  def runAvailableNowToParquet(df: DataFrame): DataFrame = {
    val base = java.nio.file.Files
      .createTempDirectory("graft_stream_run").toString
    val out = s"$base/out"
    val q = df.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", out)
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    df.sparkSession.read.parquet(out)
  }

  def runToMemory(df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory")
      .queryName(name).start()
    q.processAllAvailable()
    q.stop()
    df.sparkSession.table(name)
  }
}
