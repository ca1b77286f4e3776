package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.core.EpochManifest
import graft.queries.Parity._

/** The streaming layer the reference declares but never implements
  * (`/root/reference/README.md:10-33`: Kafka → Spark Structured Streaming
  * "Clean data / Transformations / UDFs, Aggregates" → HDFS + MongoDB).
  *
  * Spark-first realization: `readStream` file source standing in for the
  * Kafka topic (S6 — swap `.format("kafka")` + `from_json(value)` for the
  * same downstream graph), event-time watermarks (ST4), tumbling and
  * session windows (ST3), within-watermark dedup (ST7/A1), arbitrary
  * state via `mapGroupsWithState`, and a `foreachBatch` dual sink (ST5)
  * writing the same micro-batch to a raw store and a serving store.
  *
  * Every transformation here is also exercised in batch form by
  * [[graft.queries.EventsCatalog]], which is what the DuckDB oracle
  * checks; StreamingSpec drives these incremental versions through
  * MemoryStream and asserts they agree with the batch results.
  *
  * Scale posture: watermarks bound all state; windowed aggregates shuffle
  * on (window, key) with partial aggregation; session windows and
  * stateful ops key by user_id (high cardinality — even state
  * distribution across executors); sinks are idempotent parquet dirs
  * keyed by checkpoint, giving exactly-once end-to-end.
  */
object Jobs {

  /** Typed event for the stateful APIs. */
  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double, props: String)

  /** Exact event-time microseconds of a Timestamp. `getTime` alone is
    * ms-truncated, which would mis-decide session gaps and cascade
    * comparisons within 1 ms of a boundary vs the µs-exact batch
    * queries. `floorDiv`, not `/`: plain division truncates toward zero,
    * so a PRE-EPOCH timestamp's seconds and (always-positive) nanos
    * would disagree in sign — 1969-12-31T23:59:59.5 would convert to
    * +0.5 s instead of -0.5 s, a 1-second forward jump on any corrupt or
    * zero-adjacent event time. ONE definition shared by every stateful
    * operator here and their replay specs — a fix to this conversion
    * must not fork. */
  def eventTimeMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Inverse of [[eventTimeMicros]], same pre-epoch discipline:
    * floorDiv/floorMod so a negative µs value never hands setNanos a
    * negative nanos component. */
  def microsToTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** S6: micro-batch file ingestion (the Kafka stand-in). JSONL, explicit
    * schema, bounded per-trigger file count for backpressure. */
  def readEventStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 10): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)

  /** ST2 stateless clean: validity filter + typed JSON payload extraction
    * — identical whether the frame is batch or streaming. */
  def clean(df: DataFrame): DataFrame =
    df.filter(col("event_id").isNotNull && col("ts").isNotNull)
      .withColumn("k",
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType)))).getField("k"))

  /** S7's connector form (r12): the cleaned event stream lands in an
    * [[graft.core.EpochManifest]] store THROUGH the DSv2 epochstore sink
    * — one manifest epoch per micro-batch, published by one atomic
    * rename, partition dirs the read side prunes. Exactly-once across a
    * REAL restart: the checkpoint replays the in-flight batch and its
    * commit REPLACES that epoch's entry (StreamingSpec stops the query
    * mid-feed, restarts from the same checkpoint, and the store equals
    * the batch truth with no duplicates). The foreachBatch dual-sink
    * flows keep their multi-store fan-out; this is the single-store
    * standard-API path a deployment reaches for first. */
  def eventStoreIngest(stream: DataFrame, root: String, checkpoint: String,
                       partitionCol: String = "event_type"): StreamingQuery =
    clean(stream)
      .writeStream.format("epochstore")
      .option("path", root)
      .option("partitionColumn", partitionCol)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** DERIVED STORE (r12): tail a base epochstore and maintain a keyed
    * aggregate store downstream — the whole pipeline inside the
    * connector. [[graft.sources.EpochStoreMicroBatchStream]] delivers
    * each committed base epoch exactly once; the streaming aggregate
    * updates per-key state; UPDATE output mode re-emits only the keys a
    * batch changed, and the epochstore sink lands them as one appended
    * epoch (the `SupportsStreamingUpdateAsAppend` contract — append IS
    * update here, because [[graft.sources.EpochStore.readLatest]] serves
    * each key's newest row). Restart-safe end to end: replayed base
    * epochs re-aggregate into a commit that REPLACES their output epoch.
    *
    * Scale shape: per trigger, IO is the new base epoch's files + one
    * appended delta epoch of CHANGED keys — base history is never
    * re-read, derived history never rewritten. The serving read pays one
    * keyed max_by; compaction re-folds old deltas when they accumulate.
    * This is the engine's materialized-view maintenance loop expressed
    * purely in the public connector surface. */
  def derivedStore(spark: SparkSession, baseRoot: String,
                   baseSchema: StructType, keyCol: String, sumCol: String,
                   outRoot: String, checkpoint: String,
                   partitionCol: String = null): StreamingQuery = {
    var r = spark.readStream.format("epochstore")
      .schema(baseSchema).option("path", baseRoot)
      .option("maxEpochsPerTrigger", "1")
    if (partitionCol != null) r = r.option("partitionColumn", partitionCol)
    val agg = r.load()
      .groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col(sumCol)).as("total"))
    var w = agg.writeStream.format("epochstore")
      .option("path", outRoot)
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
    if (partitionCol != null && partitionCol == keyCol)
      w = w.option("partitionColumn", keyCol)
    w.start()
  }

  /** S5: decode a Kafka-shaped frame (binary key/value + metadata — the
    * exact schema `format("kafka")` produces) into typed events. Swap
    * `readEventStream` for the Kafka source and insert this; everything
    * downstream is unchanged. Explicit schema, never inference. */
  def decodeKafkaFrame(df: DataFrame): DataFrame =
    df.select(
        from_json(col("value").cast("string"), eventSchema).as("e"),
        col("timestamp").as("ingest_ts"))
      .select(col("e.*"), col("ingest_ts"))
      .filter(col("event_id").isNotNull) // undecodable payloads drop, not crash

  /** ST3 sliding form: 1-hour windows every 30 minutes (each event lands
    * in exactly two windows — the batch twin is q_sliding_window). */
  def slidingAgg(df: DataFrame): DataFrame =
    df.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("total"))

  /** ST3+ST4: tumbling 1-hour aggregate with a 10-minute watermark —
    * append-mode capable; late rows beyond the watermark are dropped. */
  def windowedAgg(df: DataFrame): DataFrame =
    df.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("total"))

  /** Windowed heavy hitters on a stream — the custom SpaceSaving
    * aggregate ([[graft.plans.HeavyHittersAgg]]) running INSIDE a
    * Structured Streaming stateful aggregation: the typed buffer
    * serializes into the state store between micro-batches and merges
    * with each batch's partials, so a per-window frequent-items summary
    * stays bounded (m counters) no matter how many distinct items the
    * window sees. StreamingSpec proves incremental == batch. */
  def windowedHeavyHitters(df: DataFrame, m: Int = 16): DataFrame =
    df.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.plans.HeavyHittersAgg.heavyHitters(col("event_type"), m).as("hh"))
      .select(col("window.start").as("wstart"), explode(col("hh")).as("h"))
      .select(col("wstart"), col("h.item").as("item"),
        col("h.est").as("est"), col("h.err").as("err"))

  /** Windowed distinct users on a stream via the engine's own HLL
    * ([[graft.plans.HllRegistersAgg]]) — the production "unique visitors
    * per window" job at state-store cost 2^p bytes per window instead
    * of one state row per distinct user: the register buffer serializes
    * into the state store between micro-batches and max-merges with
    * each batch's partials (idempotent, so replayed batches cannot
    * inflate the count the way a naive counter would). Emits (wstart,
    * registers) — deterministic, so StreamingSpec proves incremental ==
    * batch cell-exact; consumers derive the float estimate with
    * [[graft.plans.HllRegistersAgg.estimate]]. */
  def windowedDistinct(df: DataFrame, p: Int = 6): DataFrame =
    df.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.plans.HllRegistersAgg
        .hllRegisters(col("user_id").cast("string"), p).as("regs"))
      .select(col("window.start").as("wstart"), col("regs"))

  /** ST3 session form: per-user sessions closed by a 30-minute gap. */
  def sessionAgg(df: DataFrame): DataFrame =
    df.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("sstart"),
        col("session_window.end").as("send"), col("user_id"), col("n_events"))

  /** ST7/A1: streaming dedup by event id; state expires with the
    * watermark instead of growing forever (the failure mode of plain
    * dropDuplicates on an infinite stream). */
  def dedupStream(df: DataFrame): DataFrame =
    df.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Running per-user profile via arbitrary stateful processing — the
    * custom-state surface (§2.9) beyond built-in windows. Emits the
    * updated (user, count, total) on every arriving batch. */
  case class UserProfile(user_id: Long, n_events: Long, total_value: Double)

  def statefulUserProfile(ds: Dataset[Event]): Dataset[UserProfile] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .mapGroupsWithState[UserProfile, UserProfile](GroupStateTimeout.NoTimeout) {
        (user: Long, events: Iterator[Event], state: GroupState[UserProfile]) =>
          val prev = state.getOption.getOrElse(UserProfile(user, 0L, 0.0))
          var n = prev.n_events; var tot = prev.total_value
          events.foreach { e => n += 1; tot += e.value }
          val next = UserProfile(user, n, tot)
          state.update(next)
          next
      }
  }

  /** The reference's own pipeline as a stream (entry point 3 in
    * SURVEY.md §3): the crawler lands one pretty-printed JSON file per
    * listing (`CrawlData.py:129-134`); this picks them up as they
    * arrive, stamps event time from `post_time` (epoch ms), and dedups
    * re-crawled ids within the watermark (A1's streaming form). */
  def readListingStream(spark: SparkSession, dir: String,
                        maxFilesPerTrigger: Int = 50): DataFrame =
    spark.readStream
      .schema(graft.core.Listings.schema)
      .option("multiLine", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(s"$dir/house_*.json")
      .withColumn("post_ts", timestamp_millis(col("post_time")))

  /** Clean + id-dedup for the listing stream. Dedup state is keyed on
    * ARRIVAL time, not `post_ts`: crawl arrival order is uncorrelated
    * with post order (a post_time watermark would late-drop valid
    * listings and expire before real re-crawls, which carry their OLD
    * post_time). Arrival time is monotonic, so nothing can be late, and
    * the horizon bounds state at [ids seen per horizon]; re-crawls beyond
    * it are handled downstream by the batch `IO.upsert` merge. */
  def listingPipeline(stream: DataFrame, recrawlHorizon: String = "24 hours"): DataFrame =
    stream
      .filter(col("id").isNotNull)
      .withColumn("ingest_ts", current_timestamp())
      .withWatermark("ingest_ts", recrawlHorizon)
      .dropDuplicatesWithinWatermark("id")

  /** Closed session record emitted by [[statefulSessions]]. */
  case class ClosedSession(user_id: Long, start: java.sql.Timestamp,
                           end: java.sql.Timestamp, n_events: Long)

  /** Internal session-state record (public: Catalyst's generated encoder
    * code must reach the accessors). */
  case class SessState(startUs: Long, lastUs: Long, n: Long)

  /** Custom sessionization via flatMapGroupsWithState with an EVENT-TIME
    * timeout — unlike `session_window` (which only aggregates), this emits
    * a full closed-session record exactly once, when the watermark passes
    * sessionEnd + gap. The state per user is three longs; the watermark
    * bounds its lifetime. This is the general shape for any
    * emit-on-condition stateful operator (cart abandonment, outage spans,
    * conversation turns). */
  def statefulSessions(ds: Dataset[Event], gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    val gapUs = gapMinutes * 60L * 1000000L
    ds.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[Event], state: GroupState[SessState]) =>
          def close(s: SessState) = ClosedSession(user,
            microsToTimestamp(s.startUs), microsToTimestamp(s.lastUs), s.n)
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(close(s))
          } else {
            // gap-merge over INTERVALS: the carried open session plus the
            // batch's points, sorted by start. Ascending-start order makes
            // the merge rule one-sided (next.start >= cur.start always, so
            // "within gap of the interval" is just next.start − cur.last ≤
            // gap — which also covers an admitted late point that precedes
            // the open session's start: the point sorts FIRST and the open
            // interval merges into ITS running session by the same rule).
            // Stragglers more than a gap before the open session thereby
            // sessionize among THEMSELVES — two late points within a gap
            // of each other close as ONE 2-event session, and a bridging
            // point chains a straggler into the open session — instead of
            // each closing as its own singleton (the r11 shape). Every
            // merged-out session closes; the LAST one stays open as state.
            val items = (state.getOption.toSeq ++
              events.toSeq.sortBy(e => (eventTimeMicros(e.ts), e.event_id))
                .map { e => val t = eventTimeMicros(e.ts); SessState(t, t, 1L) })
              .sortBy(s => (s.startUs, s.lastUs))
            var cur: Option[SessState] = None
            val closed = Seq.newBuilder[ClosedSession]
            items.foreach { it =>
              cur match {
                case Some(s) if it.startUs - s.lastUs <= gapUs =>
                  cur = Some(SessState(s.startUs,
                    math.max(s.lastUs, it.lastUs), s.n + it.n))
                case Some(s) =>
                  closed += close(s)
                  cur = Some(it)
                case None =>
                  cur = Some(it)
              }
            }
            cur.foreach { s =>
              state.update(s)
              // clamp past the ADVANCED eviction watermark: an admitted
              // late row can put lastUs + gap behind it, and the operator
              // rejects a timeout at/behind the watermark (the
              // statefulFunnel clamp, same two-watermark asymmetry)
              val ms = s.lastUs / 1000L + gapMinutes * 60L * 1000L
              state.setTimeoutTimestamp(
                math.max(ms, state.getCurrentWatermarkMs() + 1L))
            }
            closed.result().iterator
          }
      }
  }

  /** [[statefulSessions]] re-expressed on Spark 4's arbitrary-state v2
    * API (`transformWithState` / `StatefulProcessor`) — the engine's
    * coverage of the surface that replaces flatMapGroupsWithState going
    * forward: NAMED typed state variables resolved from a handle (here a
    * ValueState for the open session and one for the armed timer),
    * explicit event-time TIMERS (register/delete; expiry delivered to
    * [[SessionProcessor.handleExpiredTimer]]) instead of the single
    * implicit timeout slot, and per-state TTL configs. Semantics are
    * IDENTICAL to [[statefulSessions]] by construction — the same
    * interval gap-merge fold and the same watermark clamp — and
    * StreamingSpec replays the fixture through both and asserts equal
    * closed-session sets.
    *
    * Deployment note: OSS Spark runs this operator only on the RocksDB
    * state-store provider ([[graft.StreamScale.RocksDbProvider]]) —
    * which is the 100 TB posture anyway (disk-bounded state, changelog
    * checkpointing); the heap provider rejects the query at start. */
  def statefulSessionsTws(ds: Dataset[Event], gapMinutes: Int = 30)
      : Dataset[ClosedSession] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    ds.withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** The [[statefulSessionsTws]] processor. One open-session ValueState +
    * one armed-timer ValueState per user; every session update re-arms
    * the single timer at `last + gap` (clamped past the watermark — the
    * same two-watermark asymmetry the flatMapGroupsWithState form
    * handles), deleting the previous one so an extended session can
    * never be closed by a stale expiry. */
  final class SessionProcessor(gapMinutes: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, Event, ClosedSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
      TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders

    private val gapUs = gapMinutes * 60L * 1000000L
    @transient private var sess: ValueState[SessState] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      sess = getHandle.getValueState[SessState]("session",
        Encoders.product[SessState], TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("timer",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    private def close(user: Long, s: SessState) = ClosedSession(user,
      microsToTimestamp(s.startUs), microsToTimestamp(s.lastUs), s.n)

    override def handleInputRows(user: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[ClosedSession] = {
      // identical interval gap-merge to statefulSessions: carried open
      // session + the batch's points, ascending start, one-sided merge
      val items = ((if (sess.exists) Seq(sess.get) else Nil) ++
        rows.toSeq.sortBy(e => (eventTimeMicros(e.ts), e.event_id))
          .map { e => val t = eventTimeMicros(e.ts); SessState(t, t, 1L) })
        .sortBy(s => (s.startUs, s.lastUs))
      var cur: Option[SessState] = None
      val closed = Seq.newBuilder[ClosedSession]
      items.foreach { it =>
        cur match {
          case Some(s) if it.startUs - s.lastUs <= gapUs =>
            cur = Some(SessState(s.startUs, math.max(s.lastUs, it.lastUs), s.n + it.n))
          case Some(s) =>
            closed += close(user, s)
            cur = Some(it)
          case None =>
            cur = Some(it)
        }
      }
      cur.foreach { s =>
        sess.update(s)
        val ms = math.max(s.lastUs / 1000L + gapMinutes * 60L * 1000L,
          timerValues.getCurrentWatermarkInMs() + 1L)
        if (armed.exists && armed.get != ms) getHandle.deleteTimer(armed.get)
        if (!armed.exists || armed.get != ms) {
          getHandle.registerTimer(ms)
          armed.update(ms)
        }
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(user: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] =
      if (sess.exists) {
        val s = sess.get
        sess.clear(); armed.clear()
        Iterator.single(close(user, s))
      } else Iterator.empty
  }

  /** Per-user funnel-cascade state. `t1/t2/t3` are the cascade's first-
    * occurrence timestamps in µs (-1 = stage not reached); `pending`
    * holds (tsUs, stageCode) events not yet finalized by the watermark;
    * `rev` is a per-user monotone revision so a sink (or a test) can
    * pick the latest update without ordering assumptions. */
  case class FunnelSt(t1: Long, t2: Long, t3: Long, rev: Long,
                      pending: Seq[(Long, Int)], lastUs: Long = -1L)

  /** Update-mode emission of [[statefulFunnel]]: the user's current
    * cascade timestamps (µs, -1 = unset). */
  case class FunnelUpdate(user_id: Long, rev: Long,
                          t1_us: Long, t2_us: Long, t3_us: Long)

  /** Streaming twin of [[graft.queries.EventsCatalog.funnelOf]]'s
    * per-user cascade (t1 = first view; t2 = first click strictly after
    * t1; t3 = first purchase strictly after t2).
    *
    * The cascade is ORDER-SENSITIVE: folding events in arrival order is
    * wrong under out-of-order delivery (a click seen before a lower
    * late view gets rejected forever, though the batch cascade admits
    * it). The watermark is what makes incremental evaluation exact:
    * events BUFFER in per-user state until the watermark passes them —
    * at which point no earlier event can still arrive — and only then
    * fold, in event-time order, into the (t1,t2,t3) state machine. The
    * result per user is therefore identical to the batch cascade over
    * the same events for ANY arrival order whose lateness stays inside
    * the watermark delay (StreamingSpec replays the real fixture under
    * bounded shuffling and asserts map-equality).
    *
    * Scale shape: one shuffle keyed on user_id (high cardinality);
    * state per user = 4 longs + the pending buffer, which the watermark
    * bounds at [events per user per lateness window] — the same bound
    * every watermarked stateful operator carries. Emission is an
    * Update-mode delta per touched user per batch; the global funnel
    * counts are a fold over users' latest rows (= [[graft.queries
    * .EventsCatalog.funnelOf]]'s step counts). Ties at equal ts are
    * immaterial: the cascade's strict `>` rejects an equal-ts pair in
    * every processing order.
    *
    * TOTAL state is bounded per user but grows with LIFETIME user
    * cardinality when `ttl` is None (the default — and what every
    * exactness proof runs with). A month-long deployment over an
    * unbounded user population passes `ttl`: a user inactive for that
    * long (event time) gets a FINAL update emitted and their state
    * removed — downstream folds keyed on latest-rev rows see the same
    * totals — at the standard TTL price that a user returning after
    * expiry restarts their cascade. Two TTL fine-prints, explicit: the
    * clock is FUNNEL-event inactivity (non-funnel event types neither
    * create state — a user with no funnel events ever holds none — nor
    * extend the horizon), and `rev` is monotone only within ONE cascade
    * lifetime: the expiry row is that cascade's terminal update, and a
    * returning user's fresh cascade restarts rev at 1 — a consumer
    * folding ACROSS expiries must key on arrival (epoch, rev), not raw
    * rev comparison. MetricsSpec gates the no-TTL state
    * bound; StreamingSpec proves TTL eviction keeps the emitted finals
    * identical when every user's activity fits inside the TTL. */
  def statefulFunnel(ds: Dataset[Event], lateness: String = "10 minutes",
                     ttl: Option[java.time.Duration] = None)
      : Dataset[FunnelUpdate] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    ds.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelSt, FunnelUpdate](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[Event], state: GroupState[FunnelSt]) =>
          val prev = state.getOption.getOrElse(FunnelSt(-1L, -1L, -1L, 0L, Nil))
          val incoming = events.map { e =>
            (eventTimeMicros(e.ts), e.event_type match {
              case "view" => 1; case "click" => 2; case "purchase" => 3
              case _ => 0
            })
          }.filter(_._2 > 0).toSeq
          // a user whose batch carried ONLY non-funnel events and who has
          // no prior state must not materialize any: with lastUs stuck at
          // -1 no TTL expiry would ever fire, so such users would leak
          // state forever — the exact growth the TTL exists to bound
          if (incoming.isEmpty && state.getOption.isEmpty) Iterator.empty
          else {
          // finalize everything the watermark has passed; hold the rest.
          // Late-row contract, precisely: FlatMapGroupsWithState filters
          // input against the PREVIOUS batch's watermark, while
          // getCurrentWatermarkMs() returns the advanced eviction
          // watermark — so a row in (previous, current] DOES reach this
          // function with ts <= wmUs and the partition below finalizes
          // it immediately at its sorted position among this batch's
          // ready set (correct: nothing older can still arrive). Rows
          // older than the previous watermark are dropped by the
          // operator before the function runs. Do NOT "simplify" the
          // partition to assume incoming rows are all > wmUs.
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ready, hold) = (prev.pending ++ incoming).partition(_._1 <= wmUs)
          var t1 = prev.t1; var t2 = prev.t2; var t3 = prev.t3
          ready.sorted.foreach { case (ts, code) =>
            code match {
              case 1 => if (t1 < 0) t1 = ts
              case 2 => if (t2 < 0 && t1 >= 0 && ts > t1) t2 = ts
              case 3 => if (t3 < 0 && t2 >= 0 && ts > t2) t3 = ts
            }
          }
          val lastUs = (prev.lastUs +: incoming.map(_._1)).max
          val next = FunnelSt(t1, t2, t3, prev.rev + 1, hold, lastUs)
          val ttlUs = ttl.map(d => d.toNanos / 1000L)
          val expired = ttlUs.exists(t =>
            hold.isEmpty && lastUs >= 0 && wmUs >= lastUs + t)
          if (expired) {
            // final update, then drop the state: totals folded from
            // latest-rev rows downstream are unchanged
            state.remove()
          } else {
            state.update(next)
            // re-fire when the watermark passes the earliest held event
            // (even if this user never receives another row), or — with a
            // TTL — when the inactivity horizon passes; timestamps must
            // sit past the current watermark or the operator rejects them
            val refire = hold.map(_._1 / 1000L + 1L).minOption
            val expire =
              if (lastUs >= 0) ttlUs.map(t => (lastUs + t) / 1000L + 1L) else None
            (refire.toSeq ++ expire.toSeq).minOption.foreach(ms =>
              state.setTimeoutTimestamp(math.max(ms, state.getCurrentWatermarkMs() + 1L)))
          }
          Iterator(FunnelUpdate(user, next.rev, t1, t2, t3))
          }
      }
  }

  /** Per-user retention state: `cohortDay` = epoch day of first activity
    * (-1 unset), `mask` = bitset of day offsets 0-7 with activity,
    * `pending` = event-time µs not yet finalized by the watermark. */
  case class RetentionSt(cohortDay: Long, mask: Int, rev: Long,
                         pending: Seq[Long], lastUs: Long = -1L)

  /** Update-mode emission of [[statefulRetention]]. */
  case class RetentionUpdate(user_id: Long, rev: Long,
                             cohort_day: Long, mask: Int)

  /** Streaming twin of [[graft.queries.EventsCatalog.retention]]'s
    * per-user half: cohort day = first activity day, plus the set of day
    * offsets 0-7 with any activity — the weekly retention triangle's
    * per-user row, as 8 BITS of state.
    *
    * Same watermark discipline as [[statefulFunnel]]: the cohort day is
    * order-sensitive (a late earlier event re-bases every offset), so
    * event times buffer in `pending` until the watermark passes them and
    * only then fold — the first FINALIZED day is genuinely the user's
    * min, and offsets computed against it are final. Per-user state is
    * two longs + an int + the watermark-bounded buffer; the global
    * triangle is `groupBy(cohort_day) × popcount(mask bits)` over users'
    * latest rows, which StreamingSpec checks cell-equal to the batch
    * query over the same events under bounded-disorder replay. */
  def statefulRetention(ds: Dataset[Event], lateness: String = "10 minutes",
                        ttl: Option[java.time.Duration] = None)
      : Dataset[RetentionUpdate] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    ds.withWatermark("ts", lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionSt, RetentionUpdate](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, events: Iterator[Event], state: GroupState[RetentionSt]) =>
          val prev = state.getOption.getOrElse(RetentionSt(-1L, 0, 0L, Nil))
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val incoming = events.map(e => eventTimeMicros(e.ts)).toSeq
          val (ready, hold) = (prev.pending ++ incoming).partition(_ <= wmUs)
          var cohort = prev.cohortDay; var mask = prev.mask
          ready.sorted.foreach { tsUs =>
            val day = Math.floorDiv(tsUs, 86_400_000_000L)
            if (cohort < 0) cohort = day
            val off = day - cohort
            // off >= 0 is structural (the first finalized day is the min)
            // but guarded anyway: a negative shift would set bit 31 and
            // corrupt the mask, and a guard is cheaper than trusting
            // every future caller's ordering
            if (off >= 0 && off <= 7) mask |= (1 << off.toInt)
          }
          val lastUs = (prev.lastUs +: incoming).max
          val next = RetentionSt(cohort, mask, prev.rev + 1, hold, lastUs)
          val ttlUs = ttl.map(d => d.toNanos / 1000L)
          val expired = ttlUs.exists(t =>
            hold.isEmpty && lastUs >= 0 && wmUs >= lastUs + t)
          if (expired) {
            // same TTL contract as statefulFunnel: final update, state gone
            state.remove()
          } else {
            state.update(next)
            val refire = hold.map(_ / 1000L + 1L).minOption
            val expire =
              if (lastUs >= 0) ttlUs.map(t => (lastUs + t) / 1000L + 1L) else None
            (refire.toSeq ++ expire.toSeq).minOption.foreach(ms =>
              state.setTimeoutTimestamp(math.max(ms, state.getCurrentWatermarkMs() + 1L)))
          }
          Iterator(RetentionUpdate(user, next.rev, cohort, mask))
      }
  }

  /** ST5: one micro-batch, two sinks ("HDFS" raw + "MongoDB" serving in
    * the declared architecture — two parquet roots here).
    *
    * Exactly-once mechanics (foreachBatch is only at-least-once unless
    * the writes are epoch-idempotent, per the Structured Streaming docs):
    *  - raw: each epoch overwrites its own `epoch=<id>` partition dir, so
    *    a retried epoch replaces its previous partial output instead of
    *    appending duplicates;
    *  - serving: INCREMENTAL — each epoch lands only its own partial
    *    aggregate as manifest epoch `epochId` of the
    *    [[graft.core.EpochManifest]] store `<servingDir>.partials` (a
    *    retried epoch commits a replacement entry), and the serving view
    *    folds the committed partials. Per-trigger work is O(batch rows)
    *    + O(epochs × keys) tiny partial rows; the raw history is NEVER
    *    re-read (round 1 re-aggregated the whole raw store per epoch —
    *    O(epochs × history) total, a scale-killer on a long stream).
    *    Partial totals stay DECIMAL until the final fold: decimal sums are
    *    exact and associative, so two-level == one-level aggregation
    *    bit-for-bit (a double partial would drift in the last ulp).
    *    On a stream with many epochs the partials themselves are compacted
    *    in-line by [[compactServingPartials]] every `compactEvery` epochs,
    *    so the partial store holds ~`compactEvery` + 1 entries for the
    *    lifetime of the stream instead of one per epoch.
    */
  def dualSinkQuery(df: DataFrame, rawDir: String, servingDir: String,
                    checkpointDir: String, compactEvery: Int = 8): StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        // Compact BEFORE this epoch writes anything, covering only epochs
        // < epochId: those are checkpoint-committed and can never be
        // retried, so the fold's span stays below every epoch a retry
        // can still commit (the manifest refuses an append inside it).
        if (compactEvery > 0 && epochId > 0 && epochId % compactEvery == 0)
          compactServingPartials(spark, servingDir, uptoEpoch = epochId)
        // two sinks consume this batch — persist it or each write
        // recomputes the micro-batch from source (the standard
        // foreachBatch multi-sink discipline)
        batch.persist()
        try {
          batch.write.mode("overwrite").parquet(s"$rawDir/epoch=$epochId")
          EpochManifest.append(foldPartials(batch.select(col("event_type"),
              lit(1L).as("n"), col("value").cast(Dec).as("total_dec"))),
            partialsRoot(servingDir), epochId)
        } finally batch.unpersist()
        servingFromPartials(spark, servingDir)
          .write.mode("overwrite").parquet(servingDir)
        ()
      }
      .start()

  /** The serving sink's partial row, explicit so manifest reads never
    * infer a schema (an epoch with no rows has no file to infer from). */
  val servingPartialSchema: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("n", LongType),
    StructField("total_dec", Dec)))

  private def partialsRoot(servingDir: String) = s"$servingDir.partials"

  /** Merge partial rows per `event_type` — one epoch's rows into its
    * partial, and committed partials into a compaction fold. The sum is
    * cast back to `Dec` so every level keeps [[servingPartialSchema]];
    * decimal sums are exact, so the nesting changes no total. */
  private def foldPartials(df: DataFrame): DataFrame =
    df.groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("total_dec")).cast(Dec).as("total_dec"))

  /** Fold the committed partial aggregates into the serving aggregate.
    * Input is epochs × keys rows (not the raw history). */
  def servingFromPartials(spark: SparkSession, servingDir: String): DataFrame =
    EpochManifest.read(spark, partialsRoot(servingDir), servingPartialSchema)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("total_dec")).cast("double").as("total"))

  /** Compact the committed partial epochs < `uptoEpoch` into one fold
    * entry holding one row per `event_type`, through
    * [[graft.core.EpochManifest.compact]]: the fold lands as a new dir
    * and one manifest commit swaps it in, so a crash at any step leaves
    * either the old snapshot or the new one live, never a mix. Callers
    * inside `foreachBatch` pass `uptoEpoch = epochId` so a failed attempt
    * of the CURRENT epoch is never folded (its retry replaces it). */
  def compactServingPartials(spark: SparkSession, servingDir: String,
                             uptoEpoch: Long = Long.MaxValue): Unit =
    EpochManifest.compact(spark, partialsRoot(servingDir), servingPartialSchema,
      uptoEpoch, coalesceTo = 1, fold = foldPartials)

  /** Bound the dir count of the persisted text band index on a long
    * stream: fold the committed band and shingle epochs (< `uptoEpoch`)
    * into single base dirs under the manifest snapshot protocol
    * ([[graft.core.EpochManifest.compact]] — one atomic commit per
    * store, concurrent probes keep their snapshot). Search results are
    * identical pre/post — the fold is row identity. The coalesce bounds
    * the folded FILE count by the session's shuffle parallelism
    * regardless of how many epochs were covered. Shingles compact FIRST
    * for the same reason appends commit shingles first: every epoch
    * visible on the candidate (bands) side must be visible on the
    * verify (shingles) side. */
  def compactBandIndex(spark: SparkSession, indexDir: String,
                       uptoEpoch: Long = Long.MaxValue): Unit = {
    import graft.queries.TextCatalog
    val par = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    EpochManifest.compact(spark, TextCatalog.shinglesRoot(indexDir),
      TextCatalog.shinglesSchema, uptoEpoch, coalesceTo = par)
    EpochManifest.compact(spark, TextCatalog.bandsRoot(indexDir),
      TextCatalog.bandsSchema, uptoEpoch, coalesceTo = par)
  }

  /** [[compactBandIndex]] for the media signature index. */
  def compactMediaIndex(spark: SparkSession, indexDir: String,
                        uptoEpoch: Long = Long.MaxValue): Unit = {
    import graft.multimodal.Multimodal
    val par = spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    graft.core.EpochManifest.compact(spark, Multimodal.mediaBandsRoot(indexDir),
      Multimodal.mediaBandsSchema, uptoEpoch, coalesceTo = par)
  }

  /** Bound the epoch count of the PQ-coded IVF index's code store
    * ([[graft.queries.VectorCatalog.buildIvfPqIndex]] layout): the fold
    * keeps `list_id` as a partition column, so the compacted base prunes
    * at directory level exactly like the epochs it replaced. The store
    * serves searches while it ingests; a searcher holding the
    * pre-compaction snapshot keeps every file it resolved
    * ([[graft.core.EpochManifest.gc]] lags the two newest manifests). */
  def compactIvfPqIndex(spark: SparkSession, indexDir: String,
                        uptoEpoch: Long = Long.MaxValue): Unit =
    graft.core.EpochManifest.compact(spark,
      graft.queries.VectorCatalog.codesRoot(indexDir),
      graft.queries.VectorCatalog.codesSchema, uptoEpoch,
      partitionBy = Seq("list_id"))

  /** J3 stream-stream: watermarked interval join — each view pairs with
    * the clicks the same user makes within `within` after it. Both sides
    * carry watermarks and the join condition time-bounds the buffered
    * state on BOTH sides (view state expires `within` + watermark after
    * its event time; click state as soon as the view watermark passes
    * it) — without the interval the state would grow forever. Works
    * identically on batch frames (watermarks are a no-op there), which is
    * what the oracled batch twin `q_stream_stream_join` runs; the
    * StreamingSpec fixture-replay proof widens `within` to densify the
    * pair set without changing the operator under test. */
  def streamStreamJoin(views: DataFrame, clicks: DataFrame,
                       within: String = "5 minutes"): DataFrame =
    streamStreamJoinOf(views, clicks, within, "inner")

  /** The one spelling of the watermarked interval join both public
    * forms share — join type is the ONLY difference between inner and
    * left-outer, so the watermark delays, interval condition, and
    * projection can never drift apart. */
  private def streamStreamJoinOf(views: DataFrame, clicks: DataFrame,
                                 within: String, joinType: String): DataFrame = {
    val v = views.select(col("user_id"), col("event_id").as("view_id"),
      col("ts").as("view_ts")).withWatermark("view_ts", "10 minutes")
    val c = clicks.select(col("user_id").as("c_user"), col("event_id").as("click_id"),
      col("ts").as("click_ts")).withWatermark("click_ts", "10 minutes")
    v.join(c,
      col("user_id") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL '$within'"),
      joinType)
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** [[streamStreamJoin]]'s LEFT OUTER form — the semantically distinct
    * half of watermarked stream-stream joins: a view with NO click inside
    * its interval must still emit, null-extended, and streaming can only
    * know "no click will ever arrive" once the watermark passes the end
    * of the view's interval — so unmatched rows emit at state eviction
    * time, not arrival time (matched pairs still emit immediately).
    * Batch twin `q_stream_stream_outer` runs the same function where the
    * outer join needs no deferral; StreamingSpec proves the deferred
    * null-extension and fixture-replay equality with the batch result. */
  def streamStreamJoinOuter(views: DataFrame, clicks: DataFrame,
                            within: String = "5 minutes"): DataFrame =
    streamStreamJoinOf(views, clicks, within, "left_outer")

  /** J3 stream-static: enrich the event stream with a slowly-changing
    * dimension loaded once in batch — the classic serving-layer shape
    * (`/root/reference/README.md:17-23` joins cleaned stream records to
    * reference data before the sink). The static side is explicitly
    * broadcast: a dimension is model-sized next to a 100 TB stream, and
    * broadcasting keeps the stream side's partitioning intact — no
    * shuffle enters the micro-batch plan, so each trigger is a narrow
    * map over the arriving rows. No watermark is needed: the join holds
    * no state (the static side is resident, nothing buffers). Works
    * identically in batch, which is what the oracled twin
    * `q_stream_static_join` runs. */
  def streamStaticJoin(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("c_name"), col("c_mktsegment"))

  /** Streaming point-in-time enrichment — the as-of join in the
    * streaming path: each micro-batch of probe events (user_id, p_id,
    * p_ts) is enriched with the latest history row (user_id, c_id, c_ts)
    * at or before its timestamp via the NATIVE sort-merge as-of exec
    * ([[graft.plans.AsOfJoin]]), and lands as an epoch-keyed overwrite
    * (exactly-once under the checkpoint — a retried epoch replaces its
    * own output; the [[dedupIngest]] contract).
    *
    * Deliberately foreachBatch + batch operator, NOT state-store as-of:
    * the history is a landed table that may precede the stream by years
    * — buffering it in stream state would hold the whole table per key
    * forever. The per-batch join shuffles only the micro-batch and the
    * history's matching partitions; land the history bucketed by
    * (key, ts) ([[graft.core.IO.writeBucketed]] with sort columns) and
    * the history side joins exchange-free every trigger (AsOfJoinSpec's
    * bucketed zero-exchange proof). `outer=true` keeps probes with no
    * history (the feature-lookup contract: a missing feature must not
    * drop the event). */
  def asofEnrich(probes: DataFrame, history: DataFrame, outDir: String,
                 checkpointDir: String, outer: Boolean = true): StreamingQuery =
    probes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.plans.AsOfJoin.asofBackward(batch, history, Seq("user_id"),
            "p_ts", "c_ts", rightTieBreaks = Seq("c_id"), outer = outer)
          .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
        ()
      }
      .start()

  /** Streaming incremental near-dup ingestion — the end-to-end form of
    * [[graft.queries.TextCatalog.dedupAgainstIndex]]: every micro-batch
    * of arriving documents is (1) deduped against the persisted band
    * index — which contains the base corpus AND every previously
    * streamed batch — with the history never shuffled, then (2) folded
    * into the index so later batches dedup against it. Both writes are
    * epoch-keyed overwrites, so a retried epoch replaces its own output
    * (exactly-once under the stream's checkpoint); the verdicts land
    * before the index extension, so a crash between them redoes the
    * whole epoch idempotently. Index epochs are offset +1 from stream
    * epochs (the base build owns `epoch=0`). The probe is bounded to
    * index epochs <= the stream epoch: the index extension lands BEFORE
    * the checkpoint commits, so an unbounded retry would probe its own
    * previous attempt's signatures and emit self/intra-batch pairs —
    * the bound makes the retry read exactly what the first attempt
    * read (StreamingSpec proves the replayed epoch is self-pair-free). */
  def dedupIngest(docs: DataFrame, indexDir: String, outDir: String,
                  checkpointDir: String, t: Double = 0.8,
                  compactEvery: Int = 8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // compact BEFORE probing, covering only committed index epochs
        // (<= stream epoch — this epoch's own extension is epochId + 1
        // and a leftover from a failed attempt must not be folded); the
        // fold lands at epoch=<=epochId, inside the probe's bound
        if (compactEvery > 0 && epochId > 0 && epochId % compactEvery == 0)
          compactBandIndex(batch.sparkSession, indexDir, uptoEpoch = epochId + 1)
        // the probe and the index extension both shingle this batch —
        // persist it so the second pass reads the cached rows instead of
        // recomputing the micro-batch from source
        batch.persist()
        try {
          graft.queries.TextCatalog.dedupAgainstIndex(batch, indexDir, t,
              maxEpoch = epochId)
            .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
          graft.queries.TextCatalog.appendBandIndex(batch, indexDir, epochId + 1)
        } finally batch.unpersist()
        ()
      }
      .start()

  /** Streaming media ingestion through the growing signature index —
    * the multimodal twin of [[dedupIngest]]: each micro-batch of
    * (media_id, content) payloads is signed
    * ([[graft.multimodal.Multimodal.mediaSimhash64]], a narrow map —
    * payload bytes never shuffle), probed against the persisted band
    * index (history scanned, batch broadcast), its near-dup pairs
    * written under the epoch key, and its signatures appended as the
    * next index epoch — so later batches dedup against STREAMED history
    * too. Epoch-keyed overwrites keep retries exactly-once, and the
    * probe is bounded to index epochs <= the stream epoch so a retried
    * batch cannot match its own previous attempt's signatures (same
    * retry window as [[dedupIngest]]; StreamingSpec proves it). */
  def mediaIngest(media: DataFrame, indexDir: String, outDir: String,
                  checkpointDir: String, maxDist: Int = 12,
                  compactEvery: Int = 8): StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        if (compactEvery > 0 && epochId > 0 && epochId % compactEvery == 0)
          compactMediaIndex(spark, indexDir, uptoEpoch = epochId + 1)
        val sigs = batch.as[(Long, Array[Byte])]
          .map { case (id, c) =>
            (id, graft.multimodal.Multimodal.mediaSimhash64(c))
          }
          .toDF("media_id", "sig")
          .localCheckpoint(false)
        graft.multimodal.Multimodal.mediaDedupAgainstIndex(sigs, indexDir,
            maxDist, maxEpoch = epochId)
          .write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
        graft.multimodal.Multimodal.appendMediaIndex(sigs, indexDir, epochId + 1)
        ()
      }
      .start()

  /** Streaming IVF index maintenance — the ST twin of
    * [[graft.queries.VectorCatalog.buildIvfIndex]]: arriving vectors are
    * tagged with their cell by the broadcast coarse-quantizer model (a
    * stateless narrow map — no watermark, no state store) and appended
    * as manifest epoch `epochId + 1` (the batch build owns epoch 0),
    * `list_id`-partitioned, so the index stays partition-prunable for
    * [[graft.queries.VectorCatalog.searchIvfIndex]] while it ingests. A
    * retried epoch commits a replacement entry (exactly-once), and a
    * concurrent search keeps the snapshot it opened — the same
    * discipline as [[ivfPqIngest]]. The model is fixed for the stream's
    * lifetime (the standard IVF contract — re-training means
    * re-building). */
  def ivfIndexAppend(vectors: DataFrame,
                     assigner: graft.functions.VectorOps.IvfAssigner,
                     indexDir: String, checkpointDir: String): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.queries.VectorCatalog.appendIvfIndex(
          batch, assigner, indexDir, epoch = epochId + 1)
        ()
      }
      .start()

  /** Streaming maintenance of the PQ-CODED IVF index
    * ([[graft.queries.VectorCatalog.buildIvfPqIndex]] layout — the 100 TB
    * deployment's 8-bytes-per-vector read path): each micro-batch is
    * assigned + PQ-encoded in one narrow map against the broadcast fixed
    * model and landed as code epoch `epochId + 1` (epoch 0 is the base
    * build) as a manifest append — a retried epoch commits a replacement
    * entry, so the index is exactly-once without a file-sink metadata
    * log, which is precisely what lets [[compactIvfPqIndex]] fold
    * committed epochs (a metadata-logged sink pins its file set
    * forever). Compaction runs every `compactEvery` epochs covering only
    * committed epochs, so the store's dir count stays bounded for the
    * stream's lifetime while every epoch dir keeps the `list_id`
    * partition layout that search pruning needs. */
  def ivfPqIngest(vectors: DataFrame,
                  assigner: graft.functions.VectorOps.IvfAssigner,
                  books: Array[Array[Array[Double]]],
                  indexDir: String, checkpointDir: String,
                  compactEvery: Int = 8): StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        if (compactEvery > 0 && epochId > 0 && epochId % compactEvery == 0)
          compactIvfPqIndex(batch.sparkSession, indexDir, uptoEpoch = epochId + 1)
        graft.queries.VectorCatalog.appendIvfPqCodes(
          batch, assigner, books, indexDir, epoch = epochId + 1)
        ()
      }
      .start()

  /** Streaming maintenance of the persisted INVERTED TEXT index
    * ([[graft.queries.TextCatalog.postingsRoot]] layout — the keyword
    * half of the serving stack, beside the vector stores): each doc
    * micro-batch is tokenized and aggregated to (token, doc_id, tf)
    * postings, landed token-hash-bucket-partitioned as epoch
    * `epochId + 1` (epoch 0 is the batch base build) under the
    * [[graft.core.EpochManifest]] snapshot protocol — a retried epoch
    * commits a REPLACEMENT manifest entry, so the index is exactly-once
    * under the checkpoint, and a concurrent
    * [[graft.queries.TextCatalog.searchInvertedIndexStore]] keeps the
    * snapshot it opened. Compaction every `compactEvery` epochs folds
    * committed epochs into one base dir (keeping the `bucket` partition
    * layout the probe pruning needs), bounding the store's dir count for
    * the stream's lifetime; searches return identical tf sums pre/post
    * (the fold is row identity — per-(token,doc) sums happen at probe
    * time, so fold order can't matter). */
  def invertedIngest(docs: DataFrame, indexDir: String,
                     checkpointDir: String,
                     compactEvery: Int = 8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        import graft.queries.TextCatalog
        if (compactEvery > 0 && epochId > 0 && epochId % compactEvery == 0) {
          val par = batch.sparkSession.conf
            .get("spark.sql.shuffle.partitions", "32").toInt
          // doclens fold first — the append-side visibility order
          // (norms before candidates) must hold across compaction too
          graft.core.EpochManifest.compact(batch.sparkSession,
            TextCatalog.doclensRoot(indexDir), TextCatalog.doclensSchema,
            uptoEpoch = epochId + 1, coalesceTo = par)
          graft.core.EpochManifest.compact(batch.sparkSession,
            TextCatalog.postingsRoot(indexDir), TextCatalog.postingsSchema,
            uptoEpoch = epochId + 1, partitionBy = Seq("bucket"),
            coalesceTo = par)
        }
        TextCatalog.appendInvertedIndex(batch, indexDir, epoch = epochId + 1)
        ()
      }
      .start()

  /** Streaming maintenance of a MATERIALIZED VIEW
    * ([[graft.plans.MaterializedAgg]]): each micro-batch of new fact
    * rows is collapsed to its partial cube and appended as manifest
    * epoch `epochId + 1` (epoch 0 is the batch build) — exactly-once
    * under the checkpoint (a retried epoch commits a replacement
    * entry), and because the rewrite rule re-aggregates the store on
    * every query, the appended partials are LIVE immediately: a
    * dashboard aggregate over the base table answers current through
    * the last committed epoch without anyone recomputing the view.
    * Compaction every `compactEvery` epochs re-folds the partials to
    * |distinct group keys| rows (a re-aggregation, not a union — the
    * fold is itself a valid partial cube), bounding both dir count and
    * per-query merge work for the stream's lifetime. */
  def mvMaintain(deltas: DataFrame, base: DataFrame,
                 checkpointDir: String, compactEvery: Int = 8,
                 mvRoot: String = null): StreamingQuery =
    deltas.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        // mvRoot names WHICH view of the base this stream maintains — a
        // cube-lattice base has several, and metaFor refuses ambiguity,
        // so a lattice runs one mvMaintain stream per member (null stays
        // the single-view shorthand)
        if (compactEvery > 0 && epochId > 0 && epochId % compactEvery == 0)
          graft.plans.MaterializedAgg.compact(base, uptoEpoch = epochId + 1,
            mvRoot = mvRoot)
        graft.plans.MaterializedAgg.append(base, batch, epoch = epochId + 1,
          mvRoot = mvRoot)
        ()
      }
      .start()
}
