package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Jobs
import graft.streaming.Jobs.Event
import java.nio.file.Files
import java.sql.Timestamp

/** Structured Streaming suites driven through MemoryStream (§5.5): the
  * incremental jobs must agree with their batch forms and respect
  * watermarks. */
class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def ev(id: Long, t: String, user: Long = 1L, typ: String = "click",
                 v: Double = 1.0): Event =
    Event(id, ts(t), user, typ, v, s"""{"k": ${id % 100}}""")

  test("windowed aggregate emits closed windows and drops late rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Jobs.windowedAgg(in.toDF())
      .writeStream.format("memory").queryName("wagg").outputMode("append").start()
    try {
      in.addData(ev(1, "2024-01-01 00:10:00"), ev(2, "2024-01-01 00:50:00"))
      q.processAllAvailable()
      // watermark = max(ts) - 10min = 00:40 → hour window [00:00,01:00) still open
      assert(spark.table("wagg").count() == 0)
      in.addData(ev(3, "2024-01-01 02:00:00")) // advances watermark to 01:50
      q.processAllAvailable()
      in.addData(ev(4, "2024-01-01 00:55:00")) // late beyond watermark → dropped
      q.processAllAvailable()
      val rows = spark.table("wagg").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Long]("n") == 2) // the late event did not count
      assert(rows(0).getAs[Timestamp]("wstart") == ts("2024-01-01 00:00:00"))
    } finally q.stop()
  }

  test("session windows merge events within the 30-minute gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Jobs.sessionAgg(in.toDF())
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      // one session: 10:00,10:20,10:45 (gaps < 30m); a second: 12:00
      in.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:20:00"),
        ev(3, "2024-01-01 10:45:00"), ev(4, "2024-01-01 12:00:00"))
      in.addData(ev(5, "2024-01-02 00:00:00")) // push watermark far ahead
      q.processAllAvailable()
      val rows = spark.table("sess").filter(col("sstart") < ts("2024-01-01 23:00:00"))
        .orderBy("sstart").collect()
      assert(rows.map(_.getAs[Long]("n_events")).toSeq == Seq(3L, 1L))
      assert(rows(0).getAs[Timestamp]("send") == ts("2024-01-01 11:15:00")) // 10:45 + 30m
    } finally q.stop()
  }

  test("within-watermark dedup keeps one row per event id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Jobs.dedupStream(in.toDF())
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      in.addData(ev(1, "2024-01-01 00:00:00"), ev(1, "2024-01-01 00:00:30"),
        ev(2, "2024-01-01 00:01:00"))
      q.processAllAvailable()
      in.addData(ev(1, "2024-01-01 00:02:00")) // still within watermark → dup
      q.processAllAvailable()
      assert(spark.table("dedup").select("event_id").collect().map(_.getLong(0)).sorted
        .toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("stateful user profile accumulates across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Jobs.statefulUserProfile(in.toDS())
      .writeStream.format("memory").queryName("prof").outputMode("update").start()
    try {
      in.addData(ev(1, "2024-01-01 00:00:00", user = 7, v = 2.0))
      q.processAllAvailable()
      in.addData(ev(2, "2024-01-01 00:01:00", user = 7, v = 3.0))
      q.processAllAvailable()
      val last = spark.table("prof").filter(col("user_id") === 7)
        .orderBy(col("n_events").desc).head
      assert(last.getAs[Long]("n_events") == 2)
      assert(last.getAs[Double]("total_value") == 5.0)
    } finally q.stop()
  }

  test("stateful sessions close on event-time timeout and on in-batch gaps") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Jobs.statefulSessions(in.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("closed").outputMode("append").start()
    try {
      // one user: session A (10:00,10:20), then a 2.5h gap to 13:00 in the
      // SAME batch → A closes immediately via the in-batch gap path
      in.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:20:00"),
        ev(3, "2024-01-01 13:00:00"))
      q.processAllAvailable()
      val afterBatch1 = spark.table("closed").collect()
      assert(afterBatch1.length == 1)
      assert(afterBatch1(0).getAs[Long]("n_events") == 2)
      assert(afterBatch1(0).getAs[Timestamp]("end") == ts("2024-01-01 10:20:00"))
      // advance the watermark far past 13:00+gap → session B closes via
      // the event-time timeout path
      in.addData(ev(4, "2024-01-01 20:00:00", user = 99))
      q.processAllAvailable()
      in.addData(ev(5, "2024-01-01 23:00:00", user = 99))
      q.processAllAvailable()
      val all = spark.table("closed").filter(col("user_id") === 1).collect()
      assert(all.length == 2, s"got ${all.length} closed sessions")
      assert(all.map(_.getAs[Long]("n_events")).sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("stateful sessions: cross-batch late rows extend the start, distant " +
      "stragglers sessionize among themselves, and a far-advanced watermark " +
      "cannot crash the timeout") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Jobs.statefulSessions(in.toDS(), gapMinutes = 5)
      .writeStream.format("memory").queryName("late_sess").outputMode("append").start()
    try {
      // batch 1: user 1 opens a session [10:00, 10:02]; watermark → 09:52
      in.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:02:00"))
      q.processAllAvailable()
      // batch 2 (input filtered against the PREVIOUS watermark 09:52, so
      // both admitted): two stragglers > gap before the open session but
      // within gap of EACH OTHER must close as ONE 2-event session, not
      // two singletons (the r11 advice fix)
      in.addData(ev(3, "2024-01-01 09:53:00"), ev(4, "2024-01-01 09:53:30"))
      q.processAllAvailable()
      val pair = spark.table("late_sess").filter(col("user_id") === 1).collect()
      assert(pair.length == 1 && pair(0).getAs[Long]("n_events") == 2L,
        s"straggler pair must close as one session: ${pair.toSeq}")
      assert(pair(0).getAs[Timestamp]("start") == ts("2024-01-01 09:53:00"))
      assert(pair(0).getAs[Timestamp]("end") == ts("2024-01-01 09:53:30"))
      // batch 3: a late row within gap of the open interval → the session
      // start must move BACK to 09:58 (watermark still 09:52 — max event
      // time hasn't advanced)
      in.addData(ev(5, "2024-01-01 09:58:00"))
      q.processAllAvailable()
      // batch 4+: another user far in the future — the eviction watermark
      // jumps hours past user 1's session end + gap. The un-clamped
      // timeout registration would throw here and kill the query.
      in.addData(ev(6, "2024-01-01 20:00:00", user = 99))
      q.processAllAvailable()
      in.addData(ev(7, "2024-01-01 23:00:00", user = 99))
      q.processAllAvailable()
      val closed = spark.table("late_sess")
        .filter(col("user_id") === 1 && col("n_events") > 2).collect()
      assert(closed.length == 1, s"main session not closed: ${closed.toSeq}")
      assert(closed(0).getAs[Timestamp]("start") == ts("2024-01-01 09:58:00"),
        "late row must extend the session start backward")
      assert(closed(0).getAs[Long]("n_events") == 3L)
    } finally q.stop()
  }

  test("stateful sessions: a bridging late row chains a straggler into the " +
      "open session instead of splitting it off") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Jobs.statefulSessions(in.toDS(), gapMinutes = 5)
      .writeStream.format("memory").queryName("bridge_sess").outputMode("append").start()
    try {
      in.addData(ev(1, "2024-01-01 10:00:00"), ev(2, "2024-01-01 10:02:00"))
      q.processAllAvailable()
      // 09:53 is > gap before the open session's 10:00 start, but 09:57
      // bridges (09:53→09:57 and 09:57→10:00 both ≤ gap): gap-chaining
      // makes all four events ONE session — nothing may close here
      in.addData(ev(3, "2024-01-01 09:53:00"), ev(4, "2024-01-01 09:57:00"))
      q.processAllAvailable()
      assert(spark.table("bridge_sess").filter(col("user_id") === 1).isEmpty,
        "bridged straggler must not close early")
      in.addData(ev(5, "2024-01-01 20:00:00", user = 99))
      q.processAllAvailable()
      in.addData(ev(6, "2024-01-01 23:00:00", user = 99))
      q.processAllAvailable()
      val closed = spark.table("bridge_sess").filter(col("user_id") === 1).collect()
      assert(closed.length == 1, s"expected one chained session: ${closed.toSeq}")
      assert(closed(0).getAs[Long]("n_events") == 4L)
      assert(closed(0).getAs[Timestamp]("start") == ts("2024-01-01 09:53:00"))
      assert(closed(0).getAs[Timestamp]("end") == ts("2024-01-01 10:02:00"))
    } finally q.stop()
  }

  test("stateful sessions replay the real fixture to the batch session counts") {
    // third stateful op under the replay discipline (after funnel and
    // retention): statefulSessions at the batch query's 6h gap over the
    // real events, fed in bounded-disorder arrival order, must close
    // exactly the sessions q_sessionize counts. Disorder (≤ ~4 min) is
    // far under both the 10-min watermark and the 6h gap, so no event
    // can cross a session boundary by arriving late.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def micros(t: Timestamp): Long = Jobs.eventTimeMicros(t)
    val events = graft.core.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().toSeq
    val rnd = new scala.util.Random(13L)
    val perturbed = events.groupBy(e => micros(e.ts) / (120L * 1000000L)).toSeq
      .sortBy(_._1).flatMap { case (_, g) => rnd.shuffle(g) }
    val in = MemoryStream[Event]
    val q = Jobs.statefulSessions(in.toDS(), gapMinutes = 360)
      .writeStream.format("memory").queryName("sessions_replay")
      .outputMode("append").start()
    try {
      perturbed.grouped(250).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      // sentinel 7h past the last event: watermark passes every open
      // session's end + 6h gap, so the timeout path closes them all
      val lastUs = events.map(e => micros(e.ts)).max
      in.addData(Event(-1L, new Timestamp((lastUs + 7L * 3600 * 1000000L) / 1000L),
        -999L, "view", 0.0, "{}"))
      q.processAllAvailable()
      val got = spark.table("sessions_replay")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap - (-999L)
      val batch = graft.queries.EventsCatalog.sessionize(spark, sf0001)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(got == batch, {
        val keys = (got.keySet ++ batch.keySet)
          .filter(u => got.get(u) != batch.get(u)).take(5)
        s"session replay diverged for users $keys: " +
          keys.map(u => s"$u stream=${got.get(u)} batch=${batch.get(u)}").mkString("; ")
      })
    } finally q.stop()
  }

  test("transformWithState sessions equal the flatMapGroupsWithState form " +
      "on the bounded-disorder fixture replay") {
    // the arbitrary-state v2 twin: same gap-merge semantics on the new
    // StatefulProcessor surface (named ValueStates + explicit event-time
    // timers). Both engines replay the same perturbed feed; the closed-
    // session SETS must match exactly. Runs under RocksDB — the only
    // provider OSS Spark allows for transformWithState.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def micros(t: Timestamp): Long = Jobs.eventTimeMicros(t)
    val events = graft.core.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().toSeq
    val rnd = new scala.util.Random(29L)
    val perturbed = events.groupBy(e => micros(e.ts) / (120L * 1000000L)).toSeq
      .sortBy(_._1).flatMap { case (_, g) => rnd.shuffle(g) }
    val lastUs = events.map(e => micros(e.ts)).max
    val sentinel = Event(-1L,
      new Timestamp((lastUs + 7L * 3600 * 1000000L) / 1000L), -999L, "view", 0.0, "{}")
    def replay(qname: String,
               job: org.apache.spark.sql.Dataset[Event] =>
                 org.apache.spark.sql.Dataset[Jobs.ClosedSession]): Set[(Long, Long, Long, Long)] = {
      val in = MemoryStream[Event]
      val q = job(in.toDS()).toDF()
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        perturbed.grouped(250).foreach { c => in.addData(c: _*); q.processAllAvailable() }
        in.addData(sentinel)
        q.processAllAvailable()
      } finally q.stop()
      spark.table(qname).collect()
        .map(r => (r.getAs[Long]("user_id"),
          micros(r.getAs[Timestamp]("start")), micros(r.getAs[Timestamp]("end")),
          r.getAs[Long]("n_events")))
        .filter(_._1 != -999L).toSet
    }
    StreamScale.withStateProvider(spark, StreamScale.RocksDbProvider) {
      val fmgws = replay("tws_base", ds => Jobs.statefulSessions(ds, gapMinutes = 360))
      val tws = replay("tws_new", ds => Jobs.statefulSessionsTws(ds, gapMinutes = 360))
      assert(fmgws.nonEmpty, "replay closed no sessions — fixture lost its teeth")
      assert(tws == fmgws, {
        val onlyT = (tws -- fmgws).take(3); val onlyF = (fmgws -- tws).take(3)
        s"TWS diverged: onlyTws=$onlyT onlyFmgws=$onlyF"
      })
    }
  }

  test("RocksDB state-store provider: same replay, same answers as the heap store") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the disk-backed scale path must be a pure storage swap — replay the
    // fixture through a windowed agg (HDFSBacked vs RocksDB state) and a
    // custom-state funnel (flatMapGroupsWithState) and demand identical
    // answers. StreamScale profiles the full job matrix under both.
    val feed = StreamScale.eventFeed(spark, sf0001)
    def replay(qname: String): (Set[String], Set[String]) = {
      val winIn = MemoryStream[Event]
      val wq = Jobs.windowedAgg(winIn.toDF())
        .writeStream.format("memory").queryName(s"${qname}_w")
        .outputMode("append").start()
      val funIn = MemoryStream[Event]
      val fq = Jobs.statefulFunnel(funIn.toDS()).toDF()
        .writeStream.format("memory").queryName(s"${qname}_f")
        .outputMode("update").start()
      try {
        feed.grouped(1000).foreach { c =>
          winIn.addData(c: _*); funIn.addData(c: _*)
          wq.processAllAvailable(); fq.processAllAvailable()
        }
      } finally { wq.stop(); fq.stop() }
      // funnel is update-mode: keep each user's LAST emitted row
      val funnel = spark.table(s"${qname}_f").collect()
        .map(r => r.getAs[Long]("user_id") -> r.toSeq.mkString("|")).toMap
      (spark.table(s"${qname}_w").collect().map(_.toSeq.mkString("|")).toSet,
        funnel.values.toSet)
    }
    val (heapWin, heapFun) = replay("ssheap")
    val (rockWin, rockFun) =
      StreamScale.withStateProvider(spark, StreamScale.RocksDbProvider) {
        replay("ssrocks")
      }
    assert(heapWin.nonEmpty && heapFun.nonEmpty, "replay produced no output")
    assert(rockWin == heapWin, "windowed agg diverged under RocksDB state")
    assert(rockFun == heapFun, "stateful funnel diverged under RocksDB state")
  }

  test("eventStoreIngest: DSv2 epochstore sink ingest survives a restart " +
      "with no duplicates and reads back pruned") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_esi").toString
    val events = (1 to 40).map(i => ev(i, f"2024-01-01 00:${i % 60}%02d:00",
      user = i % 7, typ = Seq("view", "click", "purchase")(i % 3)))
    val (first, second) = events.splitAt(20)
    val store = s"$dir/store"
    val cp = s"$dir/cp"
    def run(): Unit = {
      val q = Jobs.eventStoreIngest(
        Jobs.readEventStream(spark, s"$dir/src", maxFilesPerTrigger = 2),
        store, cp)
      try q.processAllAvailable() finally q.stop()
    }
    spark.createDataset(first).write.mode("append").json(s"$dir/src")
    run() // first run lands the first half, multiple micro-batch epochs
    spark.createDataset(second).write.mode("append").json(s"$dir/src")
    run() // RESTART from the same checkpoint: only the new files land
    import org.apache.spark.sql.types._
    val schema = StructType(Jobs.eventSchema.fields.toSeq :+
      StructField("k", IntegerType))
    val got = graft.sources.EpochStore.read(spark, store, schema, "event_type")
    val truth = Jobs.clean(spark.createDataset(events).toDF())
    assert(got.count() == events.size, "restart duplicated or dropped rows")
    assert(got.collect().map(_.toSeq).toSet ==
      truth.collect().map(_.toSeq).toSet,
      "sink-landed rows must equal the cleaned batch truth")
    val epochs = graft.core.EpochManifest.entries(spark, store).map(_.epoch)
    assert(epochs.size >= 2 && epochs.distinct.size == epochs.size,
      s"per-micro-batch epochs expected: $epochs")
    // the landed layout prunes like any epochstore
    val probe = graft.sources.EpochStore.read(spark, store, schema, "event_type")
      .filter(col("event_type") === "click")
    assert(probe.count() == events.count(_.event_id % 3 == 1))
  }

  test("foreachBatch dual sink lands raw rows and serving aggregates") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_stream").toString
    val src = s"$dir/src"
    spark.createDataset(Seq(
      ev(1, "2024-01-01 00:00:00", typ = "click", v = 1.5),
      ev(2, "2024-01-01 00:01:00", typ = "view", v = 2.5),
      ev(3, "2024-01-01 00:02:00", typ = "click", v = 3.0)))
      .repartition(3).toDF().write.json(src)
    // one file per trigger → THREE epochs: proves the serving aggregate is
    // cumulative over the stream, not just the last micro-batch
    val stream = Jobs.clean(Jobs.readEventStream(spark, src, maxFilesPerTrigger = 1))
    val q = Jobs.dualSinkQuery(stream, s"$dir/raw", s"$dir/serving", s"$dir/cp")
    q.awaitTermination(60000)
    val raw = spark.read.parquet(s"$dir/raw")
    assert(raw.count() == 3)
    assert(raw.columns.contains("k")) // clean() extracted the JSON payload
    assert(raw.columns.contains("epoch")) // epoch-keyed layout = retry-idempotent
    val serving = spark.read.parquet(s"$dir/serving").orderBy("event_type").collect()
    assert(serving.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("click", 2L), ("view", 1L)))
  }

  test("serving sink is incremental: survives deletion of the raw history") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_incr").toString
    val src = s"$dir/src"
    spark.createDataset(Seq(
      ev(1, "2024-01-01 00:00:00", typ = "click", v = 1.5),
      ev(2, "2024-01-01 00:01:00", typ = "view", v = 2.5)))
      .toDF().write.json(src)
    Jobs.dualSinkQuery(Jobs.clean(Jobs.readEventStream(spark, src, 1)),
      s"$dir/raw", s"$dir/serving", s"$dir/cp").awaitTermination(60000)
    // DESTROY the raw history: if the serving store were rebuilt by
    // re-aggregating the raw dir (round 1's O(epochs × history) design),
    // the next epoch would lose these rows. Incremental partials must not.
    val fs = new org.apache.hadoop.fs.Path(s"$dir/raw")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/raw"), true))
    spark.createDataset(Seq(
      ev(3, "2024-01-01 00:02:00", typ = "click", v = 3.0)))
      .toDF().write.mode("append").json(src)
    Jobs.dualSinkQuery(Jobs.clean(Jobs.readEventStream(spark, src, 1)),
      s"$dir/raw", s"$dir/serving", s"$dir/cp").awaitTermination(60000)
    val serving = spark.read.parquet(s"$dir/serving").orderBy("event_type").collect()
    assert(serving.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("click", 2L, 4.5), ("view", 1L, 2.5)))
    // compaction folds the per-epoch partials without changing the result
    Jobs.compactServingPartials(spark, s"$dir/serving")
    val compacted = Jobs.servingFromPartials(spark, s"$dir/serving")
      .orderBy("event_type").collect()
    assert(compacted.map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq(("click", 2L, 4.5), ("view", 1L, 2.5)))
  }

  test("serving partials under the bench committer: a crash before any " +
       "manifest commit loses and double-counts nothing") {
    import spark.implicits._
    import graft.core.EpochManifest
    import org.apache.hadoop.fs.Path
    // Bench.sessionBuilder's committer settings: no success marker,
    // algorithm v2 (task output lands in place at task commit)
    val hc = spark.sparkContext.hadoopConfiguration
    val committer = Seq(
      "mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false",
      "mapreduce.fileoutputcommitter.algorithm.version" -> "2")
    val saved = committer.map { case (k, _) => k -> Option(hc.get(k)) }
    committer.foreach { case (k, v) => hc.set(k, v) }
    CrashFs.install(spark)
    try {
      val local = Files.createTempDirectory("graft_serving_crash").toString
      val src = s"$local/src"
      val serving = s"crashfs://$local/serving"
      val root = s"$serving.partials"
      val fs = new Path(root).getFileSystem(hc)
      val rnd = new scala.util.Random(20261018L)
      // truth: every event the stream has committed
      val landed = scala.collection.mutable.ArrayBuffer[Event]()
      var nextId = 0L
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      def check(tag: String): Unit = {
        val want = rows(spark.createDataset(landed.toSeq).toDF()
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast(graft.queries.Parity.Dec)).cast("double").as("total")))
        assert(rows(Jobs.servingFromPartials(spark, serving)) == want, s"$tag: partials")
        assert(rows(spark.read.parquet(serving)) == want, s"$tag: served view")
      }
      def nextFile(): Seq[Event] = {
        val evs = (0 until rnd.between(1, 5)).map { _ =>
          nextId += 1
          Event(nextId, ts(f"2024-01-01 00:${nextId % 60}%02d:00"), rnd.nextLong(5L),
            Seq("click", "view", "purchase")(rnd.nextInt(3)),
            rnd.nextInt(10000) / 100.0, "{}")
        }
        spark.createDataset(evs).toDF().coalesce(1).write.mode("append").json(src)
        evs
      }
      def run(): Unit =
        Jobs.dualSinkQuery(Jobs.clean(Jobs.readEventStream(spark, src, 1)),
          s"$local/raw", serving, s"$local/cp", compactEvery = 0)
          .awaitTermination(60000)
      // data dirs no retained manifest names: crash leavings
      def uncommitted(): Seq[Path] = {
        val named = EpochManifest.generations(spark, root)
          .flatMap(g => EpochManifest.entriesAt(spark, root, g)).map(_.dir).toSet
        fs.listStatus(new Path(root)).toSeq.map(_.getPath)
          .filter(p => p.getName.matches("[df]\\d+-\\d+") && !named(p.getName))
      }
      val crashed = scala.collection.mutable.ArrayBuffer[Path]()

      def land(): Unit = { landed ++= nextFile(); run() }
      def crashLand(): Unit = {
        // the epoch's partial is written, its commit dies: the committed
        // answer is unchanged, and the restarted stream retries the epoch
        val evs = nextFile()
        CrashFs.armed.set(true)
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
        assert(e.getMessage.contains("injected crash"), e.getMessage)
        val orphans = uncommitted().filterNot(crashed.contains)
        assert(orphans.size == 1 && orphans.head.getName.startsWith("d"),
          s"expected the crashed epoch's data dir, got $orphans")
        crashed ++= orphans
        check("after the crashed epoch")
        landed ++= evs
        run()
        val epochs = EpochManifest.entries(spark, root).map(_.epoch)
        assert(epochs.distinct.size == epochs.size, s"an epoch landed twice: $epochs")
      }
      def compact(): Unit = {
        Jobs.compactServingPartials(spark, serving)
        val es = EpochManifest.entries(spark, root)
        assert(es.size == 1, s"compaction left ${es.size} entries")
        // the fold is re-aggregated: one row per event_type, not per epoch
        val fold = spark.read.schema(Jobs.servingPartialSchema)
          .parquet(s"$root/${es.head.dir}").select("event_type").collect()
        assert(fold.length == fold.distinct.length &&
          fold.length == landed.map(_.event_type).distinct.size)
      }
      def crashCompact(): Unit = {
        // the fold is written, the manifest swap dies: readers keep the old
        // snapshot, and the next compaction folds only committed entries
        CrashFs.armed.set(true)
        val e = intercept[java.io.IOException](Jobs.compactServingPartials(spark, serving))
        assert(e.getMessage.contains("injected crash"), e.getMessage)
        val orphans = uncommitted().filterNot(crashed.contains)
        assert(orphans.size == 1 && orphans.head.getName.startsWith("f"),
          s"expected the crashed fold dir, got $orphans")
        assert(fs.listStatus(orphans.head).exists(_.getPath.getName.endsWith(".parquet")),
          "the fold was not written before the crash")
        assert(!fs.exists(new Path(orphans.head, "_SUCCESS")),
          "the committer wrote a success marker — the bench settings did not apply")
        crashed ++= orphans
        check("after the crashed fold")
        compact()
      }

      Seq[(String, () => Unit)](
        "land" -> land, "land" -> land, "crash-land" -> crashLand,
        "crash-compact" -> crashCompact, "land" -> land, "crash-land" -> crashLand,
        "land" -> land, "compact" -> compact, "land" -> land,
        "crash-land" -> crashLand, "crash-compact" -> crashCompact
      ).zipWithIndex.foreach { case ((tag, op), i) => op(); check(s"op $i ($tag)") }
      assert(crashed.size == 5)
      // gc reclaims every never-committed dir the crashes left behind
      EpochManifest.gc(spark, root, orphanAgeMs = 0L)
      crashed.foreach(p => assert(!fs.exists(p), s"orphan $p survived gc"))
      check("after gc")
    } finally {
      CrashFs.armed.set(false)
      saved.foreach {
        case (k, Some(v)) => hc.set(k, v)
        case (k, None) => hc.unset(k)
      }
    }
  }

  test("in-line compaction bounds the partial store over many epochs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString
    val src = s"$dir/src"
    val events = (1 to 9).map(i => ev(i, s"2024-01-01 00:0$i:00",
      typ = if (i % 2 == 0) "view" else "click", v = i * 0.5))
    // 9 single-row files + maxFilesPerTrigger=1 → 9 epochs = 3× compactEvery+
    spark.createDataset(events).repartition(9).toDF().write.json(src)
    val q = Jobs.dualSinkQuery(
      Jobs.clean(Jobs.readEventStream(spark, src, maxFilesPerTrigger = 1)),
      s"$dir/raw", s"$dir/serving", s"$dir/cp", compactEvery = 2)
    q.awaitTermination(120000)
    // without in-line compaction this would be 9 entries — one per epoch
    val partials = graft.core.EpochManifest.entries(spark, s"$dir/serving.partials")
    assert(partials.length <= 3,
      s"partial store not bounded: ${partials.length} committed entries")
    // and the compacted serving aggregate is identical to the all-at-once
    // batch aggregate over the same events (decimal fold = exact)
    val serving = spark.read.parquet(s"$dir/serving").orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = spark.createDataset(events).toDF()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(graft.queries.Parity.Dec)).cast("double").as("total"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(serving == batch)
  }

  test("stream-stream join pairs views with clicks and drops the late side") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = Jobs.streamStreamJoin(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    try {
      views.addData(ev(1, "2024-01-01 10:00:00", user = 1, typ = "view"))
      clicks.addData(ev(100, "2024-01-01 10:02:00", user = 1, typ = "click"),
        ev(101, "2024-01-01 10:20:00", user = 1, typ = "click")) // outside 5-min interval
      q.processAllAvailable()
      assert(spark.table("ssj").select("view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 100L)))
      // advance both watermarks to ~10:50 (distinct users → no new pairs)
      views.addData(ev(2, "2024-01-01 11:00:00", user = 8, typ = "view"))
      clicks.addData(ev(102, "2024-01-01 11:00:00", user = 9, typ = "click"))
      q.processAllAvailable()
      // a click at 10:01 is now far behind the watermark → dropped, even
      // though it would pair with view 1 in batch
      clicks.addData(ev(103, "2024-01-01 10:01:00", user = 1, typ = "click"))
      q.processAllAvailable()
      assert(spark.table("ssj").select("view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 100L)))
    } finally q.stop()
  }

  test("stream-stream join equals the batch interval join under bounded-disorder replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def micros(t: Timestamp): Long = Jobs.eventTimeMicros(t)
    val events = graft.core.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().toSeq
    val viewsAll = events.filter(_.event_type == "view")
    val clicksAll = events.filter(_.event_type == "click")
    // independent driver-side truth: every (view, click) of the same user
    // with the click inside [view_ts, view_ts + 12 h] — the interval is
    // widened from the catalog twin's 5 minutes to densify the pair set
    // (43 pairs at sf0.001 instead of 1) without changing the operator
    val boundUs = 12L * 3600L * 1000000L
    val truth = (for {
      v <- viewsAll; c <- clicksAll
      if c.user_id == v.user_id &&
        micros(c.ts) >= micros(v.ts) && micros(c.ts) <= micros(v.ts) + boundUs
    } yield (v.user_id, v.event_id, c.event_id)).toSet
    assert(truth.size > 20, s"fixture drifted: only ${truth.size} truth pairs")
    // bounded-disorder replay on BOTH sides: shuffle within 2-minute
    // buckets (max disorder ~4 min < the 10-min watermark delay) and feed
    // the two streams in lockstep so the global watermark — the min over
    // both sources — advances past every buffered row by the end
    val rnd = new scala.util.Random(13L)
    def perturb(es: Seq[Event]): Seq[Seq[Event]] =
      es.groupBy(e => micros(e.ts) / (120L * 1000000L)).toSeq.sortBy(_._1)
        .flatMap { case (_, g) => rnd.shuffle(g) }.grouped(40).toSeq
    val vChunks = perturb(viewsAll)
    val cChunks = perturb(clicksAll)
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = Jobs.streamStreamJoin(views.toDF(), clicks.toDF(), within = "12 hours")
      .writeStream.format("memory").queryName("ssj_replay")
      .outputMode("append").start()
    try {
      vChunks.zipAll(cChunks, Seq.empty[Event], Seq.empty[Event]).foreach {
        case (vc, cc) =>
          if (vc.nonEmpty) views.addData(vc: _*)
          if (cc.nonEmpty) clicks.addData(cc: _*)
          q.processAllAvailable()
      }
      // sentinel on BOTH sides pushes the global watermark an hour past
      // the last event, flushing every still-buffered pair
      val lastUs = events.map(e => micros(e.ts)).max
      val flush = new Timestamp((lastUs + 3600L * 1000000L) / 1000L)
      views.addData(Event(-1L, flush, -999L, "view", 0.0, "{}"))
      clicks.addData(Event(-2L, flush, -999L, "click", 0.0, "{}"))
      q.processAllAvailable()
      val got = spark.table("ssj_replay")
        .select("user_id", "view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filterNot(_._1 == -999L).toSet
      assert(got == truth, {
        val miss = (truth -- got).take(5); val extra = (got -- truth).take(5)
        s"stream join diverged: missing=$miss extra=$extra"
      })
    } finally q.stop()
  }

  test("outer stream-stream join defers the null-extension to watermark close; replay equals batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def micros(t: Timestamp): Long = Jobs.eventTimeMicros(t)
    // small-scale semantics first: a matched view emits immediately; an
    // unmatched view emits null-extended ONLY once the watermark passes
    // the end of its interval
    locally {
      val views = MemoryStream[Event]
      val clicks = MemoryStream[Event]
      val q = Jobs.streamStreamJoinOuter(views.toDF(), clicks.toDF())
        .writeStream.format("memory").queryName("ssj_outer")
        .outputMode("append").start()
      try {
        views.addData(ev(1, "2024-01-01 10:00:00", user = 1, typ = "view"),
          ev(2, "2024-01-01 10:00:00", user = 2, typ = "view")) // never clicks
        clicks.addData(ev(100, "2024-01-01 10:02:00", user = 1, typ = "click"))
        q.processAllAvailable()
        val got1 = spark.table("ssj_outer").select("view_id", "click_id").collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
        assert(got1 == Set((1L, 100L)),
          s"unmatched view must NOT emit before watermark close: $got1")
        // advance the watermark far past view 2's interval on both sides
        views.addData(ev(3, "2024-01-01 12:00:00", user = 8, typ = "view"))
        clicks.addData(ev(101, "2024-01-01 12:00:00", user = 9, typ = "click"))
        q.processAllAvailable()
        views.addData(ev(4, "2024-01-01 13:00:00", user = 8, typ = "view"))
        clicks.addData(ev(102, "2024-01-01 13:00:00", user = 9, typ = "click"))
        q.processAllAvailable()
        val got2 = spark.table("ssj_outer").select("view_id", "click_id").collect()
          .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
        assert(got2.contains((2L, -1L)), s"unmatched view never null-extended: $got2")
      } finally q.stop()
    }
    // fixture-replay equality vs the batch twin's semantics (12 h bound
    // densifies matches; unmatched views must all surface by the flush)
    val events = graft.core.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().toSeq
    val viewsAll = events.filter(_.event_type == "view")
    val clicksAll = events.filter(_.event_type == "click")
    val boundUs = 12L * 3600L * 1000000L
    val truth = viewsAll.flatMap { v =>
      val cs = clicksAll.filter(c => c.user_id == v.user_id &&
        micros(c.ts) >= micros(v.ts) && micros(c.ts) <= micros(v.ts) + boundUs)
      if (cs.isEmpty) Seq((v.user_id, v.event_id, -1L))
      else cs.map(c => (v.user_id, v.event_id, c.event_id))
    }.toSet
    val rnd = new scala.util.Random(17L)
    def perturb(es: Seq[Event]): Seq[Seq[Event]] =
      es.groupBy(e => micros(e.ts) / (120L * 1000000L)).toSeq.sortBy(_._1)
        .flatMap { case (_, g) => rnd.shuffle(g) }.grouped(40).toSeq
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = Jobs.streamStreamJoinOuter(views.toDF(), clicks.toDF(), within = "12 hours")
      .writeStream.format("memory").queryName("ssj_outer_replay")
      .outputMode("append").start()
    try {
      perturb(viewsAll).zipAll(perturb(clicksAll), Seq.empty[Event], Seq.empty[Event])
        .foreach { case (vc, cc) =>
          if (vc.nonEmpty) views.addData(vc: _*)
          if (cc.nonEmpty) clicks.addData(cc: _*)
          q.processAllAvailable()
        }
      // flush: two sentinel rounds push the watermark past every view's
      // interval end (+12 h) so all unmatched views null-extend
      val lastUs = events.map(e => micros(e.ts)).max
      for (h <- Seq(13L, 14L)) {
        val flush = new Timestamp((lastUs + h * 3600L * 1000000L) / 1000L)
        views.addData(Event(-1L - h, flush, -999L, "view", 0.0, "{}"))
        clicks.addData(Event(-100L - h, flush, -999L, "click", 0.0, "{}"))
        q.processAllAvailable()
      }
      val got = spark.table("ssj_outer_replay")
        .select("user_id", "view_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
        .filterNot(_._1 == -999L).toSet
      assert(got == truth, {
        val miss = (truth -- got).take(5); val extra = (got -- truth).take(5)
        s"outer stream join diverged: missing=$miss extra=$extra"
      })
    } finally q.stop()
  }

  test("stream-static join enriches each micro-batch from the broadcast dimension") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = graft.core.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().toSeq
    val dim = graft.core.Tables.customer(spark, sf0001)
    val in = MemoryStream[Event]
    val q = Jobs.streamStaticJoin(in.toDF(), dim)
      .writeStream.format("memory").queryName("ss_static")
      .outputMode("append").start()
    try {
      events.grouped(200).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      val got = spark.table("ss_static")
        .select("event_id", "user_id", "event_type", "c_name", "c_mktsegment")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getString(4)))
        .toSet
      val batch = graft.queries.EventsCatalog.streamStaticJoinBatch(spark, sf0001)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3), r.getString(4)))
        .toSet
      assert(got == batch && got.nonEmpty)
      // the enrichment must stay a broadcast join — a shuffle on the
      // stream side would repartition every micro-batch of a 100 TB feed
      val plan = graft.queries.EventsCatalog.streamStaticJoinBatch(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    } finally q.stop()
  }

  test("stateful funnel equals the batch cascade under bounded-disorder replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def micros(t: Timestamp): Long = Jobs.eventTimeMicros(t)
    val events = graft.core.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().toSeq
    // independent driver-side truth: the cascade by its definition, no
    // ordering involved (t1 = min view; t2 = min click > t1; t3 = min
    // purchase > t2)
    val truth = events.groupBy(_.user_id).map { case (u, es) =>
      def minAfter(typ: String, after: Long): Long = {
        val c = es.filter(e => e.event_type == typ && micros(e.ts) > after)
        if (c.isEmpty) -1L else c.map(e => micros(e.ts)).min
      }
      val t1 = {
        val v = es.filter(_.event_type == "view")
        if (v.isEmpty) -1L else v.map(e => micros(e.ts)).min
      }
      val t2 = if (t1 < 0) -1L else minAfter("click", t1)
      val t3 = if (t2 < 0) -1L else minAfter("purchase", t2)
      u -> (t1, t2, t3)
    }
    // arrival order: event-time order perturbed by shuffling WITHIN
    // 2-minute buckets — max disorder ~4 min, safely inside the 10-min
    // watermark delay, so nothing is genuinely late and the stream must
    // reproduce the batch cascade EXACTLY despite the scrambling
    val rnd = new scala.util.Random(7L)
    val perturbed = events.groupBy(e => micros(e.ts) / (120L * 1000000L)).toSeq
      .sortBy(_._1).flatMap { case (_, g) => rnd.shuffle(g) }
    val in = MemoryStream[Event]
    val q = Jobs.statefulFunnel(in.toDS())
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("update").start()
    try {
      perturbed.grouped(250).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      // sentinel one hour past the last event pushes the watermark over
      // everything still pending (and times out every buffered user)
      val lastUs = events.map(e => micros(e.ts)).max
      val flush = new Timestamp((lastUs + 3600L * 1000000L) / 1000L)
      in.addData(Event(-1L, flush, -999L, "view", 0.0, "{}"))
      q.processAllAvailable()
      val got = spark.table("funnel_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .groupBy(_._1).map { case (u, rows) =>
          val last = rows.maxBy(_._2)
          u -> (last._3, last._4, last._5)
        } - (-999L)
      assert(got == truth, {
        val diff = (truth.keySet ++ got.keySet)
          .filter(u => truth.get(u) != got.get(u)).take(5)
        s"stream cascade diverged for users $diff: " +
          diff.map(u => s"$u truth=${truth.get(u)} got=${got.get(u)}").mkString("; ")
      })
      // and the folded step counts are funnelOf's numbers over the same frame
      val batch = graft.queries.EventsCatalog.funnelOf(
        spark.createDataset(events).toDF()).collect()(0)
      assert(batch.getLong(0) == truth.count(_._2._1 >= 0))
      assert(batch.getLong(1) == truth.count(_._2._2 >= 0))
      assert(batch.getLong(2) == truth.count(_._2._3 >= 0))
    } finally q.stop()
  }

  test("stateful retention equals the batch triangle under bounded-disorder replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def micros(t: Timestamp): Long = Jobs.eventTimeMicros(t)
    val events = graft.core.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().toSeq
    // same bounded-disorder replay discipline as the funnel test
    val rnd = new scala.util.Random(11L)
    val perturbed = events.groupBy(e => micros(e.ts) / (120L * 1000000L)).toSeq
      .sortBy(_._1).flatMap { case (_, g) => rnd.shuffle(g) }
    val in = MemoryStream[Event]
    val q = Jobs.statefulRetention(in.toDS())
      .writeStream.format("memory").queryName("retention_stream")
      .outputMode("update").start()
    try {
      perturbed.grouped(250).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      val lastUs = events.map(e => micros(e.ts)).max
      val flush = new Timestamp((lastUs + 3600L * 1000000L) / 1000L)
      in.addData(Event(-1L, flush, -999L, "view", 0.0, "{}"))
      q.processAllAvailable()
      // latest per-user row -> fold the masks into the (cohort, offset, n)
      // triangle
      val perUser = spark.table("retention_stream")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        .groupBy(_._1).map { case (u, rows) =>
          val last = rows.maxBy(_._2); u -> (last._3, last._4)
        } - (-999L)
      val gotTriangle = perUser.toSeq
        .flatMap { case (_, (cohort, mask)) =>
          (0 to 7).filter(o => (mask & (1 << o)) != 0).map(o => (cohort, o.toLong)) }
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val batchTriangle = graft.queries.EventsCatalog.retention(spark, sf0001)
        .collect().map { r =>
          (java.time.LocalDate.parse(r.getString(0)).toEpochDay, r.getInt(1).toLong) ->
            r.getLong(2)
        }.toMap
      assert(gotTriangle == batchTriangle, {
        val keys = (gotTriangle.keySet ++ batchTriangle.keySet)
          .filter(k => gotTriangle.get(k) != batchTriangle.get(k)).take(5)
        s"triangle diverged at $keys: stream=${keys.map(gotTriangle.get)} " +
          s"batch=${keys.map(batchTriangle.get)}"
      })
    } finally q.stop()
  }

  test("funnel TTL evicts inactive users after a final update; finals match the no-TTL run") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def micros(t: Timestamp): Long = Jobs.eventTimeMicros(t)
    val events = graft.core.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[Event].collect().toSeq.sortBy(e => micros(e.ts))
    val lastUs = events.map(e => micros(e.ts)).max
    // two far-future sentinels: the first pushes the watermark a month
    // past the fixture (every user inactive >> the 3-day TTL), the second
    // triggers the timeout pass that fires the evictions
    val s1 = new Timestamp((lastUs + 30L * 86400L * 1000000L) / 1000L)
    val s2 = new Timestamp((lastUs + 30L * 86400L * 1000000L + 3600L * 1000000L) / 1000L)
    def replay(ttl: Option[java.time.Duration]): (Map[Long, (Long, Long, Long)], Long) = {
      val in = MemoryStream[Event]
      val q = Jobs.statefulFunnel(in.toDS(), ttl = ttl)
        .writeStream.format("memory").queryName(s"funnel_ttl_${ttl.isDefined}")
        .outputMode("update").start()
      try {
        events.grouped(250).foreach { c => in.addData(c: _*); q.processAllAvailable() }
        in.addData(Event(-1L, s1, -999L, "view", 0.0, "{}")); q.processAllAvailable()
        in.addData(Event(-2L, s2, -999L, "view", 0.0, "{}")); q.processAllAvailable()
        val finals = spark.table(s"funnel_ttl_${ttl.isDefined}")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
          .groupBy(_._1).map { case (u, rows) =>
            val last = rows.maxBy(_._2); u -> (last._3, last._4, last._5)
          } - (-999L)
        val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
        (finals.toMap, stateRows)
      } finally q.stop()
    }
    val (noTtlFinals, noTtlState) = replay(None)
    val (ttlFinals, ttlState) = replay(Some(java.time.Duration.ofDays(3)))
    // eviction emitted a final update carrying the SAME cascade values
    assert(ttlFinals == noTtlFinals, "TTL eviction changed emitted cascades")
    // no-TTL state holds every user ever seen; TTL state holds only the
    // sentinel user (still inside its own TTL) — the footprint a
    // long-running deployment needs
    val users = events.map(_.user_id).distinct.size
    assert(noTtlState >= users.toLong, s"no-TTL state $noTtlState < $users users")
    assert(ttlState <= 1L, s"TTL left $ttlState state rows, expected <= 1")
  }

  test("kafka-shaped frames flow end-to-end: decode -> window -> sink") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def frame(id: Long, t: String, typ: String): (Array[Byte], Array[Byte], Timestamp) =
      (id.toString.getBytes("UTF-8"),
        s"""{"event_id":$id,"ts":"${t.replace(' ', 'T')}Z","user_id":${id % 5},"event_type":"$typ","value":1.0,"props":"{}"}""".getBytes("UTF-8"),
        ts(t))
    val in = MemoryStream[(Array[Byte], Array[Byte], Timestamp)]
    val decoded = Jobs.decodeKafkaFrame(in.toDF().toDF("key", "value", "timestamp"))
    val q = Jobs.windowedAgg(decoded)
      .writeStream.format("memory").queryName("kafka_e2e").outputMode("append").start()
    try {
      in.addData(frame(1, "2024-01-01 00:10:00", "click"),
        frame(2, "2024-01-01 00:20:00", "click"),
        (Array[Byte](9), "garbage not json".getBytes("UTF-8"), ts("2024-01-01 00:21:00")))
      q.processAllAvailable()
      in.addData(frame(3, "2024-01-01 02:00:00", "view")) // closes the 00:00 window
      q.processAllAvailable()
      val rows = spark.table("kafka_e2e").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[String]("event_type") == "click")
      assert(rows(0).getAs[Long]("n") == 2) // the undecodable frame dropped
      assert(rows(0).getAs[Timestamp]("wstart") == ts("2024-01-01 00:00:00"))
    } finally q.stop()
  }

  test("listing stream ingests the reference's per-file layout and dedups ids") {
    import graft.core.Listings
    val dir = Files.createTempDirectory("graft_liststream").toString
    // land 3 real reference files, one of them twice (re-crawl)
    val refFiles = new java.io.File(Listings.ReferenceRun)
      .listFiles().filter(_.getName.endsWith(".json")).take(3)
    refFiles.zipWithIndex.foreach { case (f, i) =>
      java.nio.file.Files.copy(f.toPath,
        java.nio.file.Paths.get(s"$dir/house_$i.json"))
    }
    java.nio.file.Files.copy(refFiles(0).toPath,
      java.nio.file.Paths.get(s"$dir/house_redo.json"))
    // ONE file per trigger → 4 micro-batches: the duplicate arrives in a
    // LATER batch than its original, so this exercises cross-batch dedup
    // state, not just within-batch dedup
    val q = Jobs.listingPipeline(Jobs.readListingStream(spark, dir, maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("listings").outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("listings")
      assert(got.count() == 3) // 4 files over 4 batches, 1 duplicate id dropped
      assert(got.select("id").distinct().count() == 3)
      assert(got.columns.contains("post_ts"))
    } finally q.stop()
  }

  test("kafka-frame decode: valid payloads parse, undecodable ones drop") {
    import spark.implicits._
    // the exact column shape format("kafka") produces
    val frame = Seq(
      (Array[Byte](1), """{"event_id":1,"ts":"2024-01-01T00:00:00Z","user_id":7,"event_type":"click","value":1.5,"props":"{}"}""".getBytes("UTF-8"), ts("2024-01-01 00:00:01")),
      (Array[Byte](2), "not json at all".getBytes("UTF-8"), ts("2024-01-01 00:00:02")))
      .toDF("key", "value", "timestamp")
    val out = Jobs.decodeKafkaFrame(frame).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("event_id") == 1L)
    assert(out(0).getAs[Long]("user_id") == 7L)
    assert(out(0).getAs[Timestamp]("ingest_ts") == ts("2024-01-01 00:00:01"))
  }

  test("sliding windows place each event in exactly two windows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Jobs.slidingAgg(in.toDF())
      .writeStream.format("memory").queryName("slide").outputMode("complete").start()
    try {
      in.addData(ev(1, "2024-01-01 00:40:00"), ev(2, "2024-01-01 00:50:00"))
      q.processAllAvailable()
      val rows = spark.table("slide").collect()
      assert(rows.map(_.getAs[Long]("n")).sum == 4) // 2 events × 2 windows
      assert(rows.map(_.getAs[Timestamp]("wstart")).distinct.length == 2) // 00:00 and 00:30
    } finally q.stop()
  }

  test("streaming windowed agg agrees with the batch form on replayed data") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_replay").toString
    val events = spark.createDataset((0 until 200).map { i =>
      ev(i, f"2024-01-01 ${i / 25}%02d:${(i * 7) % 60}%02d:00", user = i % 10,
        typ = if (i % 3 == 0) "click" else "view", v = i * 0.5)
    })
    events.toDF().write.json(s"$dir/src")
    val stream = Jobs.windowedAgg(Jobs.readEventStream(spark, s"$dir/src", maxFilesPerTrigger = 1))
    val q = stream.writeStream.format("memory").queryName("replay")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("replay").orderBy("wstart", "event_type").collect()
    val batch = Jobs.windowedAgg(events.toDF()).orderBy("wstart", "event_type").collect()
    assert(streamed.sameElements(batch))
  }

  test("streaming heavy hitters: typed sketch buffer survives the state store, == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Jobs.windowedHeavyHitters(in.toDF())
      .writeStream.format("memory").queryName("hh_stream").outputMode("complete").start()
    try {
      // two micro-batches into the SAME window: the second must merge
      // with the sketch buffer deserialized from the state store
      val batch1 = Seq(ev(1, "2024-01-01 00:05:00", typ = "click"),
        ev(2, "2024-01-01 00:10:00", typ = "click"),
        ev(3, "2024-01-01 00:15:00", typ = "view"))
      val batch2 = Seq(ev(4, "2024-01-01 00:20:00", typ = "click"),
        ev(5, "2024-01-01 00:25:00", typ = "scroll"))
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("hh_stream")
        .select("item", "est", "err").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Jobs.windowedHeavyHitters(
          spark.createDataset(batch1 ++ batch2).toDF())
        .select("item", "est", "err").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch)
      assert(streamed == Set(("click", 3L, 0L), ("view", 1L, 0L), ("scroll", 1L, 0L)))
    } finally q.stop()
  }

  test("streaming windowed distinct: HLL registers survive the state store, == batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Event]
    val q = Jobs.windowedDistinct(in.toDF())
      .writeStream.format("memory").queryName("hll_stream").outputMode("complete").start()
    try {
      // users split across two micro-batches of the same window, with a
      // repeat (user 2) that the idempotent max-merge must not double-count
      val batch1 = (1 to 40).map(u => ev(u, "2024-01-01 00:05:00", user = u))
      val batch2 = (30 to 70).map(u => ev(u, "2024-01-01 00:40:00", user = u))
      in.addData(batch1: _*)
      q.processAllAvailable()
      in.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("hll_stream")
        .select("wstart", "regs").collect()
        .map(r => r.getTimestamp(0) -> r.getSeq[Int](1).toArray).toMap
      val batch = Jobs.windowedDistinct(spark.createDataset(batch1 ++ batch2).toDF())
        .collect().map(r => r.getTimestamp(0) -> r.getSeq[Int](1).toArray).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (w, regs) =>
        assert(regs.sameElements(batch(w)), s"registers diverge in window $w")
      }
      // the estimate is sane for the 70 true distinct users
      val est = graft.plans.HllRegistersAgg.estimate(streamed.values.head)
      assert(math.abs(est - 70) / 70.0 <= 0.35, s"windowed estimate $est for 70 users")
    } finally q.stop()
  }

  test("streaming incremental dedup: later batches dedup against streamed history") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_dedup_ingest").toString
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    graft.queries.TextCatalog.buildBandIndex(corpus, s"$dir/idx")
    val doc3 = corpus.filter(col("doc_id") === 3).collect()(0).getString(1)
    val doc7 = corpus.filter(col("doc_id") === 7).collect()(0).getString(1)
    val freshText = "uniq1 uniq2 uniq3 uniq4 uniq5 uniq6 uniq7 uniq8 uniq9 uniq10 uniq11"
    val in = MemoryStream[(Long, String)]
    def run(): Unit =
      Jobs.dedupIngest(in.toDF().toDF("doc_id", "text"), s"$dir/idx",
        s"$dir/out", s"$dir/cp").awaitTermination(60000)
    // batch 1: a copy of base doc 3, plus a genuinely fresh doc
    in.addData((300001L, doc3), (300002L, freshText))
    run()
    // batch 2: a copy of the STREAMED fresh doc (only findable if batch 1
    // extended the index), plus a copy of base doc 7
    in.addData((300003L, freshText), (300004L, doc7))
    run()
    val pairs = spark.read.parquet(s"$dir/out")
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 300001L)), s"base copy not caught: $pairs")
    assert(pairs.contains((7L, 300004L)), s"second-batch base copy not caught: $pairs")
    assert(pairs.contains((300002L, 300003L)),
      s"streamed-history near-dup not caught — index did not grow: $pairs")
    assert(!pairs.exists(_._2 == 300002L), s"fresh doc false-matched: $pairs")
  }

  test("a retried dedup epoch does not probe its own previous attempt's index extension") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_dedup_retry").toString
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    graft.queries.TextCatalog.buildBandIndex(corpus, s"$dir/idx") // epoch 0
    val doc3 = corpus.filter(col("doc_id") === 3).collect()(0).getString(1)
    // stream epoch 0's batch: two copies of base doc 3 (so it also has an
    // INTRA-batch near-dup pair, the other leak mode of a self-probe)
    val batch = Seq((300001L, doc3), (300002L, doc3)).toDF("doc_id", "text")
    def probe(maxEpoch: Long) =
      graft.queries.TextCatalog.dedupAgainstIndex(batch, s"$dir/idx", 0.8, maxEpoch)
        .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val firstAttempt = probe(maxEpoch = 0L)
    // first attempt extended the index (epoch = streamEpoch + 1), then
    // crashed BEFORE the checkpoint committed — the retry re-probes
    graft.queries.TextCatalog.appendBandIndex(batch, s"$dir/idx", epoch = 1L)
    // unbounded, the retry sees its own signatures: self-pairs and
    // intra-batch pairs appear (this is the window the bound closes)
    val unbounded = probe(maxEpoch = Long.MaxValue)
    assert(unbounded.exists(p => p._1 >= 300001L),
      s"expected the unbounded retry to self-match (fixture lost its teeth): $unbounded")
    // bounded to epochs <= the stream epoch, the retry reads exactly what
    // the first attempt read — exactly-once output under retry
    assert(probe(maxEpoch = 0L) == firstAttempt)
    assert(firstAttempt == Set((3L, 300001L), (3L, 300002L)),
      s"unexpected first-attempt pairs: $firstAttempt")
  }

  test("band index compaction: bounded entries, identical probes, snapshot + crash safety") {
    import org.apache.hadoop.fs.Path
    import graft.core.EpochManifest
    import graft.queries.TextCatalog
    val dir = Files.createTempDirectory("graft_band_compact").toString
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def entryEpochs(root: String): Seq[Long] =
      EpochManifest.entries(spark, root).map(_.epoch).sorted
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    graft.queries.TextCatalog.buildBandIndex(corpus, s"$dir/idx") // epoch 0
    def append(e: Int): Unit =
      graft.queries.TextCatalog.appendBandIndex(
        corpus.filter(col("doc_id") < 5)
          .select((col("doc_id") + lit(e * 100000L)).as("doc_id"), col("text")),
        s"$dir/idx", e)
    (1 to 3).foreach(append)
    val probeBatch = corpus.filter(col("doc_id") === 3)
      .select((col("doc_id") + lit(900000L)).as("doc_id"), col("text"))
    def probe() = graft.queries.TextCatalog.dedupAgainstIndex(probeBatch, s"$dir/idx")
      .collect().map(_.toSeq).toSeq
    val pre = probe()
    // every epoch's copy of doc 3 must be in the pre-compaction history
    // (organic ≥0.8 near-dups of doc 3 may legitimately ride along)
    assert(Set(3L, 100003L, 200003L, 300003L)
      .subsetOf(pre.map(_.head.asInstanceOf[Long]).toSet), s"probe: $pre")
    // crash DURING a fold write: an orphan uncommitted dir must be
    // invisible to probes and reclaimed by the next compaction's gc —
    // aged past the in-flight-writer grace window first (a FRESH
    // never-committed dir could be a live concurrent writer's staging
    // and must survive; EpochManifestSpec pins that side)
    fs.mkdirs(new Path(s"$dir/idx/bands/d3-9"))
    val orphanAge = System.currentTimeMillis() -
      graft.core.EpochManifest.OrphanReclaimAfterMs - 60000L
    fs.setTimes(new Path(s"$dir/idx/bands/d3-9"), orphanAge, orphanAge)
    // a probe PINNED before the compaction (its manifest snapshot and
    // file listing resolved now) must read through the swap unchanged
    val pinned = graft.queries.TextCatalog.dedupAgainstIndex(probeBatch, s"$dir/idx")
    graft.streaming.Jobs.compactBandIndex(spark, s"$dir/idx", uptoEpoch = 4L)
    assert(entryEpochs(TextCatalog.bandsRoot(s"$dir/idx")) == Seq(3L))
    assert(entryEpochs(TextCatalog.shinglesRoot(s"$dir/idx")) == Seq(3L))
    assert(probe() == pre, "compaction changed probe results")
    assert(pinned.collect().map(_.toSeq).toSeq == pre,
      "pinned probe diverged under concurrent compaction")
    // next cycle: two more epochs + compaction — entries fold again,
    // results extend by exactly the per-epoch contribution, and the
    // crash orphan is gone
    (4 to 5).foreach(append)
    val pre2 = probe()
    val perEpoch = pre.count { r =>
      val d = r.head.asInstanceOf[Long]; d >= 100000L && d < 200000L
    }
    assert(pre2.size == pre.size + 2 * perEpoch)
    graft.streaming.Jobs.compactBandIndex(spark, s"$dir/idx", uptoEpoch = 6L)
    assert(entryEpochs(TextCatalog.bandsRoot(s"$dir/idx")) == Seq(5L))
    assert(entryEpochs(TextCatalog.shinglesRoot(s"$dir/idx")) == Seq(5L))
    assert(probe() == pre2, "second compaction lost or duplicated history")
    assert(!fs.exists(new Path(s"$dir/idx/bands/d3-9")), "crash orphan survived gc")
  }

  test("inverted ingest: streamed epochs + mid-stream compaction equal a batch rebuild") {
    import spark.implicits._
    import graft.queries.TextCatalog
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_inv_ingest").toString
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    // batch build owns epoch 0; the stream appends the rest in 4 batches
    // with compactEvery=2, so stream epoch 2 folds the store mid-run
    TextCatalog.buildInvertedIndexStore(corpus.filter(col("doc_id") < 10), s"$dir/idx")
    val in = MemoryStream[(Long, String)]
    def run(): Unit =
      graft.streaming.Jobs.invertedIngest(in.toDF().toDF("doc_id", "text"),
        s"$dir/idx", s"$dir/cp", compactEvery = 2).awaitTermination(60000)
    val batches = rows.filter(_._1 >= 10).grouped(12).toSeq
    assert(batches.size >= 3, "fixture too small to cross the compaction boundary")
    batches.foreach { b => in.addData(b.toSeq); run() }
    val terms = Seq("vector", "join", "scan", "window")
    val streamed = TextCatalog.searchInvertedIndexStore(spark, s"$dir/idx", terms, k = 8)
      .collect().map(_.toSeq).toSeq
    // batch twin: one build over the whole corpus in a fresh store
    val dir2 = Files.createTempDirectory("graft_inv_twin").toString
    TextCatalog.buildInvertedIndexStore(corpus, s"$dir2/idx")
    val batchRes = TextCatalog.searchInvertedIndexStore(spark, s"$dir2/idx", terms, k = 8)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batchRes,
      s"streamed index diverged from batch rebuild:\n $streamed\n vs $batchRes")
    // the mid-stream fold bounded the manifest: fewer entries than epochs
    // written (base + 4 appends = 5 without compaction)
    val entries = graft.core.EpochManifest.entries(
      spark, TextCatalog.postingsRoot(s"$dir/idx"))
    assert(entries.size < 1 + batches.size,
      s"compaction never fired: ${entries.size} manifest entries")
  }

  test("streaming IVF append: restart-safe, composes with the batch-built base index") {
    import spark.implicits._
    import graft.functions.VectorOps.ivfGeometry
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_ivf_stream").toString
    val corpus = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // production shape: the BATCH build owns epoch=0 and its model; the
    // stream appends later epochs against that fixed model
    val base = corpus.filter(col("vec_id") >= 50)
    val geo = ivfGeometry(base.count())
    val assigner = graft.queries.VectorCatalog.buildIvfIndex(base, geo, s"$dir/idx")
    val rows = corpus.filter(col("vec_id") < 50)
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val in = MemoryStream[(Long, Array[Float])]
    def run(): Unit =
      Jobs.ivfIndexAppend(in.toDF().toDF("vec_id", "embedding"), assigner,
        s"$dir/idx", s"$dir/cp").awaitTermination(60000)
    // two separate AvailableNow runs over ONE checkpoint: the second must
    // append only the new rows (epoch-keyed overwrite exactly-once)
    in.addData(rows.take(30).toIndexedSeq: _*)
    run()
    in.addData(rows.slice(30, 50).toIndexedSeq: _*)
    run()
    // one read of the root sees base AND streamed epochs — the regression
    // this guards: the old parquet file SINK left a _spark_metadata log
    // that silently excluded every batch-built base file from reads
    val idx = graft.core.EpochManifest.read(spark, s"$dir/idx",
      graft.queries.VectorCatalog.ivfIndexSchema)
    assert(idx.count() == corpus.count(), "base + streamed rows lost or duplicated")
    val got = idx.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("list_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    val expect = rows.map { case (id, emb) => id -> assigner.assign(emb) }.toMap
    assert(got == expect)
    // and a search over the composed index returns BASE vectors (the
    // sink-metadata bug's symptom was streamed-rows-only results)
    val queries = rows.take(2).toSeq
    val res = graft.queries.VectorCatalog.searchIvfIndex(
      spark, s"$dir/idx", assigner, queries, geo.nprobe).collect()
    assert(res.nonEmpty)
    assert(res.exists(_.getLong(2) >= 50),
      "search results contain no base-index vectors — base epoch invisible")
  }

  test("streaming as-of enrichment: replayed epochs union to the batch answer, " +
       "exactly-once per epoch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("graft_asof_stream").toString
    val e = graft.core.Tables.events(spark, sf0001)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"), col("ts").as("c_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
    def keyed(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
      rows.map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val expected = keyed(graft.plans.AsOfJoin.asofBackward(purchases, clicks,
        Seq("user_id"), "p_ts", "c_ts", rightTieBreaks = Seq("c_id"), outer = true)
      .select(col("p_id"), col("c_id")).collect())
    val rows = purchases.as[(Long, Long, Timestamp)].collect()
    val in = MemoryStream[(Long, Long, Timestamp)]
    def run(): Unit =
      Jobs.asofEnrich(in.toDF().toDF("user_id", "p_id", "p_ts"), clicks,
        s"$dir/out", s"$dir/cp").awaitTermination(60000)
    // three AvailableNow runs over one checkpoint → three epochs
    rows.grouped((rows.length + 2) / 3).foreach { ch =>
      in.addData(ch.toIndexedSeq: _*); run()
    }
    val out = spark.read.parquet(s"$dir/out")
    assert(keyed(out.select(col("p_id"), col("c_id")).collect()) == expected)
    // outer contract: every probe lands exactly once across the epochs
    assert(out.count() == rows.length)
    assert(expected.exists(_._2 == -1L) || out.count() > 0)
  }
}
