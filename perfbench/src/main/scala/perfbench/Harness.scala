package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop load for one benchmark run: one client issues catalog
  * queries one after another on the deployed session recipe
  * (`graft.Bench.sessionBuilder`).
  *
  *  1. Cold pass: every op once, its output written as parquet for the
  *     oracle check. Process start to the end of this pass is `setup_s`.
  *  2. Warm passes: every op fully materialized through the `noop` sink,
  *     in a seeded order that gives each op a different predecessor
  *     from pass to pass. Passes in the first `WarmupS` only warm up;
  *     then passes are measured until `--seconds` have passed. With
  *     `--trace 1` measured passes alternate between recording listener
  *     events and not, so the report can state the cost of tracing.
  *  3. Ops without an oracle run once more, so their row count can be
  *     checked for repetition.
  *
  * The store root (the JVM's `java.io.tmpdir`) is listed before and after
  * every op, outside the timed interval; the diff classifies write ops
  * and feeds the store counters. Everything is written to `<out>/run.json`
  * for `perfbench/report.py`.
  */
object Harness {
  /** Seconds of warm passes before measuring starts. */
  private val WarmupS = 8.0

  private final case class Args(data: String, ops: Seq[String], seed: Long,
                                seconds: Double, trace: Boolean, out: String,
                                cpus: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("data"), need("ops").split(",").toSeq.filter(_.nonEmpty),
      need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("out"), m.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString))
  }

  /** Regular files under `root` with their sizes; files that vanish
    * during the walk are skipped. */
  private def listing(root: Path): Map[String, Long] = {
    val b = Map.newBuilder[String, Long]
    def walk(d: Path): Unit = {
      val s = try Files.newDirectoryStream(d) catch { case _: java.io.IOException => return }
      try s.asScala.foreach { p =>
        if (Files.isDirectory(p)) walk(p)
        else try b += root.relativize(p).toString -> Files.size(p)
        catch { case _: java.io.IOException => () }
      } finally s.close()
    }
    walk(root)
    b.result()
  }

  private def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
    catch { case _: Throwable => -1L }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum
  private def jitMs(): Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val storeRoot = Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath
    val out = Paths.get(a.out)
    Files.createDirectories(out)
    val catalog = graft.SparkEntry.queries
    val unknown = a.ops.filterNot(catalog.contains)
    require(unknown.isEmpty, s"unknown catalog queries: ${unknown.mkString(", ")}")
    val oracle = graft.SparkEntry.oracleSql

    val builder = graft.Bench.sessionBuilder(a.cpus)
    if (a.trace) builder
      .config("spark.sql.queryExecutionListeners", classOf[Trace.Planning].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[Trace.Streaming].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Bench.silenceBenignStreamingTermination()
    if (a.trace) spark.sparkContext.addSparkListener(new Trace.Scheduler)

    // one clock for every record: epoch ms with nanoTime resolution
    val nano0 = System.nanoTime()
    val epoch0 = System.currentTimeMillis().toDouble
    def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

    val opRecs = Seq.newBuilder[String]
    val passRecs = Seq.newBuilder[String]
    var live = listing(storeRoot)

    def runOp(name: String, pass: Int, kind: String, traced: Boolean)
             (sink: DataFrame => Unit): Boolean = {
      val before = live
      val t0 = now()
      var tc = t0
      val err = try {
        val df = catalog(name)(spark, a.data)
        tc = now()
        sink(df)
        None
      } catch { case e: Throwable =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator
          .take(2).mkString(" | ").take(300))
      }
      val t1 = now()
      err.foreach(m => System.err.println(s"[perfbench] $name failed: $m"))
      val after = listing(storeRoot)
      live = after
      val created = after.keySet.diff(before.keySet).toSeq.sorted
      import Json._
      opRecs += obj(
        "name" -> str(name), "pass" -> num(pass), "kind" -> str(kind),
        "traced" -> bool(traced), "t0" -> num(t0), "tc" -> num(tc), "t1" -> num(t1),
        "ok" -> bool(err.isEmpty), "err" -> err.map(str).getOrElse("null"),
        "new_manifests" -> arr(created.filter(p =>
          Option(Paths.get(p).getParent).exists(_.getFileName.toString == "_manifests")).map(str)),
        "files_written" -> num(created.size),
        "bytes_written" -> num(created.map(after).sum),
        "files_deleted" -> num(before.keySet.diff(after.keySet).size),
        "live_bytes" -> num(after.values.sum))
      err.isEmpty
    }

    // Pass 0 runs a seeded shuffle. Warm pass k lists op
    // base((m * i + c) mod n) at position i: `base` is a seeded
    // permutation, `c` a seeded offset, and `m` runs through the
    // multipliers coprime to n, in a seeded order per cycle. An op's
    // predecessor, base((j - m) mod n), then differs between consecutive
    // passes, so no op is timed after the same op every time, as a plain
    // shuffle of a few passes often does: a read that follows a heavy
    // write runs slower than one that follows a read.
    def rng(salt: Long) = new scala.util.Random(a.seed * 1000003L + salt)
    val n = a.ops.size
    val base = rng(-1).shuffle(a.ops).toIndexedSeq
    val mults = (1 until n).filter(m => BigInt(m).gcd(n) == 1)
    def order(pass: Int): Seq[String] =
      if (pass == 0) rng(0).shuffle(a.ops)
      else {
        val cycle = (pass - 1) / mults.size
        val m = rng(-2 - cycle).shuffle(mults).apply((pass - 1) % mults.size)
        val c = rng(pass).nextInt(n)
        (0 until n).map(i => base((m * i + c) % n))
      }

    // 1. cold pass: its outputs are what the oracle check reads
    for (n <- order(0)) runOp(n, 0, "cold", traced = false) { df =>
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve("check").resolve(n).toString)
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // 2. warm passes through the noop sink: WarmupS of warm-up passes,
    //    left out of every statistic (after the cold pass the JIT still
    //    compiles about a core's worth per pass, and a run measured then
    //    reads how far its warm-up got), then measured passes until the
    //    measuring time is used up
    def since(t: Long) = (System.nanoTime() - t) / 1e9
    //    A pass in which every op fails ends the loop: failures are
    //    reported, not timed.
    def warmPass(pass: Int, kind: String, traced: Boolean): Boolean =
      order(pass).map(n => runOp(n, pass, kind, traced) { df =>
        df.write.format("noop").mode("overwrite").save()
      }).exists(identity)
    val warm0 = System.nanoTime()
    var pass = 0
    var working = true
    while (working && (pass == 0 || since(warm0) < WarmupS)) {
      pass += 1
      working = warmPass(pass, "warmup", traced = false)
    }
    val measure0 = System.nanoTime()
    var traced = 0
    var plain = 0
    while (working && (since(measure0) < a.seconds || plain == 0 || (a.trace && traced == 0))) {
      pass += 1
      val tr = a.trace && traced <= plain
      val (gc0, jit0, p0) = (gcMs(), jitMs(), now())
      Trace.enabled = tr
      working = warmPass(pass, "warm", tr)
      val p1 = now()
      if (tr) Trace.settle()
      Trace.enabled = false
      if (tr) traced += 1 else plain += 1
      import Json._
      passRecs += obj("pass" -> num(pass), "traced" -> bool(tr),
        "t0" -> num(p0), "t1" -> num(p1),
        "gc_ms" -> num(gcMs() - gc0), "jit_ms" -> num(jitMs() - jit0))
    }

    // 3. rows-only ops repeat once so their row count can be compared
    for (n <- a.ops.filterNot(oracle.contains))
      runOp(n, pass + 1, "repeat", traced = false) { df =>
        df.coalesce(1).write.mode("overwrite").parquet(out.resolve("repeat").resolve(n).toString)
      }

    import Json._
    val oracleJ = obj(a.ops.flatMap(n => oracle.get(n).map(s => n -> str(s))): _*)
    val doc = obj(
      "cpus" -> str(a.cpus), "seed" -> num(a.seed), "trace" -> bool(a.trace),
      "setup_s" -> num(setupS), "vmhwm_kb" -> num(vmHwmKb()),
      "oracle_sql" -> oracleJ,
      "ops" -> arr(opRecs.result()), "passes" -> arr(passRecs.result()),
      "trace_events" -> (if (a.trace) Trace.json() else "null"))
    Files.writeString(out.resolve("run.json"), doc)
    spark.stop()
  }
}
