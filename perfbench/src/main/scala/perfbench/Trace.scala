package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory event store for traced passes. Every record carries the
  * wall-clock time (epoch ms) it happened at; the report attributes
  * records to ops by time, so late delivery on the listener bus is fine
  * as long as the record arrives before the run ends. Recording is on
  * only while `enabled` is set. */
object Trace {
  @volatile var enabled = false
  /** Bumped on every recorded event; the harness waits for it to settle
    * before it closes a traced pass. */
  val events = new AtomicLong()

  final case class Qe(func: String, phases: Seq[(String, Long, Long)])
  final case class Job(id: Int, start: Long, stages: Seq[Int])
  final case class StageAgg(id: Int, attempt: Int) {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var schedMs = 0L; var inBytes = 0L; var inRows = 0L
    var swBytes = 0L; var swRecords = 0L; var srBytes = 0L; var fetchMs = 0L
    var spillDisk = 0L; var spillMem = 0L
    val readPerTask = scala.collection.mutable.ArrayBuffer.empty[Long]
  }
  final case class Progress(t: Long, triggerMs: Long, addBatchMs: Long,
                            walMs: Long, inputRows: Long, stateRows: Long)

  val qes = new ConcurrentLinkedQueue[Qe]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAgg]()
  val aqe = new ConcurrentLinkedQueue[Long]()
  val progress = new ConcurrentLinkedQueue[Progress]()

  private def tick(): Unit = events.incrementAndGet(): Unit

  /** Spark's scheduler events: jobs, stages (aggregated from task ends),
    * and AQE re-plans. */
  class Scheduler extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      jobs.add(Job(e.jobId, e.time, e.stageIds)); tick()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) {
      jobEnds.put(e.jobId, e.time); tick()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled && e.taskMetrics != null) {
        val m = e.taskMetrics
        val i = e.taskInfo
        val s = stages.computeIfAbsent((e.stageId, e.stageAttemptId),
          k => StageAgg(k._1, k._2))
        s.synchronized {
          s.tasks += 1
          s.runMs += m.executorRunTime
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          val dur = i.finishTime - i.launchTime
          s.schedMs += math.max(0L, dur - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
          s.inBytes += m.inputMetrics.bytesRead
          s.inRows += m.inputMetrics.recordsRead
          s.swBytes += m.shuffleWriteMetrics.bytesWritten
          s.swRecords += m.shuffleWriteMetrics.recordsWritten
          val rb = m.shuffleReadMetrics.totalBytesRead
          s.srBytes += rb
          s.fetchMs += m.shuffleReadMetrics.fetchWaitTime
          s.spillDisk += m.diskBytesSpilled
          s.spillMem += m.memoryBytesSpilled
          s.readPerTask += rb
        }
        tick()
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLAdaptiveExecutionUpdate if enabled =>
        aqe.add(System.currentTimeMillis()); tick()
      case _ =>
    }
  }

  /** Catalyst phases of every QueryExecution that runs an action, in any
    * session of the context (installed through
    * `spark.sql.queryExecutionListeners`, which child sessions inherit). */
  class Planning(conf: SparkConf) extends QueryExecutionListener {
    private def record(func: String, qe: QueryExecution): Unit = if (enabled) {
      val ph = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
      qes.add(Qe(func, ph)); tick()
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
      record(func, qe)
  }

  /** Micro-batch progress of every streaming query (installed through
    * `spark.sql.streaming.streamingQueryListeners`). */
  class Streaming(conf: SparkConf) extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val t = java.time.Instant.parse(p.timestamp).toEpochMilli
        val state = p.stateOperators.map(_.numRowsTotal).sum
        progress.add(Progress(t, d.getOrElse("triggerExecution", 0L),
          d.getOrElse("addBatch", 0L),
          d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L),
          p.numInputRows, state))
        tick()
      }
  }

  /** Blocks until no event has been recorded for 250 ms (at most 3 s), so
    * a traced pass's tail reaches the store before the next pass switches
    * recording off. */
  def settle(): Unit = {
    val quietMs = 250L
    val deadline = System.currentTimeMillis() + 3000L
    var last = events.get()
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
           System.currentTimeMillis() - quietSince < quietMs) {
      Thread.sleep(25)
      val now = events.get()
      if (now != last) { last = now; quietSince = System.currentTimeMillis() }
    }
  }

  def json(): String = {
    import Json._
    val qeJ = arr(qes.asScala.toSeq.map(q => obj(
      "func" -> str(q.func),
      "phases" -> obj(q.phases.map { case (n, s, e) => n -> arr(Seq(num(s), num(e))) }: _*)))
    )
    val jobJ = arr(jobs.asScala.toSeq.map(j => obj(
      "id" -> num(j.id), "start" -> num(j.start),
      "end" -> num(Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.start)),
      "stages" -> arr(j.stages.map(num(_))))))
    val stJ = arr(stages.values.asScala.toSeq.sortBy(s => (s.id, s.attempt)).map(s => obj(
      "id" -> num(s.id), "attempt" -> num(s.attempt), "tasks" -> num(s.tasks),
      "run_ms" -> num(s.runMs), "cpu_ns" -> num(s.cpuNs), "gc_ms" -> num(s.gcMs),
      "sched_ms" -> num(s.schedMs), "in_bytes" -> num(s.inBytes), "in_rows" -> num(s.inRows),
      "sw_bytes" -> num(s.swBytes), "sw_records" -> num(s.swRecords),
      "sr_bytes" -> num(s.srBytes), "fetch_ms" -> num(s.fetchMs),
      "spill_disk" -> num(s.spillDisk), "spill_mem" -> num(s.spillMem),
      "read_per_task" -> arr(s.readPerTask.toSeq.map(num(_))))))
    val prJ = arr(progress.asScala.toSeq.map(p => obj(
      "t" -> num(p.t), "trigger_ms" -> num(p.triggerMs), "add_batch_ms" -> num(p.addBatchMs),
      "wal_ms" -> num(p.walMs), "input_rows" -> num(p.inputRows),
      "state_rows" -> num(p.stateRows))))
    obj("qes" -> qeJ, "jobs" -> jobJ, "stages" -> stJ,
      "aqe" -> arr(aqe.asScala.toSeq.map(num(_))), "progress" -> prJ)
  }
}
