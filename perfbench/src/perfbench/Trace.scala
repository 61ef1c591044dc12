package perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Public-API listeners for the traced run. Every job carries the job group
  * the benchmark set on its own thread (a span key such as `p3|q_x|build`),
  * or a streaming run id that the benchmark maps to its cycle span. Events
  * arrive on the listener bus asynchronously, so the listener only records
  * raw facts; `Trace.window` aggregates them once the bus has caught up. */
final class Trace extends SparkListener {
  final class Job(val group: String, val start: Long) {
    var end: Long = -1L
    var stages = 0
    var tasks = 0L
    var runMs, cpuNs, gcMs, delayMs, fetchWaitMs = 0L
    var shufWriteB, shufReadB, spillB, inputB = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var taskStarts, taskEnds = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val j = new Job(group, e.time)
    j.stages = e.stageIds.size
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized { taskStarts += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskEnds += 1
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        j.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        j.shufReadB += m.shuffleReadMetrics.totalBytesRead
        j.spillB += m.diskBytesSpilled
        j.inputB += m.inputMetrics.bytesRead
        val info = e.taskInfo
        // Spark UI's definition: task duration minus everything the
        // executor accounts for itself
        j.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      }
    }
  }

  /** Planning phases of every SQL action (build-time heads and counts as
    * well as the final write), keyed by the time planning started. */
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]
  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def note(qe: QueryExecution): Unit = Trace.this.synchronized {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = note(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = note(qe)
  }

  /** Micro-batch progress: (time, query id, addBatch, queryPlanning,
    * walCommit, state rows, state memory bytes). */
  private val progress = mutable.ArrayBuffer.empty[(Long, String, Long, Long, Long, Long, Long)]
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val ops = p.stateOperators.toSeq
        progress += ((System.currentTimeMillis(), p.id.toString, d.getOrElse("addBatch", 0L),
          d.getOrElse("queryPlanning", 0L), d.getOrElse("walCommit", 0L),
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
      }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every started job and task has reported its end. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = synchronized { taskEnds == taskStarts && jobs.values.forall(_.end >= 0) }
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(50) // the SQL listener bus trails the scheduler bus
  }

  /** Aggregate of all events whose job started (or plan, or progress) in
    * [t0, t1]. `groupOf` maps a job group to the span it belongs to. */
  def window(t0: Long, t1: Long, groupOf: String => String): Trace.Window = synchronized {
    val w = new Trace.Window
    jobs.values.filter(j => j.start >= t0 && j.start <= t1).foreach { j =>
      val span = groupOf(j.group)
      w.jobsBySpan(span) = w.jobsBySpan.getOrElse(span, 0) + 1
      w.intervals(span) = w.intervals.getOrElse(span, Nil) :+ ((j.start, math.max(j.end, j.start)))
      w.jobs += 1; w.stages += j.stages; w.tasks += j.tasks
      w.runMs += j.runMs; w.cpuNs += j.cpuNs; w.gcMs += j.gcMs; w.delayMs += j.delayMs
      w.fetchWaitMs += j.fetchWaitMs; w.shufWriteB += j.shufWriteB; w.shufReadB += j.shufReadB
      w.spillB += j.spillB; w.inputB += j.inputB
    }
    plans.filter { case (s, _) => s >= t0 && s <= t1 }.foreach { case (_, ms) =>
      w.executions += 1; w.planMs += ms
    }
    val inWin = progress.filter(p => p._1 >= t0 && p._1 <= t1 + 2000)
    inWin.foreach { p => w.addBatchMs += p._3; w.planningMs += p._4; w.walCommitMs += p._5 }
    // state at the end of the window: each stream's last progress, summed
    inWin.groupBy(_._2).values.map(_.last).foreach { p => w.stateRows += p._6; w.stateMemB += p._7 }
    w
  }
}

object Trace {
  final class Window {
    val jobsBySpan = mutable.HashMap.empty[String, Int]
    val intervals = mutable.HashMap.empty[String, List[(Long, Long)]]
    var jobs, stages = 0
    var tasks, runMs, cpuNs, gcMs, delayMs, fetchWaitMs = 0L
    var shufWriteB, shufReadB, spillB, inputB = 0L
    var executions = 0
    var planMs = 0L
    var addBatchMs, planningMs, walCommitMs, stateRows, stateMemB = 0L

    /** Milliseconds of [s, e] covered by no job of `span`. */
    def idleMs(span: String, s: Long, e: Long): Long = {
      val iv = intervals.getOrElse(span, Nil).map { case (a, b) => (math.max(a, s), math.min(b, e)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var reach = s
      iv.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      (e - s) - covered
    }
  }

  /** Process-wide counters read at span boundaries. */
  final case class Jvm(gcMs: Long, cpuNs: Long, compiles: Long, compileMs: Double)

  private def compileSnapshot: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    // The reservoir holds every sample until it fills; past that the
    // total is estimated as count × the reservoir mean.
    val snap = h.getSnapshot
    val n = h.getCount
    val sum = if (n <= snap.size) snap.getValues.map(_.toDouble).sum else n * snap.getMean
    (n, sum)
  }

  def jvm(): Jvm = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val (n, ms) = compileSnapshot
    Jvm(gcs.map(_.getCollectionTime).sum, os.getProcessCpuTime, n, ms)
  }

  /** Seconds `threads` threads take to run a fixed integer loop together
    * (median of 5 tries, so a burst shorter than about 0.2 s is ignored): a
    * probe of the CPU the host gives this run right now, independent of the
    * program. */
  def calibrate(threads: Int): Double = {
    def once(): Double = {
      val ts = (1 to threads).map { i =>
        new Thread(() => {
          var x = 0x9E3779B97F4A7C15L * i
          var n = 0
          while (n < 40000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; n += 1 }
          if (x == 42L) println(x)
        })
      }
      val t0 = System.nanoTime()
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    (1 to 5).map(_ => once()).sorted.apply(2)
  }

  /** Heap in use after full collections have stopped freeing memory. Each
    * collection lets Spark's ContextCleaner drop the shuffles, broadcasts
    * and checkpoint blocks of frames that became unreachable, which frees
    * more on the next one. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used(): Long = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed }
    var prev = used()
    var cur = used()
    var n = 2
    while (n < 10 && math.abs(prev - cur) > (1L << 20)) { prev = cur; cur = used(); n += 1 }
    cur / 1048576.0
  }
}
