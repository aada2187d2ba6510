package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Times are epoch microseconds so driver-side
  * spans and listener events (epoch millis) share one clock. */
final case class Span(id: Int, name: String, layer: String, start: Long,
                      end: Long, parent: Int, op: Long) {
  def dur: Long = end - start
}

object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

/** Every number the benchmark reads from outside the engine: a Spark
  * listener (jobs, stages, tasks, job wait), a query-execution listener
  * (Catalyst phase times from `QueryPlanningTracker`), a streaming
  * listener (micro-batch phases), codegen counters and Hadoop
  * file-system statistics. Counters always run; spans are recorded
  * only when tracing. */
final class Probe(spark: SparkSession, @volatile var tracing: Boolean) {
  val OpProp = "perfbench.op"

  // ---- counters (cumulative; callers take deltas with snapshot()) ----
  private val c = new ConcurrentHashMap[String, AtomicLong]()
  def add(k: String, v: Long): Unit = {
    c.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v); ()
  }

  // ---- spans ----
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val asyncSpans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1
  private val ids = new java.util.concurrent.atomic.AtomicInteger(1 << 24)
  @volatile var op: Long = -1L

  def beginOp(id: Long): Unit = {
    op = id
    spark.sparkContext.setLocalProperty(OpProp, id.toString)
  }

  def span[A](layer: String, name: String)(body: => A): A =
    if (!tracing) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val s = Clock.nowUs
      try body
      finally {
        stack.pop()
        spans += Span(id, name, layer, s, Clock.nowUs, parent, op)
      }
    }

  private def async(name: String, layer: String, s: Long, e: Long, op: Long): Unit =
    if (tracing) { asyncSpans.add(Span(ids.incrementAndGet(), name, layer, s, e, -1, op)); () }

  def allSpans: Seq[Span] = spans.toSeq ++ asyncSpans.asScala.toSeq

  // ---- Spark scheduler listener ----
  private final case class Job(start: Long, op: Long, busy: mutable.ArrayBuffer[(Long, Long)])
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  private val sched = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      add("exec.jobs", 1)
      j.stageIds.foreach(s => stageJob.put(s, j.jobId))
      val op = Option(j.properties).flatMap(p => Option(p.getProperty(OpProp)))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(j.jobId, Job(j.time, op, mutable.ArrayBuffer.empty))
      ()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = add("exec.stages", 1)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      val m = t.taskMetrics
      if (m != null) {
        add("exec.task_ms", m.executorRunTime)
        add("exec.cpu_ns", m.executorCpuTime)
        add("exec.gc_ms", m.jvmGCTime)
        add("exec.shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        add("exec.shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        add("exec.input_b", m.inputMetrics.bytesRead)
      }
      val j = jobs.get(stageJob.getOrDefault(t.stageId, -1))
      if (j != null && t.taskInfo != null) j.busy.synchronized {
        j.busy += ((t.taskInfo.launchTime, t.taskInfo.finishTime)); ()
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.remove(e.jobId)
      if (j != null) {
        val wall = math.max(0L, e.time - j.start)
        val busy = j.busy.synchronized(Probe.union(j.busy.toSeq, j.start, e.time))
        add("exec.job_wall_ms", wall)
        add("exec.job_wait_ms", wall - busy)
        async(s"job ${e.jobId}", "exec", j.start * 1000, e.time * 1000, j.op)
      }
    }
  }

  // ---- Catalyst phases of every executed query ----
  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      add("plan.queries", 1)
      qe.tracker.phases.foreach { case (phase, s) =>
        val k = phase match {
          case "analysis" => "plan.analysis_ms"
          case "optimization" => "plan.optimize_ms"
          case "planning" => "plan.physical_ms"
          case other => s"plan.$other"
        }
        add(k, s.durationMs)
        async(phase, "plan", s.startTimeMs * 1000, s.endTimeMs * 1000, op)
      }
    }
  }

  // ---- micro-batch phases ----
  private val sql = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala
      if (d.contains("addBatch")) {
        add("stream.batches", 1)
        d.foreach { case (k, v) => add(s"stream.phase.$k", v.longValue) }
      }
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(qel)
    spark.streams.addListener(sql)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(): Unit = {
    // streaming progress events ride the same bus
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
  }

  /** All counters, plus codegen and file-system totals, as of now. */
  def snapshot(): Map[String, Long] = {
    val base = c.asScala.map { case (k, v) => k -> v.get }.toMap
    val fs = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    base ++ Map(
      "plan.codegen_compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount,
      "plan.codegen_ns" -> org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime,
      "fs.read_ops" -> CountingFs.reads.get,
      "fs.list_ops" -> CountingFs.lists.get,
      "fs.write_ops" -> CountingFs.writes.get,
      "fs.bytes_written" -> fs.map(_.getBytesWritten).sum,
      "fs.bytes_read" -> fs.map(_.getBytesRead).sum)
  }
}

object Probe {
  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0L) - a.getOrElse(k, 0L))).toMap

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cs = Long.MinValue
    var ce = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
        else ce = math.max(ce, e)
      }
    if (ce > cs) total += ce - cs
    total
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval covered by its children. Listener spans (jobs, planning
    * phases) have no recorded parent; they attach to the innermost
    * driver span of the same op that contains their start. */
  def selfTimeByLayer(all: Seq[Span]): Map[String, Long] = {
    val driver = all.filter(_.parent >= 0)
    val byOp = driver.groupBy(_.op)
    val attached = all.filter(_.parent < 0).map { s =>
      val host = byOp.getOrElse(s.op, Nil)
        .filter(d => d.start <= s.start && s.start <= d.end)
        .sortBy(d => d.end - d.start).headOption
      s.copy(parent = host.map(_.id).getOrElse(0),
        end = host.map(h => math.min(s.end, h.end)).getOrElse(s.end))
    }
    val spans = driver ++ attached
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cov = union(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end)
      s.layer -> math.max(0L, s.dur - cov)
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }
  }

  def writeSpans(path: java.nio.file.Path, spans: Seq[Span]): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":"${s.layer}",""" +
        s""""start_us":${s.start},"end_us":${s.end},"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}
