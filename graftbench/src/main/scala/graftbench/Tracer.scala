package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds; `parent` is the id
  * of the span that caused it (-1 for an op's root span). */
final case class Span(id: Long, parent: Long, name: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = end - start
}

/** Milliseconds since the epoch with sub-millisecond resolution, on the same
  * clock Spark stamps its listener events with. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** Records spans from outside graft, through Spark's public listener APIs:
  * Spark jobs and tasks (SparkListener), Catalyst phases of every executed
  * query (QueryExecutionListener reading `QueryExecution.tracker`) and
  * streaming micro-batches (StreamingQueryListener). Spans stay in memory
  * until the run ends. Jobs link to their op by the op's job group; query
  * phases, micro-batches and jobs run under another group (a streaming
  * query's own) link by time, which is exact for the benchmark's single
  * client thread. */
final class Tracer(spark: SparkSession) {
  private var nextId = 0L
  def newId(): Long = synchronized { nextId += 1; nextId }

  val spans = new ConcurrentLinkedQueue[Span]()

  /** Per running Spark job: (op id from the job group, start ms, stages). */
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Double, Int)]()
  private val jobs = new ConcurrentLinkedQueue[Tracer.Job]()
  /** Task metrics summed per Spark job id. */
  private val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, Tracer.TaskSums]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  /** Catalyst phase intervals: (phase, start ms, end ms). */
  private val phases = new ConcurrentLinkedQueue[(String, Double, Double)]()
  /** Executed queries: (first phase start ms, graft_kv scans in the plan). */
  private val queries = new ConcurrentLinkedQueue[(Double, Int)]()
  /** Streaming progress: (end ms, durationMs map, state commit ms,
    * graft_kv sources read). */
  val batches = new ConcurrentLinkedQueue[(Double, Map[String, Double], Double, Int)]()

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix))
      .map(_.stripPrefix(Tracer.GroupPrefix).toLong).getOrElse(-1L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobStart.put(e.jobId, (opOf(e.properties), e.time.toDouble, e.stageIds.size))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (op, t0, n) =>
        jobs.add(Tracer.Job(e.jobId, op, t0, e.time.toDouble, n))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val job = stageJob.getOrDefault(e.stageId, -1)
      if (m == null) return
      val s = jobTasks.computeIfAbsent(job, _ => Tracer.TaskSums())
      s.synchronized {
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuMs += m.executorCpuTime / 1e6
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    // parsing is read off the op's own DataFrame (see Main.runOp): the
    // executed QueryExecution of an action never parsed anything
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.filter(_._1 != "parsing")
      ph.foreach { case (phase, s) =>
        phases.add((phase, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
      }
      if (ph.nonEmpty)
        queries.add((ph.values.map(_.startTimeMs).min.toDouble, Tracer.kvScans(qe)))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble +
        p.batchDuration
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      val state = p.stateOperators.map(_.commitTimeMs.toDouble).sum
      // a micro-batch runs in the stream's own session, which the
      // QueryExecutionListener does not hear, so its kv reads count here
      val kv = p.sources.count(_.description.contains("GraftKv"))
      batches.add((end, d, state, kv))
    }
  }

  private var on = false
  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    on = true
  }
  def stop(): Unit = if (on) {
    // the listener buses deliver asynchronously and expose no drain call
    Thread.sleep(1000)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    on = false
  }

  /** Runs `body` as span `name` under `parent`; returns its result. */
  def span[T](parent: Long, name: String)(body: => T): T = {
    val id = newId()
    val t0 = Clock.nowMs
    try body finally spans.add(Span(id, parent, name, t0, Clock.nowMs))
  }

  /** Job, phase and streaming spans, each parented to its op's root span,
    * and task metrics and graft_kv scans per op; called once the loop has
    * ended. */
  def link(roots: Seq[Span]): Tracer.Linked = {
    val sorted = roots.sortBy(_.start).toIndexedSeq
    def rootAt(t: Double): Long = {
      var lo = 0
      var hi = sorted.size - 1
      var found = -1L
      while (lo <= hi) {
        val mid = (lo + hi) / 2
        if (sorted(mid).start <= t) { found = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (found >= 0 && t <= sorted(found.toInt).end) sorted(found.toInt).id else -1L
    }
    val out = mutable.ArrayBuffer[Span]()
    val tasks = mutable.HashMap[Long, Tracer.TaskSums]()
    jobs.asScala.foreach { j =>
      val op = if (j.op >= 0) j.op else rootAt(j.start)
      out += Span(newId(), op, "spark.job", j.start, j.end, Map("stages" -> j.stages))
      Option(jobTasks.get(j.id)).foreach(t => tasks.getOrElseUpdate(op, Tracer.TaskSums()) += t)
    }
    phases.asScala.foreach { case (ph, s, e) =>
      out += Span(newId(), rootAt(s), s"plans.$ph", s, e)
    }
    batches.asScala.foreach { case (end, d, state, _) =>
      val dur = d.getOrElse("triggerExecution", 0.0)
      out += Span(newId(), rootAt(end), "streaming.batch", end - dur, end,
        d + ("stateCommit" -> state))
    }
    val scans = (queries.asScala.toSeq ++ batches.asScala.map(b => (b._1, b._4)))
      .groupMapReduce(q => rootAt(q._1))(_._2)(_ + _)
    Tracer.Linked(out.toSeq, tasks.toMap, scans)
  }
}

object Tracer {
  val GroupPrefix = "graftbench-op-"
  final case class Job(id: Int, op: Long, start: Double, end: Double, stages: Int)
  /** Task metrics, summed. */
  final case class TaskSums(var tasks: Long = 0, var runMs: Double = 0,
      var cpuMs: Double = 0, var gcMs: Double = 0, var shuffleRead: Long = 0,
      var shuffleWrite: Long = 0, var fetchWaitMs: Double = 0,
      var spill: Long = 0, var inputRecords: Long = 0) {
    def +=(o: TaskSums): Unit = {
      tasks += o.tasks; runMs += o.runMs; cpuMs += o.cpuMs; gcMs += o.gcMs
      shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
      fetchWaitMs += o.fetchWaitMs; spill += o.spill; inputRecords += o.inputRecords
    }
  }
  /** What [[Tracer.link]] attributes to ops, keyed by op id. */
  final case class Linked(spans: Seq[Span], tasks: Map[Long, TaskSums], kvScans: Map[Long, Int])

  private object Plans extends AdaptiveSparkPlanHelper
  /** graft_kv scans, batch or streaming, in a query's physical plan,
    * subqueries included. */
  def kvScans(qe: QueryExecution): Int =
    Plans.collectWithSubqueries(qe.executedPlan) {
      case b: DataSourceV2ScanExecBase
          if b.scan.getClass.getName.startsWith("graft.sources.GraftKv") => b
    }.size
}
