package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLAdaptiveSQLMetricUpdates,
  SparkListenerSQLExecutionStart}

/** One timed call into a layer. Times are epoch milliseconds with
  * sub-millisecond precision, the clock Spark's listener events use.
  */
final case class Span(id: Long, name: String, parent: Long, req: Long, start: Double, end: Double)

/** Spark work summed over the tasks, stages and jobs attributed to a span. */
final class Counts {
  var jobs, stages, tasks, outputFiles = 0L
  var runMs, cpuNs, gcMs, inputB, shReadB, shWriteB, spillB, outputB = 0L
  var skew = 0.0 // max over stages of (longest task / median task)

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "executor_run_s" -> runMs / 1e3, "executor_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "input_mb" -> inputB / 1e6, "shuffle_read_mb" -> shReadB / 1e6,
    "shuffle_write_mb" -> shWriteB / 1e6, "spill_mb" -> spillB / 1e6,
    "output_mb" -> outputB / 1e6, "output_files" -> outputFiles, "task_skew" -> skew)
}

/** Records spans around the benchmark's own calls into the engine and, via
  * a SparkListener it registers, the Spark work each span caused.
  *
  * With `enabled = false` every method is a pass-through: no spans, no
  * listener, no local properties, so an untraced run measures the engine
  * alone.
  * Jobs are attributed to the innermost span open on the thread that
  * submitted them (a local property Spark copies into job properties).
  * Work submitted from threads the benchmark does not own (HTTP handler
  * threads) lands on the innermost open [[phase]] span, else on span 0.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val reqId = ThreadLocal.withInitial[Long](() => 0L)
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  private val Prop = "graftbench.span"

  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val listener = new CountingListener(Prop)
  if (enabled) sc.addSparkListener(listener)

  /** Run `body` as request `req` on a client thread: the spans it opens
    * carry `req` and nest under `parents` (the opening thread's [[open]]).
    */
  def request[A](req: Long, parents: List[Long])(body: => A): A = {
    reqId.set(req); stack.set(parents)
    try body finally { reqId.set(0L); stack.set(Nil) }
  }

  /** Ids of the spans open on this thread, innermost first. */
  def open: List[Long] = stack.get()

  /** A span that also owns the Spark work of threads the benchmark does
    * not control, such as the HTTP server's handler pool.
    */
  def phase[A](name: String)(body: => A): A = span(name) {
    val prev = listener.fallback
    if (enabled) listener.fallback = stack.get().head
    try body finally listener.fallback = prev
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      stack.set(id :: outer)
      sc.setLocalProperty(Prop, id.toString)
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, name, outer.headOption.getOrElse(0L), reqId.get(), t0, nowMs))
        stack.set(outer)
        sc.setLocalProperty(Prop, outer.headOption.map(_.toString).orNull)
      }
    }

  /** Detach the listener after every queued event has reached it. */
  def finish(): Unit = if (enabled) {
    org.apache.spark.GraftbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  def spanRecords: Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id).map { s =>
    Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "req" -> s.req,
      "start_ms" -> s.start, "end_ms" -> s.end,
      "spark" -> listener.countsFor(s.id).toMap)
  }

  def jobRecords: Seq[Map[String, Any]] = listener.jobIntervals
}

/** Aggregates task metrics per span id; also keeps job intervals so the
  * time a span spends outside any Spark job can be computed afterwards.
  */
final class CountingListener(prop: String) extends SparkListener {
  private val counts = new ConcurrentHashMap[Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  private val taskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val fileAccums = new ConcurrentHashMap[Long, Long]() // accumulator id -> execution

  @volatile var fallback = 0L

  def countsFor(span: Long): Counts = counts.computeIfAbsent(span, _ => new Counts)

  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(prop))).map(_.toLong).getOrElse(fallback)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    jobSpan.put(e.jobId, s); jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageSpan.put(_, s))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execSpan.put(x.toLong, s))
    val c = countsFor(s); c.synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.add(Map("id" -> e.jobId, "span" -> jobSpan.getOrDefault(e.jobId, 0L),
      "start_ms" -> jobStart.getOrDefault(e.jobId, e.time), "end_ms" -> e.time))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = countsFor(stageSpan.getOrDefault(e.stageId, 0L))
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
        c.inputB += m.inputMetrics.bytesRead
        c.shReadB += m.shuffleReadMetrics.totalBytesRead
        c.shWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputB += m.outputMetrics.bytesWritten
      }
      val buf = taskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long])
      buf.synchronized { buf += m.executorRunTime }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val c = countsFor(stageSpan.getOrDefault(id, 0L))
    val ts = Option(taskMs.remove(id)).map(b => b.synchronized(b.sorted.toIndexedSeq))
      .getOrElse(IndexedSeq.empty)
    c.synchronized {
      c.stages += 1
      if (ts.size >= 2) c.skew = math.max(c.skew, ts.last.toDouble / math.max(ts(ts.size / 2), 1L))
    }
  }

  /** Written-file counts are SQL metrics Spark posts at commit. Their
    * accumulator ids come from the plan, which adaptive execution can
    * replace after the execution starts.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => watchFiles(s.executionId, s.sparkPlanInfo)
    case s: SparkListenerSQLAdaptiveExecutionUpdate => watchFiles(s.executionId, s.sparkPlanInfo)
    case s: SparkListenerSQLAdaptiveSQLMetricUpdates =>
      s.sqlPlanMetrics.filter(_.name == WrittenFiles)
        .foreach(m => fileAccums.put(m.accumulatorId, s.executionId))
    case u: SparkListenerDriverAccumUpdates =>
      u.accumUpdates.foreach { case (acc, v) =>
        if (fileAccums.containsKey(acc)) {
          val c = countsFor(execSpan.getOrDefault(u.executionId, 0L))
          c.synchronized { c.outputFiles += v }
        }
      }
    case _ =>
  }

  private val WrittenFiles = "number of written files"

  private def watchFiles(executionId: Long, p: SparkPlanInfo): Unit = {
    p.metrics.filter(_.name == WrittenFiles).foreach(m => fileAccums.put(m.accumulatorId, executionId))
    p.children.foreach(watchFiles(executionId, _))
  }

  def jobIntervals: Seq[Map[String, Any]] = jobs.asScala.toSeq
}
