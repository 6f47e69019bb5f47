package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a module of the engine. Times are epoch
  * milliseconds with sub-millisecond fractions, on the same clock as the
  * Spark listener events.
  */
final case class Span(id: String, name: String, parent: Option[String], pass: Int,
                      start: Double, var end: Double = Double.NaN) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (end - start) / 1000.0
}

/** Engine counters summed over the tasks, stages, jobs and query
  * executions that one span caused.
  */
final class Counters {
  val v: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def add(k: String, x: Double): Unit = v(k) += x
  def addAll(o: Counters): Unit = o.v.foreach { case (k, x) => v(k) += x }
}

/** Spans plus the listeners that attribute engine counters to them.
  *
  * With tracing off every `span` call is a plain call of its body. With it
  * on, each span sets the Spark job group to its id, so jobs, their stages
  * and tasks carry the id and land on it. Streaming micro-batches run under
  * the stream's own job group; those, and anything else without a known
  * group, are attributed to the innermost span whose interval holds their
  * start time. Query executions are attributed by when their physical
  * planning ended.
  */
final class Tracer(spark: SparkSession) {
  private val base = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = base + (System.nanoTime() - baseNs) / 1e6

  @volatile var enabled = false
  @volatile var pass = 0
  private var nextId = 0L
  val spans = mutable.ArrayBuffer.empty[Span]
  /** Values the workload reports itself (iteration counts, byte ratios). */
  val extras = mutable.Map.empty[(Int, String), Double].withDefaultValue(0.0)
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = stack.get().headOption
      val s = synchronized {
        nextId += 1
        val sp = Span(s"pb-$nextId", name, parent.map(_.id), pass, now())
        spans += sp
        sp
      }
      stack.set(s :: stack.get())
      sc.setJobGroup(s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.end = now()
        stack.set(stack.get().tail)
        parent match {
          case Some(p) => sc.setJobGroup(p.id, p.name, interruptOnCancel = false)
          case None    => sc.clearJobGroup()
        }
      }
    }

  def extra(name: String, x: Double): Unit = synchronized { extras((pass, name)) += x }

  // ---- listener state (written on the listener bus threads) ----
  private val jobs = mutable.Map.empty[Int, Tracer.Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageCounters = mutable.Map.empty[Int, Counters]
  private val executions = mutable.ArrayBuffer.empty[(Long, Counters)]
  private val progress = mutable.ArrayBuffer.empty[Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs(e.jobId) = Tracer.Job(g, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val id = e.stageInfo.stageId
      stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stageCounters.getOrElseUpdate(id, new Counters).add("sched.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = stageCounters.getOrElseUpdate(e.stageId, new Counters)
      c.add("sched.tasks", 1)
      stageSubmit.get(e.stageId).foreach(t =>
        c.add("sched.task_wait_s", math.max(0L, e.taskInfo.launchTime - t) / 1000.0))
      val m = e.taskMetrics
      if (m != null) {
        c.add("exec.run_s", m.executorRunTime / 1000.0)
        c.add("exec.cpu_s", m.executorCpuTime / 1e9)
        c.add("exec.gc_s", m.jvmGCTime / 1000.0)
        c.add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        c.add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        c.add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1000.0)
        c.add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        c.add("scan.bytes", m.inputMetrics.bytesRead.toDouble)
        c.add("scan.records", m.inputMetrics.recordsRead.toDouble)
        c.add("output.bytes", m.outputMetrics.bytesWritten.toDouble)
        if (m.outputMetrics.bytesWritten > 0) c.add("output.files", 1)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = new Counters
      c.add("plan.queries", 1)
      val ph = qe.tracker.phases
      def phase(k: String) = ph.get(k).map(_.durationMs / 1000.0).getOrElse(0.0)
      c.add("plan.analysis_s", phase("analysis"))
      c.add("plan.optimizer_s", phase("optimization"))
      c.add("plan.physical_s", phase("planning"))
      val (ex, reused) = Tracer.exchanges(qe.executedPlan)
      c.add("aqe.exchanges", ex)
      c.add("aqe.exchanges_reused", reused)
      // physical planning runs inside the action, so its end time lies in
      // the span that executed the query (QueryExecution.id is not the SQL
      // execution id, so the job group cannot be looked up from here)
      val t = ph.values.map(_.endTimeMs).maxOption.getOrElse(System.currentTimeMillis())
      Tracer.this.synchronized { executions += t -> c }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        progress += java.time.Instant.parse(e.progress.timestamp).toEpochMilli
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Switch tracing on or off; listeners are only attached while on. */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(queryListener)
      spark.streams.addListener(streamListener)
    } else {
      org.apache.spark.perfbench.Bridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(queryListener)
      spark.streams.removeListener(streamListener)
    }
    enabled = on
  }

  /** Innermost span of `pass` that holds epoch-ms time `t`. */
  private def spanAt(t: Double, inPass: Seq[Span]): Option[Span] =
    inPass.filter(s => s.start <= t && t <= s.end).sortBy(s => -s.start).headOption

  /** Counters per span id, plus the job intervals, after draining the bus. */
  def attribute(): (Map[String, Counters], Seq[(Double, Double)]) = {
    org.apache.spark.perfbench.Bridge.drain(spark.sparkContext)
    synchronized {
      val byId = spans.map(s => s.id -> s).toMap
      val out = mutable.Map.empty[String, Counters]
      def owner(group: Option[String], t: Double): Option[String] =
        group.filter(byId.contains).orElse(spanAt(t, spans.toSeq).map(_.id))
      def put(id: Option[String], c: Counters): Unit =
        id.foreach(i => out.getOrElseUpdate(i, new Counters).addAll(c))
      val jobOwner = jobs.map { case (id, j) => id -> owner(j.group, j.start.toDouble) }
      jobOwner.values.foreach(o => put(o, { val c = new Counters; c.add("sched.jobs", 1); c }))
      stageCounters.foreach { case (stage, c) =>
        put(stageJob.get(stage).flatMap(jobOwner.getOrElse(_, None)), c) }
      executions.foreach { case (t, c) => put(spanAt(t.toDouble, spans.toSeq).map(_.id), c) }
      progress.foreach(t =>
        put(spanAt(t.toDouble, spans.toSeq).map(_.id),
          { val c = new Counters; c.add("stream.batches", 1); c }))
      val intervals = jobs.values.filter(_.end >= 0).map(j => (j.start.toDouble, j.end.toDouble))
      (out.toMap, intervals.toSeq)
    }
  }
}

object Tracer {
  final case class Job(group: Option[String], start: Long, var end: Long = -1L)

  /** (exchanges planned, exchanges reused) in a final adaptive plan. */
  def exchanges(plan: SparkPlan): (Int, Int) = {
    var ex, reused = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => s.plan match {
        case _: ReusedExchangeExec => reused += 1
        case e: Exchange => ex += 1; e.children.foreach(walk)
        case other => walk(other) // a table-cache stage, not an exchange
      }
      case _: ReusedExchangeExec => reused += 1
      case e: Exchange => ex += 1; e.children.foreach(walk)
      case other =>
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (ex, reused)
  }

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    clipped.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else { if (open) total += curB - curA; curA = a; curB = b; open = true }
    }
    if (open) total += curB - curA
    total
  }
}
