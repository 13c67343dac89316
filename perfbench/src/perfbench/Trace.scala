package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters the JVM and Spark expose without a listener. */
object Counters {
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Mean compile time of the recent-compile reservoir, in seconds. The
    * histogram keeps a bounded sample, not a sum, so compile seconds are
    * estimated as count x this mean.
    */
  def codegenMeanS: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getSnapshot.getMean / 1e3

  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** One traced interval. `op` is the id of the enclosing operation span
  * (a run date, a batch commit or a frame); `cg` and `gcMs` are the
  * process-wide codegen compiles and GC milliseconds during the span.
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startMs: Double, endMs: Double, cg: Long, gcMs: Long)

/** Records spans in memory when enabled; a disabled tracer runs the body
  * and records nothing. While a span is open its id is the thread's
  * `spark.jobGroup.id` local property, so every Spark job and SQL execution
  * started inside it carries the id to [[SparkProbe]].
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  // (span id, op id) of the innermost open span; pool threads created
  // inside a span inherit it
  private val current = new InheritableThreadLocal[(Long, Long)] {
    override def initialValue(): (Long, Long) = (0L, 0L)
  }
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String, op: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val (parent, parentOp) = current.get
      val id = ids.incrementAndGet()
      val opId = if (op) id else parentOp
      val group = sc.getLocalProperty("spark.jobGroup.id")
      current.set((id, opId))
      sc.setLocalProperty("spark.jobGroup.id", id.toString)
      val (cg0, gc0, t0) = (Counters.codegenCompiles, Counters.gcMs, nowMs)
      try body
      finally {
        spans.add(Span(id, name, parent, opId, t0, nowMs,
          Counters.codegenCompiles - cg0, Counters.gcMs - gc0))
        sc.setLocalProperty("spark.jobGroup.id", group)
        current.set((parent, parentOp))
      }
    }
}

object Tracer {
  /** The disabled tracer: runs every body, records nothing. */
  val off = new Tracer(false, null)
}

/** Spark runtime observer: a SparkListener for jobs, stages, tasks and SQL
  * executions, and a QueryExecutionListener for planning phases and the
  * rows each Generate (explode) node produced. Jobs and executions carry
  * the `spark.jobGroup.id` the [[Tracer]] set, which names their span.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  final class Job(val id: Int, val group: String, val exec: String,
                  val startMs: Long, val stages: Int) {
    @volatile var endMs: Long = -1
    val tasks, runMs, cpuNs, shuffleB, spillB, outRecords, outBytes = new LongAdder
  }
  final case class Exec(id: Long, group: String)

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()
  val execs = new ConcurrentHashMap[Long, Exec]()
  val planningS = new ConcurrentHashMap[Long, Double]()
  val generateRows = new ConcurrentHashMap[Long, Long]()
  private val accExec = new ConcurrentHashMap[Long, java.lang.Long]()
  private val events = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val job = new Job(e.jobId,
      p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull,
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).orNull,
      e.time, e.stageIds.size)
    jobs.put(e.jobId, job)
    e.stageIds.foreach(s => stageJob.put(s, job))
    events.incrementAndGet()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    events.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    Option(stageJob.get(e.stageId)).filter(_ => m != null).foreach { j =>
      j.tasks.increment()
      j.runMs.add(m.executorRunTime)
      j.cpuNs.add(m.executorCpuTime)
      j.shuffleB.add(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      j.spillB.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      j.outRecords.add(m.outputMetrics.recordsWritten)
      j.outBytes.add(m.outputMetrics.bytesWritten)
    }
    events.incrementAndGet()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, Exec(s.executionId, s.jobGroupId.orNull))
      accumulators(s.sparkPlanInfo).foreach(a => accExec.put(a, s.executionId))
      events.incrementAndGet()
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    recordPlan(qe)
    events.incrementAndGet()
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = {
    recordPlan(qe)
    events.incrementAndGet()
  }

  /** Analysis, optimization and physical planning seconds of one query. */
  private def planningSeconds(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs) / 1e3).sum

  /** The listener hands over a QueryExecution but not its execution id;
    * the two are joined through the accumulator ids of the plan's SQL
    * metrics, which the execution-start event lists.
    */
  private def recordPlan(qe: QueryExecution): Unit = {
    val plan = nodes(qe.executedPlan)
    plan.iterator.flatMap(_.metrics.values.map(_.id)).map(accExec.get)
      .find(_ != null).foreach { exec =>
        planningS.put(exec, planningSeconds(qe))
        generateRows.put(exec, plan.collect { case g: GenerateExec =>
          g.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        }.sum)
      }
  }

  private def accumulators(p: SparkPlanInfo): Seq[Long] =
    p.metrics.map(_.accumulatorId) ++ p.children.flatMap(accumulators)

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Wait until listener delivery has gone quiet (it is asynchronous). */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 3000L * 1000 * 1000
    var last = -1L
    while (System.nanoTime() < deadline && last != events.get()) {
      last = events.get()
      Thread.sleep(150)
    }
  }
}

/** JSON for the records the benchmark writes, through the Jackson Scala
  * module Spark ships.
  */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def value(v: Any): String = mapper.writeValueAsString(v)

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))

  def obj(kv: (String, Any)*): String = value(scala.collection.immutable.ListMap(kv: _*))
}
