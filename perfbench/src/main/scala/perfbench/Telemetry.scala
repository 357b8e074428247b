package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** One timed call at a layer boundary. `op` is the operation the call
  * belongs to; `parent` is the enclosing span on the same thread (0 = root). */
final case class Span(id: Long, parent: Long, op: String, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one operation: every job submitted while the
  * operation's id was the thread's `perfbench.op` local property. */
final class ExecCounts {
  val jobs, stages, tasks, cpuNs, runMs, schedMs, shuffleBytes, spillBytes = new AtomicLong
}

/** Span recorder plus a SparkListener that attributes jobs, stages and task
  * metrics to operations. Disabled (the untraced runs), every call is a
  * plain pass-through and no listener is registered. Spans stay in memory
  * until the run ends. */
final class Telemetry(spark: SparkSession, val enabled: Boolean) {
  import Telemetry._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val perOp = new ConcurrentHashMap[String, ExecCounts]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()

  private def counts(op: String): ExecCounts = perOp.computeIfAbsent(op, _ => new ExecCounts)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).orNull
      if (op != null) {
        counts(op).jobs.incrementAndGet()
        e.stageIds.foreach(stageOp.put(_, op))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val id = e.stageInfo.stageId
      stageSubmitMs.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
      Option(stageOp.get(id)).foreach(counts(_).stages.incrementAndGet())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stageOp.get(e.stageId)).foreach { op =>
      val c = counts(op)
      c.tasks.incrementAndGet()
      Option(stageSubmitMs.get(e.stageId)).foreach(s => c.schedMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s)))
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.runMs.addAndGet(m.executorRunTime)
        c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(Listener)

  /** Run `f` as operation `op`: Spark jobs it submits are attributed to it. */
  def asOp[A](op: String)(f: => A): A = {
    if (!enabled) return f
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, op)
    try f finally sc.setLocalProperty(OpKey, prev)
  }

  /** Record `f` as a span named `name` under the current thread's open span. */
  def span[A](op: String, name: String)(f: => A): A = {
    if (!enabled) return f
    val id = nextId.incrementAndGet()
    val outer = stack.get()
    stack.set(id :: outer)
    val t0 = System.nanoTime()
    try f finally {
      spans.add(Span(id, outer.headOption.getOrElse(0L), op, name, t0, System.nanoTime()))
      stack.set(outer)
    }
  }

  /** Block until every queued listener event has been delivered. */
  def drain(): Unit = if (enabled) org.apache.spark.graftshim.ListenerShim.drain(spark.sparkContext)

  def exec(op: String): ExecCounts = Option(perOp.get(op)).getOrElse(new ExecCounts)

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

object Telemetry {
  val OpKey = "perfbench.op"

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Memory plus disk held by persisted blocks, in MB (10^6 bytes), once the
    * blocks already released are gone: unpersists run asynchronously and
    * unreferenced checkpoints are removed after a GC, so the figure is read
    * after a GC when two readings 250 ms apart agree (at most 5 s). */
  def cacheMb(spark: SparkSession): Double = {
    def held(): Long = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    System.gc()
    val deadline = System.nanoTime() + 5000000000L
    var prev = -1L
    var now = held()
    while (now != prev && System.nanoTime() < deadline) {
      Thread.sleep(250)
      prev = now
      now = held()
    }
    now / 1e6
  }

  /** Node count of the optimized logical plan. */
  def planNodes(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.optimizedPlan.foreach(_ => n += 1)
    n
  }

  /** Rows the executed plan's leaf scans produced (their `numOutputRows`
    * SQL metric), read after the plan ran. Adaptive plans are walked
    * through their final stages. */
  def scannedRows(df: DataFrame): Long = {
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case leaf if leaf.children.isEmpty => leaf.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      case other => other.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Self time of each span: its duration minus the union of its
    * children's intervals. */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> math.max(0L, s.durNs - covered)
    }.toMap
  }

  /** Span-name prefix → the repository module it times. */
  def layerOf(name: String): String = name.takeWhile(_ != '.') match {
    case "GraphDB" => "operators"
    case "op" => "bench"
    case other => other
  }
}
