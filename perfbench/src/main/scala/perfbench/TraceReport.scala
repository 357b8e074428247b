package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Per-layer figures of a traced run, from its spans and Spark counters.
  * `perLayer` holds the metrics every workload has (the traced run's
  * result line); `write` adds the span file and a report with every
  * layer's self time and the workload-specific figures. */
final case class TraceReport(tel: Telemetry, wl: Workload, ops: Seq[Op], setupParts: Seq[Map[String, Double]],
                             gcMs: Long, figures: Map[String, Double], tracedMakespanS: Double) {
  import TraceReport._

  private val spans = tel.allSpans
  private val timedIds = ops.map(_.id).toSet
  private val prim = ops.filter(_.kind == wl.primary)
  private val primIds = prim.map(_.id).toSet
  private val self = Telemetry.selfNs(spans)

  private def spanMs(ids: Set[String], p: String => Boolean): Seq[Double] =
    spans.filter(s => ids(s.op) && p(s.name)).map(_.durNs / 1e6)

  /** Mean over the primary operations of the time a span kind takes in each. */
  private def perPrimary(p: String => Boolean): Double =
    spanMs(primIds, p).sum / math.max(1, prim.size)

  private def execMean(f: ExecCounts => Long, scale: Double = 1.0): Double =
    prim.map(o => f(tel.exec(o.id)).toDouble * scale).sum / math.max(1, prim.size)

  private def setupMedian(k: String): Double = Workload.median(setupParts.flatMap(_.get(k)))

  val perLayer: Seq[(String, Double, String)] = Seq(
    ("api.call_ms", perPrimary(wl.apiSpan), "ms"),
    ("exec.collect_ms", perPrimary(_ == "exec.collect"), "ms"),
    ("exec.jobs", execMean(_.jobs.get), "count"),
    ("exec.stages", execMean(_.stages.get), "count"),
    ("exec.tasks", execMean(_.tasks.get), "count"),
    ("exec.task_cpu_ms", execMean(_.cpuNs.get, 1e-6), "ms"),
    ("exec.task_run_ms", execMean(_.runMs.get), "ms"),
    ("exec.sched_delay_ms", execMean(_.schedMs.get), "ms"),
    ("exec.shuffle_bytes", execMean(_.shuffleBytes.get), "B"),
    ("exec.rows_scanned_per_row_out",
      prim.map(_.scanned.toDouble).sum / math.max(1.0, prim.map(_.rowsOut.toDouble).sum), "ratio"),
    ("exec.plan_nodes", Stats.mean(prim.map(_.planNodes.toDouble)), "count"),
    ("jvm.gc_ms", gcMs.toDouble / math.max(1, ops.size), "ms"),
    ("input.load_s", setupMedian("input.load_s"), "s"),
    ("traced.makespan_s", tracedMakespanS, "s"))

  /** Every layer's self time per timed operation, plus the named figures. */
  def details: Map[String, Double] = {
    val n = math.max(1, ops.size)
    val selfByLayer = spans.filter(s => timedIds(s.op)).groupBy(s => Telemetry.layerOf(s.name))
      .map { case (layer, ss) => s"self_ms.$layer" -> ss.map(s => self(s.id)).sum / 1e6 / n }
    val reads = ops.filter(_.kind == "read").map(_.id).toSet
    def readMean(name: String): Double = Stats.mean(spanMs(reads, _ == name))
    val named = Map(
      "cypher.parse_ms" -> Stats.mean(spanMs(timedIds, _ == "cypher.parse")),
      "plans.plan_ms" -> readMean("plans.plan"),
      "GraphDB.build_ms" -> readMean("GraphDB.build"),
      "operators.compile_ms" -> (readMean("GraphDB.build") - readMean("cypher.parse") - readMean("plans.plan")),
      "exec.spill_bytes" -> execMean(_.spillBytes.get),
      "graph.execute_ms" -> Stats.mean(spanMs(timedIds, _ == "graph.execute")),
      "graph.visible_ms" -> Stats.mean(spanMs(timedIds, _ == "graph.visible")),
      "graph.stats_s" -> setupMedian("graph.stats_s"),
      "sources.load_s" -> setupMedian("sources.load_s"),
      "samples.primary_ops" -> prim.size.toDouble,
      "samples.ops" -> ops.size.toDouble)
    (selfByLayer ++ named ++ figures).filterNot(_._2.isNaN)
  }

  def write(dir: Path, untracedMakespanS: Option[Double]): Unit = {
    Files.createDirectories(dir)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> Json.str(s.op), "name" -> Json.str(s.name),
      "start_ms" -> f"${(s.startNs - t0) / 1e6}%.3f", "end_ms" -> f"${(s.endNs - t0) / 1e6}%.3f",
      "self_ms" -> f"${self(s.id) / 1e6}%.3f")))
    Files.write(dir.resolve("spans.jsonl"), lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val overhead = untracedMakespanS.map(u => Map("tracing_overhead.makespan_s" -> (tracedMakespanS - u),
      "tracing_overhead.makespan_ratio" -> (tracedMakespanS / u - 1))).getOrElse(Map.empty)
    val all = details ++ perLayer.map(m => m._1 -> m._2) ++ overhead
    Files.write(dir.resolve(LayersFile), Json.numbers(all).getBytes(StandardCharsets.UTF_8))
    println(s"# layers ${Json.numbers(all)}")
  }
}

object TraceReport {
  val LayersFile = "layers.json"
}
