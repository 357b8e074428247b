package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def metrics(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (k, v, u) => k -> obj(Seq("value" -> num(v), "unit" -> str(u))) })

  def numbers(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}

/** Benchmark process: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * }}}
  * Prints informational `#` lines and, last, one JSON result line. */
object Main {
  /** Set-up repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.get("trace").contains("1")
    val out = Paths.get(a("out")).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.setCheckpointDir(out.resolve("checkpoints").toString)
    val sessionS = (System.nanoTime() - t0) / 1e9

    try {
      val tel = new Telemetry(spark, trace)
      val dataDir = out.resolve("data").resolve(TpchData.Version).toString
      val wl: Workload = workload match {
        case "read_write" =>
          val g0 = System.nanoTime()
          TpchData.ensure(spark, dataDir)
          println(f"# data ready in ${(System.nanoTime() - g0) / 1e9}%.1f s")
          new ReadWrite(spark, dataDir, tel, seed)
        case "graph_algo" => new GraphAlgo(spark, tel, seed, out.resolve("state"))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      println(f"# spark session $sessionS%.2f s, local[$cpus]")

      val reps = (1 to SetupReps).map { r =>
        val s0 = System.nanoTime()
        val parts = wl.setup()
        val s = (System.nanoTime() - s0) / 1e9
        println(f"# setup $r: $s%.2f s ${parts.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")}")
        (s, parts)
      }
      val w0 = System.nanoTime()
      wl.warmup()
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = Stats.quantile(reps.map(_._1), 0.5) + warmS

      val gc0 = Telemetry.gcMs()
      val start = System.nanoTime()
      val ops = wl.run(start + (seconds * 1e9).toLong)
      val elapsedS = (System.nanoTime() - start) / 1e9
      val gcMs = Telemetry.gcMs() - gc0
      val cacheMb = Telemetry.cacheMb(spark)

      val failed = ops.count(!_.ok) + wl.verify(ops)
      val prim = ops.filter(_.kind == wl.primary)
      val p50 = Stats.quantile(prim.map(_.latNs / 1e6), 0.5)
      // wall time of one session or pass: first start to last end of its operations
      val makespanS = Stats.quantile(ops.groupBy(_.group).values.map { g =>
        (g.map(o => o.startNs + o.latNs).max - g.map(_.startNs).min) / 1e9
      }.toSeq, 0.5)
      println(f"# ${ops.size} ops in $elapsedS%.2f s; ${prim.size} ${wl.primary} ops, p50 $p50%.1f ms; " +
        f"makespan $makespanS%.2f s; setup reps ${reps.map(r => f"${r._1}%.2f").mkString(",")} + warm-up $warmS%.2f s")
      val figures = wl.layerFigures(ops, tel)
      if (figures.nonEmpty) println(s"# figures ${Json.numbers(figures)}")

      val metrics =
        if (!trace) Seq(
          ("setup_s", setupS, "s"),
          ("makespan_s", makespanS, "s"),
          ("cache_mb", cacheMb, "MB"))
        else {
          tel.drain()
          val report = TraceReport(tel, wl, ops, reps.map(_._2), gcMs, figures, makespanS)
          report.write(out.resolve("trace").resolve(s"$workload-seed$seed"), priorUntraced(out, workload, seed))
          report.perLayer
        }
      val result = Json.obj(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> ops.size.toString,
        "failed" -> failed.toString,
        "metrics" -> Json.metrics(metrics)))
      val results = out.resolve("results")
      Files.createDirectories(results)
      Files.write(results.resolve(s"$workload-seed$seed-trace${if (trace) 1 else 0}.json"),
        result.getBytes(StandardCharsets.UTF_8))
      println(result)
    } finally spark.stop()
  }

  /** The makespan of the last untraced run of this workload and seed, if any. */
  private def priorUntraced(out: Path, workload: String, seed: Long): Option[Double] = {
    val f = out.resolve("results").resolve(s"$workload-seed$seed-trace0.json")
    if (!Files.exists(f)) None
    else {
      val s = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
      "\"makespan_s\": \\{\"value\": ([0-9.eE+-]+)".r.findFirstMatchIn(s).map(_.group(1).toDouble)
    }
  }
}
