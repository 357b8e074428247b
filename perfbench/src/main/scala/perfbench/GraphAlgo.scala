package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.algorithms.Algorithms
import graft.kernel.{GrMatrix, GrOps, Ops}

/** `graph_algo`: one client runs a fixed job list over a seeded power-law
  * graph: PageRank (10 iterations), connected components, BFS and SSSP from
  * a seeded source on the driver-local loops, connected components again
  * on the distributed loops, and one bounded `GrOps.mxm`.
  * The graph is under [[Algorithms.LocalGraphMaxEdges]], so the default gate
  * takes the driver-local loops; the distributed jobs force the distributed
  * loops (and their checkpoints) through the engine's
  * `graft.localGraphMaxEdges` session override. Each pass's output checksum
  * is kept per seed and must repeat on every later run of the same seed. */
final class GraphAlgo(spark: SparkSession, tel: Telemetry, seed: Long, stateDir: Path) extends Workload {
  import GraphAlgo._

  def primary = "job"
  def apiSpan(name: String): Boolean = name.startsWith("algorithms.") || name == "kernel.mxm"

  private var edges: DataFrame = _
  private var vertices: DataFrame = _
  private var source: Long = _
  private var mxmRows: Seq[Long] = _
  private var maxDegree: Long = _
  private val results = mutable.LinkedHashMap[String, Array[Row]]()
  private val checksums = mutable.ArrayBuffer[String]()

  def setup(): Map[String, Double] = {
    spark.catalog.clearCache()
    spark.conf.unset(GateKey)
    val t0 = System.nanoTime()
    val (e, v, m, deg, hubs) = tel.asOp("setup")(tel.span("setup", "input.generate") {
      val n = TargetEdges / 8
      val k = col("id")
      def u(salt: Int) = pmod(xxhash64(k, lit(seed), lit(salt)), lit(1L << 53)).cast("double") / lit((1L << 53).toDouble)
      // out-degree ~ Zipf(1) (log-uniform source ids), uniform destinations
      val e = spark.range(TargetEdges)
        .select((floor(exp(u(1) * math.log(n.toDouble))) - 1).cast("long").as("src"),
          floor(u(2) * n).cast("long").as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
        .withColumn("w", (pmod(xxhash64(col("src"), col("dst"), lit(seed)), lit(9L)) + 1).cast("double"))
        .cache()
      val m = e.count()
      val v = e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct().cache()
      v.count()
      val degs = e.groupBy("src").count().agg(max("count"), sum(when(col("count") > HubDegree, 1).otherwise(0)))
        .head()
      (e, v, m, degs.getLong(0), degs.getLong(1))
    })
    val loadS = (System.nanoTime() - t0) / 1e9
    println(s"# graph_algo input: $m edges, max out-degree $deg, $hubs hubs above degree $HubDegree")
    if (deg <= HubDegree || m > Algorithms.LocalGraphMaxEdges)
      throw new IllegalStateException(s"synthetic graph outside its design: $m edges " +
        s"(local gate ${Algorithms.LocalGraphMaxEdges}), max out-degree $deg (hub degree $HubDegree)")
    edges = e; vertices = v; maxDegree = deg
    val rng = new scala.util.Random(seed)
    source = rng.nextInt(50).toLong
    mxmRows = rng.shuffle((100L until 100L + MxmPool).toVector).take(MxmRows)
    Map("input.load_s" -> loadS, "input.edges" -> m.toDouble, "input.max_degree" -> deg.toDouble)
  }

  def warmup(): Unit = ()

  private def src: DataFrame = spark.range(1).select(lit(source).as("id"))

  private def jobs: Seq[(String, () => DataFrame)] = {
    val e2 = edges.select("src", "dst")
    Seq(
      "pagerank.local" -> (() => Algorithms.pageRank(vertices, e2, 10)),
      "wcc.local" -> (() => Algorithms.connectedComponents(vertices, e2)),
      "bfs.local" -> (() => Algorithms.bfs(e2, src)),
      "sssp.local" -> (() => Algorithms.sssp(edges, src)),
      "wcc.dist" -> (() => Algorithms.connectedComponents(vertices, e2)),
      "mxm" -> (() => {
      val a = GrMatrix(edges.filter(col("src").isin(mxmRows: _*))
        .select(col("src").as("i"), col("dst").as("j"), col("w").as("v")))
      val b = GrMatrix(edges.select(col("src").as("i"), col("dst").as("j"), col("w").as("v")))
      GrOps.mxm(Ops.plusTimes)(a, b).df
    }))
  }

  def run(deadlineNs: Long): Seq[Op] = {
    val ops = mutable.ArrayBuffer[Op]()
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadlineNs) {
      val sums = mutable.ArrayBuffer[String]()
      jobs.foreach { case (name, job) =>
        if (name.endsWith(".dist")) spark.conf.set(GateKey, "0") else spark.conf.unset(GateKey)
        val id = s"p$pass-$name"
        val spanName = if (name == "mxm") "kernel.mxm" else s"algorithms.$name"
        val t0 = System.nanoTime()
        ops += (try {
          val (df, rows) = tel.asOp(id)(tel.span(id, "op.job") {
            val df = tel.span(id, spanName)(job())
            (df, tel.span(id, "exec.collect")(df.collect()))
          })
          val op = Op(id, "job", name, 0, System.nanoTime() - t0, ok = true, pass, t0)
          if (pass == 0) results(name) = rows
          sums += s"$name=${checksum(name, rows)}"
          if (tel.enabled) Tpch.withPlan(op, df, rows.length) else op
        } catch { case NonFatal(e) => Workload.failedOp(id, "job", name, 0, pass, t0, e) })
      }
      spark.conf.unset(GateKey)
      checksums += sums.mkString(";")
      pass += 1
    }
    ops.toSeq
  }

  /** Order-independent digest of a job's output; doubles are compared at
    * 1e-9 so the summation order of a distributed aggregate cannot move it. */
  private def checksum(name: String, rows: Array[Row]): String = {
    val parts = rows.map(r => r.toSeq.map {
      case d: Double => math.round(d * 1e9).toString
      case x => String.valueOf(x)
    }.mkString(",")).sorted
    java.util.HexFormat.of().formatHex(java.security.MessageDigest.getInstance("SHA-256")
      .digest(parts.mkString("\n").getBytes(StandardCharsets.UTF_8))).take(16)
  }

  def verify(ops: Seq[Op]): Int = {
    val es: Array[(Long, Long, Double)] =
      edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val failures = mutable.ArrayBuffer[String]()
    def check(ok: Boolean, what: => String): Unit = if (!ok) failures += what
    def pairs(name: String): Map[Long, Double] = results.get(name).map(_.map(r =>
      r.getLong(0) -> (r.get(1) match { case n: java.lang.Number => n.doubleValue(); case _ => Double.NaN })).toMap)
      .getOrElse(Map.empty)

    val n = vertices.count().toDouble
    val pr = pairs("pagerank.local")
    check(pr.size == n.toLong && math.abs(pr.values.sum / n - 1.0) <= 1e-6,
      s"pagerank: mass ${pr.values.sum / n} over ${pr.size} of ${n.toLong} vertices")
    for (side <- Seq("local", "dist")) {
      val cc = pairs(s"wcc.$side").map { case (k, v) => k -> v.toLong }
      val minOf = cc.groupBy(_._2).map { case (label, members) => label -> members.keys.min }
      check(cc.size == n.toLong && minOf.forall { case (l, m) => l == m }, s"wcc.$side: a label is not its smallest member")
      check(es.forall { case (a, b, _) => cc.get(a) == cc.get(b) }, s"wcc.$side: an edge spans two components")
    }
    val lv = pairs("bfs.local")
    check(lv.get(source).contains(0.0), "bfs: source level is not 0")
    check(es.forall { case (a, b, _) => lv.get(a).forall(la => lv.get(b).exists(_ <= la + 1)) },
      "bfs: an edge skips a level")
    val hasParent = es.collect { case (a, b, _) if lv.contains(a) && lv.get(b).contains(lv(a) + 1) => b }.toSet
    check(lv.forall { case (v, l) => l == 0 || hasParent.contains(v) }, "bfs: a level has no parent")
    val ds = pairs("sssp.local")
    check(ds.get(source).contains(0.0), "sssp: source distance is not 0")
    check(es.forall { case (a, b, w) => ds.get(a).forall(da => ds.get(b).exists(_ <= da + w + 1e-9)) },
      "sssp: an edge relaxes a distance")
    check(pairs("wcc.local") == pairs("wcc.dist"), "wcc: local and distributed labels differ")
    // Σ C = Σ_k (column sum of A at k) × (row sum of B at k)
    val rowSet = mxmRows.toSet
    val colA = es.filter(e => rowSet(e._1)).groupMapReduce(_._2)(_._3)(_ + _)
    val rowB = es.groupMapReduce(_._1)(_._3)(_ + _)
    val want = colA.map { case (k, s) => s * rowB.getOrElse(k, 0.0) }.sum
    val got = results.get("mxm").map(_.map(_.getDouble(2)).sum).getOrElse(Double.NaN)
    check(results.get("mxm").exists(_.nonEmpty) && math.abs(got - want) <= 1e-9 * want, s"mxm: sum $got, expected $want")
    check(checksums.distinct.size <= 1, "checksums differ between passes of one run")
    val file = stateDir.resolve(s"graph_algo-seed$seed.checksum")
    checksums.headOption.foreach { now =>
      if (Files.exists(file)) {
        val before = new String(Files.readAllBytes(file), StandardCharsets.UTF_8).trim
        check(before == now, s"checksum differs from an earlier run of seed $seed: $before vs $now")
      } else {
        Files.createDirectories(stateDir)
        Files.write(file, now.getBytes(StandardCharsets.UTF_8))
      }
    }
    failures.foreach(f => System.err.println(s"[perfbench] graph_algo check failed: $f"))
    failures.size
  }

  /** Per job: its latency (the call plus the collect that runs it; mxm and
    * parts of the algorithms are lazy) and, traced, its Spark jobs and
    * shuffle bytes. */
  def layerFigures(ops: Seq[Op], tel: Telemetry): Map[String, Double] =
    ops.groupBy(_.name).flatMap { case (name, os) =>
      val prefix = if (name == "mxm") "kernel.mxm" else s"algorithms.$name"
      val ex = os.map(o => tel.exec(o.id))
      Map(s"${prefix}_s" -> Workload.median(os.map(_.latNs / 1e9))) ++
        (if (!tel.enabled) Map.empty
         else Map(s"${prefix}_jobs" -> Stats.mean(ex.map(_.jobs.get.toDouble)),
           s"${prefix}_shuffle_bytes" -> Stats.mean(ex.map(_.shuffleBytes.get.toDouble))) ++
           (if (name == "mxm") Map("kernel.mxm_nnz_out" -> Stats.mean(os.map(_.rowsOut.toDouble))) else Map.empty))
    } ++ Map("input.max_degree" -> maxDegree.toDouble)
}

object GraphAlgo {
  val GateKey = "graft.localGraphMaxEdges"
  /** The hub threshold of the engine's skew-salted link predictors. */
  val HubDegree = 4096L
  val TargetEdges = 200000L
  val MxmRows = 256
  val MxmPool = 20000L
}
