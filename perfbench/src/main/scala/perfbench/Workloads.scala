package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import scala.util.control.NonFatal
import org.apache.spark.sql.{Row, SparkSession}
import graft.GraphDB
import graft.cypher.CypherParser
import graft.sources.TpchGraph

/** A benchmark workload. [[Main]] calls `setup` several times (each call
  * rebuilds the inputs from scratch), then `warmup`, then `run` until the
  * deadline, then `verify` outside the timed phase. */
trait Workload {
  /** Kind of the operations `op_p50_ms` describes. */
  def primary: String
  /** The layer call that returns the primary operation's DataFrame. */
  def apiSpan(name: String): Boolean
  /** Rebuild the inputs; returns named setup timings in seconds. */
  def setup(): Map[String, Double]
  def warmup(): Unit
  def run(deadlineNs: Long): Seq[Op]
  /** Checks made after the timed phase; returns the number that failed. */
  def verify(ops: Seq[Op]): Int
  /** Workload-specific figures, printed by every run and added to the
    * trace report. */
  def layerFigures(ops: Seq[Op], tel: Telemetry): Map[String, Double]
}

object Workload {
  def failedOp(id: String, kind: String, name: String, depth: Int, group: Int, t0: Long, e: Throwable): Op = {
    System.err.println(s"[perfbench] $id $name failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
    Op(id, kind, name, depth, System.nanoTime() - t0, ok = false, group, t0)
  }

  def median(xs: Seq[Double]): Double = Stats.quantile(xs, 0.5)
}

/** `read_write`: sessions that each start from the base graph and apply a
  * chain of writes through `GraphDB.execute`, one per depth. Every write is
  * followed by a read-your-write check (part of the write's latency); in the
  * middle of the chain a point read runs against the current version. The
  * chain starts and ends with a SET, so the same write kind is timed on the
  * base graph and on the deepest version. The warm-up is one SET on the base
  * graph. */
final class ReadWrite(spark: SparkSession, dataDir: String, tel: Telemetry, seed: Long) extends Workload {
  import ReadWrite._
  def primary = "write"
  def apiSpan(name: String): Boolean = name == "graph.execute"

  private var db: GraphDB = _
  private val keys: Map[Label, ZipfKeys] =
    Seq(Label.Customer, Label.Supplier, Label.Part).map(l => l -> new ZipfKeys(l, 1.0, seed)).toMap

  def setup(): Map[String, Double] = {
    spark.catalog.clearCache()
    val (d, loadS, statsS) = Tpch.load(spark, dataDir, tel, "setup")
    db = d
    Map("input.load_s" -> loadS, "sources.load_s" -> loadS, "graph.stats_s" -> statsS)
  }

  def warmup(): Unit = {
    val w = write(1, new Random(seed - 1))
    val rows = db.execute(w.text, w.params).query(w.check, w.checkParams).collect().toSeq
    if (!w.visible(rows)) throw new IllegalStateException("warm-up write not visible")
  }

  private def draw(l: Label, rng: Random): (String, Long) = {
    val name = keys(l).draw(rng)
    (name, name.dropWhile(_ != '#').tail.toLong)
  }

  /** The write at `depth` (1-based). */
  private def write(depth: Int, rng: Random): Write = Chain(depth - 1) match {
    case "set" =>
      val (c, _) = draw(Label.Customer, rng)
      val v = math.round(rng.nextDouble() * 1e6) / 100.0
      Write("set", "MATCH (c:customer) WHERE c.name = $n SET c.value = $v", Map("n" -> c, "v" -> v),
        "MATCH (c:customer {name: $n}) RETURN c.value", Map("n" -> c),
        rows => rows.map(_.getDouble(0)) == Seq(v))
    case "merge" =>
      val (c, _) = draw(Label.Customer, rng); val (p, pk) = draw(Label.Part, rng)
      Write("merge", "MATCH (c:customer {name: $n}), (p:part {name: $p}) MERGE (c)-[:LIKES]->(p)",
        Map("n" -> c, "p" -> p),
        "MATCH (c:customer {name: $n})-[:LIKES]->(p:part) RETURN p", Map("n" -> c),
        rows => rows.map(_.getLong(0)).contains(TpchGraph.PartOff + pk))
    case "create_edge" =>
      val (s, _) = draw(Label.Supplier, rng); val (c, ck) = draw(Label.Customer, rng)
      Write("create_edge",
        "MATCH (s:supplier {name: $s}), (c:customer {name: $n}) CREATE (s)-[:SERVES {w: $w}]->(c)",
        Map("s" -> s, "n" -> c, "w" -> (1 + rng.nextInt(9))),
        "MATCH (s:supplier {name: $s})-[:SERVES]->(c:customer) RETURN c", Map("s" -> s),
        rows => rows.map(_.getLong(0)).contains(TpchGraph.CustomerOff + ck))
    case "detach_delete" =>
      val (p, _) = draw(Label.Part, rng)
      Write("detach_delete", "MATCH (p:part {name: $p}) DETACH DELETE p", Map("p" -> p),
        "MATCH (p:part {name: $p}) RETURN p", Map("p" -> p), rows => rows.isEmpty)
  }

  def run(deadlineNs: Long): Seq[Op] = {
    val ops = ArrayBuffer[Op]()
    var s = 0
    while (System.nanoTime() < deadlineNs) {
      val rng = new Random(seed * 7919L + s)
      var cur = db
      for (d <- 1 to Chain.size) {
        val w = write(d, rng)
        val id = s"s$s-w$d"
        val t0 = System.nanoTime()
        ops += (try {
          val (next, ok, df, n) = tel.asOp(id)(tel.span(id, "op.write") {
            if (tel.enabled) tel.span(id, "cypher.parse")(CypherParser.parseWrite(w.text, w.params))
            val next = tel.span(id, "graph.execute")(cur.execute(w.text, w.params))
            tel.span(id, "graph.visible") {
              val df = tel.span(id, "GraphDB.build")(next.query(w.check, w.checkParams))
              val rows = tel.span(id, "exec.collect")(df.collect()).toSeq
              (next, w.visible(rows), df, rows.size)
            }
          })
          if (!ok) System.err.println(s"[perfbench] $id ${w.kind}: write not visible")
          cur = next
          val op = Op(id, "write", w.kind, d, System.nanoTime() - t0, ok, s, t0)
          if (tel.enabled) Tpch.withPlan(op, df, n) else op
        } catch { case NonFatal(e) => Workload.failedOp(id, "write", w.kind, d, s, t0, e) })
        if (d == ReadAfter) {
          // the template's answers do not depend on the session's writes,
          // so the base-table oracle holds for every version
          val t = ReadTemplate.CustOrders
          val key = keys(t.label).draw(rng)
          val rid = s"s$s-r$d"
          val r0 = System.nanoTime()
          ops += (try Tpch.read(cur, t, key, rid, d, s, tel)
                  catch { case NonFatal(e) => Workload.failedOp(rid, "read", t.name, d, s, r0, e) })
        }
      }
      s += 1
    }
    ops.toSeq
  }

  def verify(ops: Seq[Op]): Int = {
    Tpch.registerViews(spark, dataDir)
    Tpch.verifyReads(spark, ops.flatMap(_.check))
  }

  def layerFigures(ops: Seq[Op], tel: Telemetry): Map[String, Double] = {
    val writes = ops.filter(_.kind == "write")
    writes.groupBy(_.depth).map { case (d, ws) =>
      s"graph.write_ms.d$d" -> Workload.median(ws.map(_.latNs / 1e6))
    } ++ Map("graph.read_ms" -> Workload.median(ops.filter(_.kind == "read").map(_.latNs / 1e6)))
  }
}

object ReadWrite {
  /** Write kinds of a session, by depth: every session reaches the same
    * version depth, and the first and last writes are the same kind. */
  val Chain = Seq("set", "detach_delete", "create_edge", "merge", "set")
  /** Depth after which the session's point read runs. */
  val ReadAfter = 3

  final case class Write(kind: String, text: String, params: Map[String, Any],
                         check: String, checkParams: Map[String, Any], visible: Seq[Row] => Boolean)
}
