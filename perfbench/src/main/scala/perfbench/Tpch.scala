package perfbench

import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.GraphDB
import graft.cypher.CypherParser
import graft.plans.{Pattern, Planner}
import graft.sources.TpchGraph

/** A node label whose nodes are anchored by `{name: $n}`. */
final case class Label(name: String, count: Int, format: String) {
  def key(i: Int): String = format.format(i.toLong)
}

object Label {
  val Customer = Label("customer", TpchData.Customers.toInt, "Customer#%09d")
  val Supplier = Label("supplier", TpchData.Suppliers.toInt, "Supplier#%09d")
  val Part = Label("part", TpchData.Parts.toInt, "Part#%09d")
}

/** Zipf(s) over ranks 1..n, mapped to keys through a seeded permutation, so
  * each seed has its own hot keys. */
final class ZipfKeys(label: Label, s: Double, seed: Long) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(label.count)(i => 1.0 / math.pow(i + 1.0, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val perm: Array[Int] = new Random(seed ^ label.name.hashCode).shuffle((0 until label.count).toVector).toArray

  def draw(rng: Random): String = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    label.key(perm(if (i >= 0) i else math.min(-i - 1, cdf.length - 1)))
  }
}

/** A short parameterized read anchored on one node by name. `oracle` is
  * plain Spark SQL over the source tables: its first column is the anchor
  * name, the rest are the read's expected columns; `%s` takes the quoted
  * anchor names. */
final case class ReadTemplate(name: String, label: Label, cypher: String, oracle: String)

object ReadTemplate {
  val CustOrders = ReadTemplate("cust_orders", Label.Customer,
    "MATCH (c:customer {name: $n})-[:PLACED]->(o:order) RETURN o",
    "SELECT c_name AS k, o_orderkey + 6000000000 AS o FROM customer " +
      "JOIN orders ON o_custkey = c_custkey WHERE c_name IN (%s)")
}

/** A read whose result is checked against the oracle after the timed phase. */
final case class PendingCheck(template: ReadTemplate, key: String, got: String)

/** One timed operation. `group` is the session or pass it belongs to;
  * `planNodes`, `scanned` and `rowsOut` are filled in traced runs only. */
final case class Op(id: String, kind: String, name: String, depth: Int, latNs: Long, ok: Boolean,
                    group: Int = 0, startNs: Long = 0L, check: Option[PendingCheck] = None,
                    planNodes: Int = 0, scanned: Long = 0L, rowsOut: Long = 0L)

object Tpch {
  def canonical(rows: Seq[Row]): String =
    rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.mkString("\n")

  /** The benchmark graph: TPC-H tables → property graph, cached and counted
    * (`sources.load`), then its planner statistics (`graph.stats`). */
  def load(spark: SparkSession, dir: String, tel: Telemetry, op: String): (GraphDB, Double, Double) = {
    val t0 = System.nanoTime()
    val g = tel.asOp(op)(tel.span(op, "sources.load") {
      val g = TpchGraph(spark, dir)
      g.nodes.cache().count()
      g.edges.cache().count()
      g
    })
    val t1 = System.nanoTime()
    val db = new GraphDB(g)
    tel.asOp(op)(tel.span(op, "graph.stats")(db.stats))
    (db, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  /** Register the source tables as views for the oracle SQL. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    TpchData.Tables.foreach(t => spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))

  /** One parameterized read: `GraphDB.query` builds the DataFrame, `collect`
    * runs it. Traced runs also time parse and plan on their own (the build
    * repeats them internally) and read the plan's metrics afterwards. */
  def read(db: GraphDB, t: ReadTemplate, key: String, id: String, depth: Int, group: Int, tel: Telemetry): Op = {
    val params = Map[String, Any]("n" -> key)
    val t0 = System.nanoTime()
    val (df, rows) = tel.asOp(id)(tel.span(id, "op.read") {
      if (tel.enabled) {
        val (qs, _) = tel.span(id, "cypher.parse")(CypherParser.parseUnion(t.cypher, params))
        tel.span(id, "plans.plan")(Planner.plan(Pattern.fromQuery(qs.head), db.stats))
      }
      val df = tel.span(id, "GraphDB.build")(db.query(t.cypher, params))
      (df, tel.span(id, "exec.collect")(df.collect()).toSeq)
    })
    val lat = System.nanoTime() - t0
    val op = Op(id, "read", t.name, depth, lat, ok = true, group, t0, Some(PendingCheck(t, key, canonical(rows))))
    if (tel.enabled) withPlan(op, df, rows.size) else op
  }

  def withPlan(op: Op, df: DataFrame, rowsOut: Int): Op =
    op.copy(planNodes = Telemetry.planNodes(df), scanned = Telemetry.scannedRows(df), rowsOut = rowsOut.toLong)

  /** Compare every pending read with the oracle: one SQL query per template
    * over all the keys it was run with. Returns the number of mismatches. */
  def verifyReads(spark: SparkSession, checks: Seq[PendingCheck]): Int = {
    val expected: Map[(String, String), String] = checks.groupBy(_.template).flatMap { case (t, cs) =>
      val keys = cs.map(_.key).distinct
      val sql = t.oracle.format(keys.map(k => s"'$k'").mkString(", "))
      val byKey = spark.sql(sql).collect().toSeq.groupBy(_.getString(0))
      keys.map(k => (t.name, k) -> canonical(byKey.getOrElse(k, Nil).map(r => Row.fromSeq(r.toSeq.tail))))
    }
    val bad = checks.filter(c => expected((c.template.name, c.key)) != c.got)
    bad.take(3).foreach(c => System.err.println(
      s"[perfbench] mismatch ${c.template.name}(${c.key}): got ${c.got.take(200)} " +
        s"expected ${expected((c.template.name, c.key)).take(200)}"))
    bad.size
  }
}
