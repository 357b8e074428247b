package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Property-graph data model, Spark-first.
 *
 * The reference (fabianmurariu/g4s) stores topology as one Boolean sparse
 * matrix per node label / edge type plus an off-matrix KV payload store
 * (reference: g4s-matrix-graph/.../graph/ConcurrentDirectedGraph.scala:158-188,
 * DataStore.scala:22-31). The Spark-native equivalent is two DataFrames with
 * fixed core schemas; per-label matrices become `filter($"label" === L)`
 * (pushed to the parquet scan by Catalyst), and the eagerly-maintained
 * transpose matrices (ConcurrentDirectedGraph.scala:146-148) dissolve into
 * swapping join keys.
 *
 * Core schemas (extra property columns are allowed and carried through):
 *   nodes: id BIGINT, label STRING, props...
 *   edges: src BIGINT, dst BIGINT, etype STRING, props...
 *
 * Invariants: `id` is unique in nodes (loaders allocate ids, mirroring the
 * reference's monotonic id counter, DataStore.scala:44-49). `edgesDistinct`
 * declares that (src, dst, etype) has no duplicate rows — a multigraph keeps
 * it false and the query layer then pays a final duplicate-elimination it can
 * otherwise skip (set-semantics tracking in PatternExec).
 *
 * A graph is immutable. Every write, from a bulk `GraphDB.addNodes` to a
 * Cypher DETACH DELETE, is one [[Delta]]; `apply(delta)` derives the next
 * version's tables from these, and [[Delta.foldInto]] its statistics.
 */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame,
                               edgesDistinct: Boolean = false,
                               /** Identical ROWS to `edges`, physically
                                 * laid out for dst-keyed joins (a
                                 * dst-bucketed table copy — the reference's
                                 * eagerly-maintained transpose matrices,
                                 * ConcurrentDirectedGraph.scala:146-148, as
                                 * STORAGE layout). The executor reads this
                                 * copy when its join key is the edge's dst
                                 * so the edge side of the expand skips its
                                 * exchange; plans are correct either way.
                                 * See [[graft.sources.GraphStore]]. */
                               edgesRev: Option[DataFrame] = None) {

  def nodesByLabel(label: String): DataFrame =
    nodes.filter(col("label") === lit(label))

  /** Edges of the given types; empty = all types (reference GetEdges(tpe: Seq)). */
  def edgesByType(types: Seq[String]): DataFrame =
    if (types.isEmpty) edges
    else if (types.size == 1) edges.filter(col("etype") === lit(types.head))
    else edges.filter(col("etype").isin(types: _*))

  /** Same rows as [[edgesByType]] from the dst-keyed copy when one exists
    * (falls back to `edges`): callers joining on `dst` read co-located
    * buckets instead of shuffling the edge side. */
  def edgesRevByType(types: Seq[String]): DataFrame = {
    val base = edgesRev.getOrElse(edges)
    if (types.isEmpty) base
    else if (types.size == 1) base.filter(col("etype") === lit(types.head))
    else base.filter(col("etype").isin(types: _*))
  }

  /** Snapshot statistics for the cost-based planner (reference StatsStore). */
  def computeStats(): GraphStats = GraphStats.compute(this)

  def cache(): PropertyGraph = copy(nodes = nodes.cache(), edges = edges.cache())

  /** The version `d` derives from this one — the only code that derives a
    * version's tables from its parent's. In order: the removed edge rows
    * anti-join the edge table and its dst-keyed copy (row-identity
    * invariant) on (src, dst, etype), the removed ids anti-join the node
    * table, the appended rows union in by name (missing property columns
    * null-fill; appended edges may duplicate stored ones, so `edgesDistinct`
    * drops), and the rewrite runs over the resulting node table. The
    * reference appends in place (`insertVertex`/`insertEdge`,
    * ConcurrentDirectedGraph.scala:109-153) and never deletes; id
    * allocation and the refusal of orphaned edges are the caller's. */
  def apply(d: Delta): PropertyGraph = {
    val key = Seq("src", "dst", "etype")
    def edgesOf(df: DataFrame) = {
      val kept = d.removedEdges.fold(df)(r => df.join(r.select(key.map(col): _*), key, "left_anti"))
      d.addedEdges.fold(kept)(kept.unionByName(_, allowMissingColumns = true))
    }
    val kept = d.removedIds.fold(nodes)(ids => nodes.join(ids.select("id"), Seq("id"), "left_anti"))
    PropertyGraph(d.rewrite(d.addedNodes.fold(kept)(kept.unionByName(_, allowMissingColumns = true))),
      edgesOf(edges), edgesDistinct && d.addedEdges.isEmpty, edgesRev.map(edgesOf))
  }

  /** Point lookup (reference `getV`, ConcurrentDirectedGraph.scala:104). */
  def node(id: Long): DataFrame = nodes.filter(col("id") === lit(id))
}

object PropertyGraph {
  /** Load from a directory holding nodes.parquet / edges.parquet. */
  def load(spark: SparkSession, dir: String): PropertyGraph =
    PropertyGraph(
      spark.read.parquet(s"$dir/nodes.parquet"),
      spark.read.parquet(s"$dir/edges.parquet"))

  /** Build from explicit tuples (test fixtures). */
  def fromTuples(
      spark: SparkSession,
      nodes: Seq[(Long, String)],
      edges: Seq[(Long, Long, String)]): PropertyGraph = {
    import spark.implicits._
    PropertyGraph(
      nodes.toDF("id", "label"),
      edges.toDF("src", "dst", "etype"))
  }
}

/**
 * Label/type statistics driving join ordering, the analogue of the
 * reference's NaiveStatsStore (g4s-optimizer/.../optim/StatsStore.scala:111-255):
 * node counts per label, edge counts per type, and (srcLabel, etype, dstLabel)
 * triplet counts for conditional selectivities.
 *
 * Computed with distributed groupBy().count() and collected to the driver —
 * the collected maps are O(#labels + #types + #triplets), tiny even at 100 TB.
 */
final case class GraphStats(
    nodesTotal: Long,
    edgesTotal: Long,
    nodeCounts: Map[String, Long],
    edgeCounts: Map[String, Long],
    tripletCounts: Map[(String, String, String), Long]) {

  def nodeCount(label: Option[String]): Long =
    label.fold(nodesTotal)(l => nodeCounts.getOrElse(l, 0L))

  def edgeCount(types: Seq[String]): Long =
    if (types.isEmpty) edgesTotal
    else types.map(t => edgeCounts.getOrElse(t, 0L)).sum

  /** P(node has this label) — reference StatsStore.nodeSel. */
  def nodeSel(label: Option[String]): Double =
    if (nodesTotal == 0) 0.0 else nodeCount(label).toDouble / nodesTotal

  /** P(edge has this type) — reference StatsStore.edgeSel. */
  def edgeSel(types: Seq[String]): Double =
    if (edgesTotal == 0) 0.0 else edgeCount(types).toDouble / edgesTotal

  /** #edges of `etype` whose src has `srcLabel` and dst has `dstLabel`. */
  def tripletCount(srcLabel: Option[String], etype: Seq[String], dstLabel: Option[String]): Long = {
    val keys = tripletCounts.keysIterator.filter { case (s, t, d) =>
      srcLabel.forall(_ == s) && (etype.isEmpty || etype.contains(t)) && dstLabel.forall(_ == d)
    }
    keys.map(tripletCounts).sum
  }
}

object GraphStats {
  def compute(g: PropertyGraph): GraphStats = {
    import org.apache.spark.sql.Row
    val nodeRows = g.nodes.groupBy("label").count().collect()
    val nodeCounts = nodeRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    val edgeRows = g.edges.groupBy("etype").count().collect()
    val edgeCounts = edgeRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    // triplet counts: one shuffle join of edges against the (small) label map;
    // broadcast the label projection when it fits.
    val labels = g.nodes.select(col("id"), col("label"))
    val trip = g.edges.select(col("src"), col("dst"), col("etype"))
      .join(labels.withColumnRenamed("id", "src").withColumnRenamed("label", "slabel"), "src")
      .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("label", "dlabel"), "dst")
      .groupBy("slabel", "etype", "dlabel").count().collect()
    val tripletCounts = trip.map { case Row(s: String, t: String, d: String, c: Long) =>
      (s, t, d) -> c
    }.toMap
    GraphStats(
      nodeCounts.values.sum,
      edgeCounts.values.sum,
      nodeCounts, edgeCounts, tripletCounts)
  }
}
