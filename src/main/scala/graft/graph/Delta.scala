package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/**
 * What one write does to its parent version: the frozen rows it appends and
 * removes, plus its node-column rewrite (SET, MERGE's ON CREATE / ON MATCH
 * SET). [[PropertyGraph.apply]] derives the new version's tables from it and
 * [[foldInto]] its statistics, so "how a version is derived from its parent"
 * is stated once for every write kind.
 *
 *  - `addedNodes`: appended node rows (`id`, `label`, props…)
 *  - `addedEdges`: appended edge rows (`src`, `dst`, `etype`, props…)
 *  - `removedIds`: removed node ids, one column `id` (duplicates allowed)
 *  - `removedEdges`: removed edge rows (`src`, `dst`, `etype`), one row per
 *    stored copy, so a multigraph's multiplicity lives in the delta itself
 *  - `rewrite`: the node-table rewrite, run after the removals and appends
 */
final case class Delta(
    addedNodes: Option[DataFrame] = None,
    addedEdges: Option[DataFrame] = None,
    removedIds: Option[DataFrame] = None,
    removedEdges: Option[DataFrame] = None,
    rewrite: DataFrame => DataFrame = identity) {

  /** `parent`, the statistics of the version whose node table is
    * `parentNodes`, with this delta folded in — the reference's per-insert
    * StatsStore update (ConcurrentDirectedGraph.scala:121-124,151-152)
    * without a scan of the parent's edge table. Node counts move by the
    * labels of the appended and removed nodes; edge counts and the edge total
    * by the edge rows themselves; triplet counts by the edge rows joined to
    * one frozen label lookup of their endpoints (the parent's nodes plus the
    * appended ones), so an edge whose endpoint has no node row moves its
    * type's count and no triplet, as in a full recompute. Zero entries drop.
    * A delta with no rows (SET, a MERGE that matched) returns `parent`
    * without a job; any other runs the lookup's freeze and one aggregation,
    * over a single partition because a delta's rows are few. */
  def foldInto(parent: GraphStats, parentNodes: DataFrame): GraphStats = {
    def rows(df: Option[DataFrame]) = df.filterNot(Delta.knownEmpty)
    def signed(df: DataFrame, n: Long) = df.select(col("src"), col("dst"), col("etype"), lit(n).as("n"))
    val edgeRows = (rows(addedEdges).map(signed(_, 1L)) ++ rows(removedEdges).map(signed(_, -1L)))
      .reduceOption(_.unionByName(_))
    val (added, removed) = (rows(addedNodes), rows(removedIds))
    if (edgeRows.isEmpty && added.isEmpty && removed.isEmpty) return parent
    val ends = edgeRows.toSeq.flatMap(e => Seq(e.select(col("src").as("id")), e.select(col("dst").as("id")))) ++
      removed.map(_.select("id"))
    lazy val lab = Delta.freeze((parentNodes +: added.toSeq).map(_.select("id", "label"))
      .reduce(_.unionByName(_)).join(ends.reduce(_.unionByName(_)), Seq("id"), "left_semi"))
    def labelOf(end: String, as: String) = lab.select(col("id").as(end), col("label").as(as))
    def nodeRows(df: DataFrame, n: Long) = df.select(lit(false).as("edge"), col("label").as("sl"),
      lit(null).cast("string").as("etype"), lit(null).cast("string").as("dl"), lit(n).as("n"))
    val counted = edgeRows.map(_.join(labelOf("src", "sl"), Seq("src"), "left")
        .join(labelOf("dst", "dl"), Seq("dst"), "left")
        .select(lit(true).as("edge"), col("sl"), col("etype"), col("dl"), col("n"))) ++
      added.map(nodeRows(_, 1L)) ++ removed.map(ids => nodeRows(lab.join(ids, Seq("id"), "left_semi"), -1L))
    val (edges, nodes) = counted.reduce(_.unionByName(_)).coalesce(1).groupBy("edge", "sl", "etype", "dl")
      .agg(sum("n")).collect().toSeq.partition(_.getBoolean(0))
    def fold[K](m: Map[K, Long], by: Seq[(K, Long)]) =
      by.foldLeft(m) { case (acc, (k, c)) => acc.updated(k, acc.getOrElse(k, 0L) + c) }.filter(_._2 != 0)
    val byNode = nodes.map(r => r.getString(1) -> r.getLong(4))
    val byEdge = edges.map(r => (r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(4))
    GraphStats(parent.nodesTotal + byNode.map(_._2).sum, parent.edgesTotal + byEdge.map(_._2).sum,
      fold(parent.nodeCounts, byNode), fold(parent.edgeCounts, byEdge.map { case ((_, t, _), c) => t -> c }),
      fold(parent.tripletCounts, byEdge.filter { case ((s, _, d), _) => s != null && d != null }))
  }
}

object Delta {
  /** A write's rows (what it adds, removes or rewrites), evaluated once so
    * that the new version's tables are the parent's joined or unioned with a
    * materialized relation, not a plan that replays the write's match on
    * every later read. One bounded collect decides: a frame within
    * `spark.sql.autoBroadcastJoinThreshold` by Catalyst's own estimate for a
    * local relation ((8 + row default size) bytes a row) becomes one. Its
    * statistics are exact, so every join against it is a broadcast that
    * leaves the base tables unshuffled, and it holds no cache. A larger
    * frame, or any frame under a threshold ≤ 0, is an eager
    * `localCheckpoint` instead, whose blocks live as long as a version that
    * references them is reachable. A checkpoint alone would not serve the
    * small case: it keeps its origin's size estimate, so joins against a
    * one-row delta would still shuffle the base tables. */
  def freeze(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val maxRows = spark.sessionState.conf.autoBroadcastJoinThreshold / (8L + df.schema.defaultSize)
    if (maxRows > 0) {
      val rows = df.limit((maxRows min (Int.MaxValue - 1L)).toInt + 1).collect()
      if (rows.length <= maxRows)
        return spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    }
    df.localCheckpoint(eager = true)
  }

  /** A frame that is known, without a job, to hold no rows: a local relation
    * (what [[freeze]] makes of a small delta) with no data. */
  private def knownEmpty(df: DataFrame): Boolean = df.queryExecution.optimizedPlan match {
    case r: LocalRelation => r.data.isEmpty
    case _ => false
  }
}
