package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec

/**
 * Golden physical-plan fingerprints for the 10 most expensive queries
 * (BENCH_r12 top of the board). PlanAuditSpec asserts GLOBAL invariants
 * (no cartesian anywhere, exchange-free where promised); this spec pins
 * each hot query's JOIN STRATEGY MIX and EXCHANGE COUNT so a plan
 * regression — a lost broadcast hint, an extra shuffle from a refactor —
 * fails `sbt test` immediately instead of surfacing rounds later as a
 * bench delta nobody can bisect.
 *
 * The fingerprint is the STATIC plan (AQE initial plan, pre-runtime
 * re-optimization): that is what the code + hints + stats determine, and
 * what a refactor can silently change. Iterative algorithms checkpoint
 * per round, so their final-lineage fingerprint is stable for fixed
 * input data (SF=0.001 here).
 *
 * When a fingerprint change is INTENTIONAL (a deliberate plan
 * improvement), regenerate with
 *   GRAFT_PLAN_DUMP=1 sbt 'testOnly graft.PlanGoldenSpec'
 * and paste the printed map — the diff then documents the plan change
 * in review rather than sneaking past it.
 */
class PlanGoldenSpec extends SparkSpec {

  private def plans(name: String): Seq[SparkPlan] = {
    val root = SparkEntry.queries(name)(spark, SF).queryExecution.executedPlan
    def expand(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
      case other => other +: other.children.flatMap(expand)
    }
    expand(root)
  }

  private def fingerprint(name: String): String = {
    val ps = plans(name)
    val joins = ps.collect { case j: BaseJoinExec =>
        j.getClass.getSimpleName.stripSuffix("Exec") }
      .groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)
      .map { case (k, n) => s"$k=$n" }
    val tail = Seq(
      s"ShuffleExchange=${ps.count(_.isInstanceOf[ShuffleExchangeExec])}",
      s"BroadcastExchange=${ps.count(_.isInstanceOf[BroadcastExchangeExec])}",
      s"ReusedExchange=${ps.count(_.isInstanceOf[ReusedExchangeExec])}")
    (joins ++ tail).mkString(" ")
  }

  // golden = join-type histogram + exchange counts at SF=0.001
  // graph_sigma / pagerank_weighted read 0 exchanges because their final
  // lineage roots at a per-round localCheckpoint — the pin still bites:
  // losing the checkpoint would surface the round's joins/exchanges here.
  private val golden: Map[String, String] = Map(
    "adamic_adar" -> "BroadcastHashJoin=4 ShuffleExchange=1 BroadcastExchange=4 ReusedExchange=0",
    "cy_multi_return" -> "BroadcastHashJoin=4 ShuffleExchange=1 BroadcastExchange=4 ReusedExchange=0",
    // r13: CC's local union-find gate replaced the star-contraction loop's
    // shuffles on the distillate-sized pair graphs (scc likewise via the
    // residual-tail Tarjan gate) — deliberate plan improvements. Since the
    // gate builds CC's whole answer on the driver, the vertex distinct and
    // the join back onto the vertices left the plans of every CC caller
    // (dedup_apply, dedup_clusters, dedup_keep_best, wcc_apply).
    "dedup_apply" -> "BroadcastHashJoin=6 SortMergeJoin=1 ShuffleExchange=3 BroadcastExchange=6 ReusedExchange=0",
    "dedup_clusters" -> "BroadcastHashJoin=1 ShuffleExchange=0 BroadcastExchange=1 ReusedExchange=0",
    "graph_sigma" -> "ShuffleExchange=0 BroadcastExchange=0 ReusedExchange=0",
    // r14: the distillate gates extended to the whole iterative family —
    // hits/kcore now root at a driver-local result (no joins/exchanges at
    // SF=0.001), and scc's ENTRY gate skips the distributed trim whose
    // semi-joins the old fingerprint counted. The distributed loop shapes
    // stay pinned by AlgorithmsSpec's gate-off parity suite.
    "hits" -> "ShuffleExchange=0 BroadcastExchange=0 ReusedExchange=0",
    "kcore" -> "ShuffleExchange=0 BroadcastExchange=0 ReusedExchange=0",
    "neighbor_jaccard" -> "BroadcastHashJoin=6 ShuffleExchange=1 BroadcastExchange=6 ReusedExchange=0",
    "pagerank_weighted" -> "ShuffleExchange=0 BroadcastExchange=0 ReusedExchange=0",
    "scc" -> "BroadcastHashJoin=2 ShuffleExchange=1 BroadcastExchange=2 ReusedExchange=0",
    // r14 board newcomers (post-gate top of BENCH_LAST): the old pins stay
    "bloom_join" -> "BroadcastHashJoin=6 ShuffleExchange=1 BroadcastExchange=6 ReusedExchange=0",
    // cy_delete / cy_set: a write's delta is frozen at `execute`, so the
    // read no longer carries the write's match (DETACH DELETE's removal
    // legs and SET's id join are broadcasts of a local relation)
    "cy_delete" -> "BroadcastHashJoin=5 ShuffleExchange=3 BroadcastExchange=5 ReusedExchange=0",
    "dedup_keep_best" -> "BroadcastHashJoin=2 ShuffleExchange=1 BroadcastExchange=2 ReusedExchange=0",
    "mxm_minplus" -> "BroadcastHashJoin=1 ShuffleExchange=3 BroadcastExchange=1 ReusedExchange=0",
    "sssp_minplus" -> "ShuffleExchange=0 BroadcastExchange=0 ReusedExchange=0",
    "wcc_apply" -> "BroadcastHashJoin=3 ShuffleExchange=1 BroadcastExchange=3 ReusedExchange=0",
    // the Cypher forms that share GraphDB's query tail, WITH-stage loop
    // and SET/MERGE rewrites
    "cy_merge" -> "ShuffleExchange=1 BroadcastExchange=0 ReusedExchange=0",
    "cy_path_varlen" -> "BroadcastHashJoin=3 ShuffleExchange=3 BroadcastExchange=3 ReusedExchange=0",
    "cy_set" -> "BroadcastHashJoin=5 ShuffleExchange=1 BroadcastExchange=5 ReusedExchange=0",
    "cy_shortest" -> "BroadcastHashJoin=1 ShuffleExchange=0 BroadcastExchange=1 ReusedExchange=0",
    "cy_union_orderby" -> "BroadcastHashJoin=4 ShuffleExchange=2 BroadcastExchange=4 ReusedExchange=0",
    "cy_upsert" -> "BroadcastHashJoin=1 ShuffleExchange=0 BroadcastExchange=1 ReusedExchange=0",
    "cy_with_topk" -> "BroadcastHashJoin=3 ShuffleExchange=2 BroadcastExchange=3 ReusedExchange=0")

  test("top-10 query plans match their golden join/exchange fingerprints") {
    val dump = sys.env.get("GRAFT_PLAN_DUMP").contains("1")
    val current = golden.keys.toSeq.sorted.map(n => n -> fingerprint(n))
    if (dump) {
      current.foreach { case (n, fp) => info(s""""$n" -> "$fp",""") }
      current.foreach { case (n, fp) => println(s"""PLANGOLD "$n" -> "$fp",""") }
    } else {
      val bad = current.filter { case (n, fp) => golden(n) != fp }
      assert(bad.isEmpty, bad.map { case (n, fp) =>
        s"\n  $n:\n    golden  ${golden(n)}\n    current $fp"
      }.mkString("plan fingerprints moved (rerun with GRAFT_PLAN_DUMP=1 " +
        "if intentional):", "", ""))
    }
  }
}
