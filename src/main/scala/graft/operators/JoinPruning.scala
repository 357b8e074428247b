package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Bloom-filter semi-join reduction: shrink a huge probe side BEFORE the
 * shuffle join using the compact bit-position set of the build side's keys
 * ([[graft.sketch.Sketches.bloomBits]]). No reference analogue (the
 * reference joins in-memory tuple arrays,
 * g4s-matrix-graph/src/main/scala/com/github/fabianmurariu/g4s/graph/core/package.scala);
 * this is the standard 100 TB device Spark's own runtime row-level filters
 * approximate — made explicit so the pruning is guaranteed, tunable, and
 * reusable against a PERSISTED filter (build once, prune many pipelines).
 *
 * Scale shape: the bits side is ≤ mBits rows however large the build side
 * is; pruning is k chained BROADCAST left-semi joins on the salted bit
 * positions (one per hash), so the probe side is filtered inside its own
 * scan stage — zero probe shuffle until the exact join, which then moves
 * only survivors (true matches + the filter's false positives). False
 * negatives are impossible, so the joined output is exactly the plain
 * join's output.
 */
object JoinPruning {

  /** Rows of `probe` whose `key` MIGHT be in the filter: all k salted bit
    * positions present in `bits`. Row-level (keeps every payload column) —
    * the pruning stage of [[bloomPrunedJoin]], usable alone against a
    * persisted filter. */
  def bloomPruneRows(probe: DataFrame, key: Column, bits: DataFrame,
                     k: Int, mBits: Int): DataFrame = {
    require(k >= 1 && mBits >= 2, s"Bloom needs k >= 1, mBits >= 2, got k=$k mBits=$mBits")
    graft.sketch.Sketches.saltedPositions(key, k, mBits).zipWithIndex.foldLeft(probe) {
      case (df, (pos, j)) =>
        df.join(broadcast(bits.select(col("pos").as(s"__bp_$j"))), pos === col(s"__bp_$j"),
          "left_semi")
    }
  }

  /**
   * Inner equi-join with bloom pre-pruning of the probe side: build the
   * position set over `build`'s keys, prune `probe` to might-match rows,
   * then join exactly. Semantically identical to
   * `probe.join(build, probeKey === buildKey)` (no false negatives; the
   * exact join removes false positives) — but at scale the shuffle moves
   * the pruned probe, not the full one. Build-side NULL keys never match
   * (standard join semantics); probe-side NULL keys hash to no position
   * and are dropped by the semi joins, which matches.
   */
  def bloomPrunedJoin(build: DataFrame, probe: DataFrame,
                      buildKey: String, probeKey: String,
                      k: Int = 5, mBits: Int = 1 << 20): DataFrame = {
    // persist the position set so the k broadcasts share ONE build-side
    // scan+agg — without it each broadcast re-ran the build derivation
    // (the r14 before-plan carried 5 copies of the build scan+agg subtree).
    // A driver-literal bitmap filter (element_at over a collected long[]
    // bitmap, zero broadcasts) was BUILT, MEASURED and REJECTED in r14:
    // the inlined 1024-word literals in every conjunct made the probe scan
    // measurably SLOWER than the broadcast hash probes they replaced
    // (bloom_join 4.0 → 8.4-9.5 s warm at sf0.1, taskSec 5.7 → 7.1).
    val pruned = {
      val bits = graft.sketch.Sketches.bloomBits(build, col(buildKey), k, mBits)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      graft.util.CacheLifecycle.releaseOnFirstAction(
        bloomPruneRows(probe, col(probeKey), bits, k, mBits), bits)
    }
    // alias both sides: with the common same-named key (probeKey ==
    // buildKey) unqualified col(...) refs would be ambiguous (or resolve
    // to one side), breaking the equi-join case this exists for
    val joined = pruned.as("__bp_probe")
      .join(build.as("__bp_build"),
        col(s"__bp_probe.$probeKey") === col(s"__bp_build.$buildKey"))
    // same-named keys: keep ONE key column (the probe's) so downstream
    // by-name references resolve — equal by the join predicate anyway
    if (probeKey == buildKey) joined.drop(col(s"__bp_build.$buildKey")) else joined
  }
}
