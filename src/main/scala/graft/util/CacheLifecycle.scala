package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/**
 * Operator-owned scratch-cache lifecycle, shared by every operator family
 * that persists intermediate state (dedup shingle tables, iterative-
 * algorithm edge caches and iteration tips).
 */
object CacheLifecycle {

  /**
   * Unpersist each `scratch` frame after the first action that materializes
   * `result` (or a derivation of it) completes. Within that one action the
   * caches do their whole job — e.g. a dedup plan scans the shingle table
   * 2-3× (signatures, candidates, verify) and all scans after the first hit
   * the materialized blocks — but leaving them registered forever means a
   * long-lived session accumulates one scratch cache per operator call
   * (round 2's defect in the dedup family; the bench masked it by dropping
   * scratch RDDs between queries — a library must clean up after itself).
   *
   * Mechanism: a self-deregistering QueryExecutionListener keyed on the
   * result's analyzed plan via exprId-insensitive `sameResult` — any action
   * whose plan contains the result subtree (count, collect, write, or a
   * caller's projection of it) triggers the release. Listener callbacks are
   * async (listener-bus), so the unpersist lands shortly after the action
   * returns; subsequent actions on the same result simply recompute without
   * the cache (CacheManager substitution is per-action), trading repeat-use
   * speed for bounded memory — the right default for a library operator.
   *
   * Contract: `scratch` frames must be plain `persist`ed caches whose
   * lineage can recompute them. NEVER pass a `localCheckpoint`ed frame —
   * its lineage is truncated, so evicting its blocks loses the data
   * irrecoverably (checkpoint blocks are instead reclaimed by the
   * ContextCleaner once the frame is unreachable).
   *
   * A result that is constructed but never acted on cannot hold its
   * listener forever: each registered listener pays a `sameResult` tree-walk
   * on EVERY later query in the session, so abandoned results would
   * accumulate per-query overhead. After [[ExpiryBudget]] non-matching
   * query executions the listener gives up — it releases the scratch and
   * deregisters. That is safe by the recomputability contract above: if the
   * abandoned result IS acted on even later, it recomputes the scratch
   * lineage without the cache, which is the same behavior as the second
   * action on a released result.
   *
   * The budget counts EVERY query execution in the session — including
   * graft's own internal eager actions (per-round CC checkpoints/counts,
   * algorithm gate actions) — so a result built just before a long iterative
   * run can expire before its first action and silently recompute. Expiry
   * is therefore LOGGED (warn level), and a session that builds results
   * long before acting on them opts out with [[RetainScratchKey]].
   */
  private val ExpiryBudget = 256

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Session-conf opt-out: with `spark.graft.retainScratch=true` the scratch
    * caches are left registered and the caller owns their lifecycle
    * (`unpersist` / `spark.catalog.clearCache()`). For interactive or
    * bench-retry use where the same result is acted on repeatedly and the
    * recompute-after-release tradeoff is wrong. */
  val RetainScratchKey = "spark.graft.retainScratch"

  def releaseOnFirstAction(result: DataFrame, scratch: DataFrame*): DataFrame = {
    if (scratch.isEmpty) return result
    val spark = result.sparkSession
    if (spark.conf.getOption(RetainScratchKey).exists(_.toBoolean)) return result
    val target = result.queryExecution.analyzed
    // The bus may still deliver executions that ran before this call (an
    // iterative loop's rounds read the result's plan); one of them must not
    // release the scratch while the first action runs, or that action fills
    // caches no one releases. Executions are numbered in creation order: an
    // action on `result` runs its own execution or one created from now on.
    val own = result.queryExecution
    val fromNow = spark.range(0).queryExecution.id
    val listener = new QueryExecutionListener {
      // listener-bus delivery is single-threaded per listener → plain var
      private var remaining = ExpiryBudget
      private def maybeRelease(qe: QueryExecution): Unit = {
        if ((qe ne own) && qe.id < fromNow) return
        remaining -= 1
        val matched = qe.analyzed.exists(_.sameResult(target))
        if (remaining <= 0 || matched) {
          if (!matched) log.warn(
            s"releasing ${scratch.size} scratch cache(s) for a result not acted on within " +
              s"$ExpiryBudget query executions; its first action will recompute without them " +
              s"(set $RetainScratchKey=true to keep them)")
          scratch.foreach(_.unpersist(blocking = false))
          spark.listenerManager.unregister(this)
        }
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        maybeRelease(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        maybeRelease(qe)
    }
    spark.listenerManager.register(listener)
    result
  }
}
