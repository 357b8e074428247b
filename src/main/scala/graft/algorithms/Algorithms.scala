package graft.algorithms

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.util.CacheLifecycle.releaseOnFirstAction

/**
 * Iterative graph algorithms over edge DataFrames — the Spark-native story
 * for the reference's "raw kernel programs" entry point (BFS and SSSP as
 * semiring iterations, g4s-sparse/src/test/scala/.../grbv2/DocSpec.scala:31-101).
 *
 * Design for scale: each iteration is a shuffle join + partial aggregation;
 * frontiers/state are cached per iteration and the lineage is cut with
 * `localCheckpoint` every few rounds (the Spark-specific hazard SURVEY §7.4
 * calls out — without it the plan tree doubles per iteration). Graphs
 * under the driver-local gate skip the rounds: [[onDriver]] collects them
 * once and the fixpoint runs in-JVM ([[Local]] states the rule).
 */
object Algorithms {

  /** Vertex-count gate for the link predictors' explicit degree-table
    * broadcasts: ≤ 8 M vertices ≈ 128 MB of (id, deg) rows — comfortably
    * within executor/driver broadcast budgets; above it the hint is dropped
    * and AQE picks the join strategy from runtime sizes. */
  private val MaxBroadcastVertices: Long = 8L * 1024 * 1024

  /** Edge-count gate for [[stronglyConnectedComponents]]'s hop augmentation:
    * below it, e² / e³ shortcut edges are cheap accelerators; above it their
    * wedge-quadratic growth would dominate, so propagation stays 1-hop. */
  val SccAugMaxEdges: Long = 1L << 20

  /** Edge-count gate of the driver-local loops ([[Local]] states the rule,
    * [[onDriver]] applies it): at or below it the edge set collects (≤ ~32
    * MB of long pairs) and the fixpoint runs in-JVM — the per-round Spark
    * job floor is the whole cost of these loops on distillate-sized graphs
    * (measured: scc at sf0.1 = 252 jobs, 0.7 core-seconds of actual work).
    * Overridable per session via `graft.localGraphMaxEdges` (tests force 0
    * to exercise the distributed path on toy graphs). */
  val LocalGraphMaxEdges: Long = 2L * 1000 * 1000

  /** Vertex/seed-count cap of the driver-local loops: collected id arrays
    * stay ≤ ~64 MB. The edge gate alone does not bound the vertex set (a
    * billion isolated vertices over ten edges), so [[onDriver]] caps every
    * id list it collects too. */
  val LocalGraphMaxVertices: Long = 4L * 1000 * 1000

  /** Row cap for the local per-source BFS state (Σ per-source
    * reachability): past it the local run aborts and the distributed loop
    * — whose state is partitioned and disk-backed — takes over. 2^22 rows
    * of boxed (Long, Long, Int[, Long]) tuples ≈ 200 MB plus the
    * LocalRelation copy `toDF` builds — the budget a default-sized driver
    * actually has (r14's 2^24 allowed ~1 GB+ of driver state, the r14
    * advisory); checked INSIDE the per-source round loop so an
    * over-budget source aborts mid-flood instead of after completing. */
  val LocalStateMaxRows: Long = 1L << 22

  /** What [[onDriver]] hands the local loop: the edge frame's rows, in
    * collect order, and each id list deduplicated in first-seen order. */
  private final class Collected(rows: Array[Row], val ids: Seq[Array[Long]]) {
    lazy val pairs: Array[(Long, Long)] = rows.map(r => (r.getLong(0), r.getLong(1)))
    /** The edge frame's third column; None when a weight is NULL — the
      * distributed loop owns NULL semantics (dist + null → null, sums skip
      * nulls), so such inputs behave the same on both sides of the gate. */
    def weights: Option[Array[Double]] =
      if (rows.exists(_.isNullAt(2))) None else Some(rows.map(_.getDouble(2)))
  }

  private val gateLog = org.slf4j.LoggerFactory.getLogger(getClass)

  /** A driver-built answer's schema: non-nullable columns, the schema `toDF`
    * gives the same primitive tuples. */
  private def schemaOf(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (c, t) => StructField(c, t, nullable = false) })

  /**
   * The driver-local dispatch, the one place the gate rule of [[Local]]
   * lives. `e` holds the endpoints in its first two columns and each of
   * `ids` an `id` column. Unless the caller passes the exact row count
   * `edgeRows` of an already materialized `e`, the dispatch persists `e`
   * and reads it with one `limit(cap + 1)` collect; each id list is one
   * collect capped at [[LocalGraphMaxVertices]] + 1 rows. No count job
   * runs: the collected lengths are the gate test. When the graph passes,
   * `run` gets the rows, and its answer becomes a local relation with
   * schema `schema`; `e` is released, as it is when `run` throws (a local
   * [[BudgetExhausted]]). None means: run the distributed loop — `e` stays
   * persisted for it, its cache filled by the collect. A NULL endpoint or
   * id declines too (the distributed loops own NULL semantics). The side
   * taken, and what declined, is logged at DEBUG.
   */
  private def onDriver(e: DataFrame, ids: DataFrame*)(schema: StructType,
      edgeRows: Option[Long] = None)(run: Collected => Option[Array[_ <: Product]]): Option[DataFrame] = {
    val spark = e.sparkSession
    val cap = spark.conf.getOption("graft.localGraphMaxEdges").map(_.toLong).getOrElse(LocalGraphMaxEdges)
    def debug(msg: => String): Unit = if (gateLog.isDebugEnabled) gateLog.debug(msg)
    def decline(why: => String): Option[DataFrame] = {
      debug(s"driver-local gate declined (${schema.fieldNames.mkString(",")}): $why")
      None
    }
    // at most `n` + 1 rows, so a length over `n` is the cap test
    def bounded(df: DataFrame, n: Long): Array[Row] =
      df.limit(math.max(0L, math.min(n, Int.MaxValue - 1L) + 1).toInt).collect()
    def bigint(df: DataFrame, k: Int) = df.schema.take(k).forall(_.dataType == LongType)
    if (edgeRows.isEmpty) e.persist(StorageLevel.MEMORY_AND_DISK)
    if (!bigint(e, 2) || !ids.forall(i => bigint(i.select(col("id")), 1))) return decline("BIGINT")
    if (edgeRows.exists(_ > cap)) return decline(s"known count ${edgeRows.get} > edge cap $cap")
    val rows = bounded(e, cap)
    if (rows.length > cap) return decline(s"edge cap $cap, ${rows.length} rows collected")
    if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1))) return decline("NULL endpoint")
    val lists = ids.map { df =>
      val got = bounded(df.select(col("id")), LocalGraphMaxVertices)
      if (got.length > LocalGraphMaxVertices)
        return decline(s"vertex cap $LocalGraphMaxVertices, ${got.length} rows collected")
      if (got.exists(_.isNullAt(0))) return decline("NULL id")
      got.map(_.getLong(0)).distinct
    }
    val out = try run(new Collected(rows, lists)) catch { case x: Throwable => e.unpersist(false); throw x }
    if (out.isEmpty) return decline(s"local run, ${rows.length} edges")
    e.unpersist(false)
    debug(s"driver-local gate took the local loop (${schema.fieldNames.mkString(",")}): " +
      s"${rows.length} edges, ids ${lists.map(_.length).mkString(",")}")
    Some(spark.createDataFrame(out.get.toSeq.map(Row.fromTuple).asJava, schema))
  }

  /**
   * Thrown when an iterative algorithm exhausts its iteration budget before
   * reaching the fixpoint. Silent truncation was round 2's one latent
   * wrong-answer-at-scale defect: a graph deeper than `maxIter` would return
   * whatever partial state existed when the budget ran out — correct on the
   * 3-level test graph, silently wrong on a 64-node chain. Fail loudly
   * instead; callers that genuinely want partial state can catch and retry
   * with a larger budget.
   */
  final class BudgetExhausted(algo: String, maxIter: Int) extends IllegalStateException(
    s"$algo did not converge within maxIter=$maxIter iterations; " +
      s"raise maxIter — partial results would be silently wrong")

  /**
   * Per-chain iteration-state manager: persists every iteration's state,
   * truncates lineage with an EAGER `localCheckpoint` every `every` rounds,
   * and — because the eager checkpoint materializes the tip into its own
   * RDD blocks — unpersists all older iterations of the chain at that
   * point. Without the unpersist, a k-iteration algorithm leaks k cached
   * DataFrames into executor storage (measured: 18 lingering RDDs after one
   * 10-iteration PageRank), which accumulates across queries in a resident
   * session. A Cutter carries no halting rule: [[frontierLoop]] and
   * [[peel]] state theirs.
   */
  private final class Cutter(every: Int = 3) {
    private val pending = scala.collection.mutable.Buffer[DataFrame]()
    // CADENCE IS DELIBERATELY FIXED AND ITER-SYNCHRONIZED. Adaptive
    // cadences keyed to MEASURED lineage size were built and benchmarked
    // in round 13 and every variant regressed, for mechanical reasons
    // worth recording:
    //  - LONGER gaps (cut only when the tip's plan-DAG size crosses a
    //    threshold, ~4-6+ rounds apart): the loop's sibling chain
    //    (visited/state vs frontier) still references the round caches the
    //    cut just dropped (recompute), and every uncut union round adds a
    //    full partition set of map tasks to all downstream scans --
    //    graph_sigma 11.3->16.6 s, bfs_levels 1.8->3.9 s at sf0.1.
    //  - EARLIER cuts on a per-chain growth trigger: the paired Cutters
    //    DESYNCHRONIZE (one cuts at round k, the other at k+2), so each
    //    cut orphans cache entries the sibling's plans still walk --
    //    graph_sigma ~20 s, the whole BFS family +50-70%. The iter-keyed
    //    cadence keeps the pair cutting in the same round, which is what
    //    bounds recompute depth.
    //  - Raw-tree size probes are themselves hazardous: mutually
    //    referencing chains make TreeNode walks exponential in round
    //    count (driver OOM, reproduced).
    def apply(df: DataFrame, iter: Int): DataFrame = {
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      pending += cached
      if (iter % every == every - 1) {
        // eager: computes the chain now; the checkpoint RDD holds the data,
        // so every pending cache entry of this chain is now unreferenced
        val cp = cached.localCheckpoint(true)
        pending.foreach(_.unpersist(false)); pending.clear()
        cp
      } else cached
    }
    // Plain-persisted (never checkpointed) tips still pending at the end of
    // a run — up to `every` of them back the returned result's lineage.
    // Each algorithm hands these plus its edge caches to
    // releaseOnFirstAction, so the first caller action runs fully cached
    // and the session is left clean, or unpersists them at once when it
    // throws BudgetExhausted (localCheckpoint blocks are the one
    // exception: lineage-truncated, reclaimed by the ContextCleaner on GC).
    def leftovers: Seq[DataFrame] = pending.toList
  }

  /**
   * The frontier loop of [[bfs]], [[bfsPerSource]], [[shortestPathCounts]],
   * [[sssp]], [[betweennessLandmark]]'s forward pass and
   * [[stronglyConnectedComponents]]' coloring and sweep: frontier ⊕.⊗ A
   * until the frontier is empty, where only the semiring changes (the
   * reference's BFS and SSSP, DocSpec.scala:31-101). Round `iter` computes
   * `step(frontier, state, iter)`; an empty result halts the loop, anything
   * else is folded into the state by `absorb`. Both chains are cut by one
   * iteration-synchronized Cutter pair (see [[Cutter]] on why they must cut
   * in the same round).
   *
   * The halting test is a full `count()`, not `isEmpty`: the count fills
   * every partition of the persisted tip in one job, while `isEmpty`'s
   * take(1) fills only the partitions it scans, so the next round (or the
   * next cut) recomputes the rest from upstream.
   *
   * Every round, the empty one included, counts against `maxIter`, of which
   * a caller sharing one budget across loops has already `spent` some.
   * Returns the fixpoint state, the frames to release with it — `scratch`
   * plus both chains' pending tips — and the rounds run. When the budget
   * runs out they are released before [[BudgetExhausted]] is thrown.
   */
  private def frontierLoop(algo: String, seed: DataFrame, maxIter: Int, scratch: Seq[DataFrame],
      absorb: (DataFrame, DataFrame) => DataFrame = _.unionByName(_), spent: Int = 0)(
      step: (DataFrame, DataFrame, Int) => DataFrame): (DataFrame, Seq[DataFrame], Int) = {
    val cutF = new Cutter; val cutS = new Cutter
    var state = seed
    var frontier = seed
    var iter = 0
    var done = false
    while (spent + iter < maxIter && !done) {
      frontier = cutF(step(frontier, state, iter), iter)
      if (frontier.count() == 0L) done = true
      else state = cutS(absorb(state, frontier), iter)
      iter += 1
    }
    val held = scratch ++ cutF.leftovers ++ cutS.leftovers
    if (!done) { held.foreach(_.unpersist(false)); throw new BudgetExhausted(algo, maxIter) }
    (state, held, iter)
  }

  /** [[frontierLoop]]'s absorb for a frontier of improved values keyed by
    * `id`: they replace those vertices' rows ([[sssp]]'s distances and
    * [[stronglyConnectedComponents]]' colors). */
  private def replaceById(state: DataFrame, improved: DataFrame): DataFrame =
    state.join(improved.select("id"), Seq("id"), "left_anti").unionByName(improved)

  /**
   * One σ round of a per-source BFS over `e` (e_src, e_dst): σ sums over
   * the level-(L−1) DAG parents, and (src, id) pairs already visited drop.
   * [[shortestPathCounts]] and [[betweennessLandmark]] both run it.
   */
  private def sigmaStep(e: DataFrame)(frontier: DataFrame, visited: DataFrame, iter: Int): DataFrame =
    frontier.join(e, frontier("id") === col("e_src"))
      .select(col("src"), col("e_dst").as("id"), col("sigma"))
      .groupBy("src", "id").agg(sum("sigma").as("sigma"))
      .join(visited.select("src", "id"), Seq("src", "id"), "left_anti")
      .withColumn("level", lit(iter + 1))

  /**
   * Multi-source BFS levels: frontier ⊕.⊗ adjacency over the (lor, land)
   * semiring ≙ join + distinct (reference DocSpec.scala:31-53).
   *
   * @param edges (src BIGINT, dst BIGINT)
   * @param sources seed vertex ids as a 1-col DataFrame "id"
   * @return (id BIGINT, level INT) — minimum hop count from any source
   */
  def bfs(edges: DataFrame, sources: DataFrame, maxIter: Int = 100): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val local = onDriver(e, sources)(schemaOf("id" -> LongType, "level" -> IntegerType))(g =>
      Some(Local.bfsLevels(g.pairs, g.ids(0), maxIter)))
    if (local.nonEmpty) return local.get
    val (visited, held, _) = frontierLoop("bfs",
        sources.select(col("id")).distinct().withColumn("level", lit(0)), maxIter, Seq(e)) {
      (frontier, visited, iter) =>
        frontier.join(e, frontier("id") === e("src"))
          .select(col("dst").as("id")).distinct()
          .join(visited.select("id"), Seq("id"), "left_anti")
          .withColumn("level", lit(iter + 1))
    }
    releaseOnFirstAction(visited, held: _*)
  }

  /**
   * Per-source BFS levels: like [[bfs]], but each source tracks its own
   * visited set, so the result is the minimum hop count for every
   * (source, reachable vertex) PAIR — the kernel under Cypher
   * `shortestPath((a)-[:T*]->(b))`. The frontier key is (src, id); at scale
   * the state is O(Σ per-source reachability), the honest cost of all-pairs-
   * from-sources shortest paths — bound the source set, not the algorithm.
   *
   * @param edges (src BIGINT, dst BIGINT)
   * @param sources seed vertex ids as a 1-col DataFrame "id"
   * @return (src BIGINT, id BIGINT, level INT) — level ≥ 1 rows only appear
   *         for vertices actually reached; level 0 rows seed every source
   */
  def bfsPerSource(edges: DataFrame, sources: DataFrame, maxIter: Int = 100): DataFrame = {
    val e = edges.select(col("src").as("e_src"), col("dst").as("e_dst"))
    // the local run declines past [[LocalStateMaxRows]] of (src, id, level)
    // state: the distributed loop's state is disk-backed
    val local = onDriver(e, sources)(
        schemaOf("src" -> LongType, "id" -> LongType, "level" -> IntegerType))(g =>
      Local.bfsPerSource(g.pairs, g.ids(0), maxIter, LocalStateMaxRows))
    if (local.nonEmpty) return local.get
    val (visited, held, _) = frontierLoop("bfsPerSource", sources.select(col("id")).distinct()
        .select(col("id").as("src"), col("id"), lit(0).as("level")), maxIter, Seq(e)) {
      (frontier, visited, iter) =>
        frontier.join(e, frontier("id") === col("e_src"))
          .select(col("src"), col("e_dst").as("id")).distinct()
          .join(visited.select("src", "id"), Seq("src", "id"), "left_anti")
          .withColumn("level", lit(iter + 1))
    }
    releaseOnFirstAction(visited, held: _*)
  }

  /**
   * Harmonic centrality over directed edges: H(v) = Σ_{u ≠ v reachable from v}
   * 1 / d(v, u) — the closeness variant that handles disconnected graphs
   * gracefully (unreachable vertices contribute 0 instead of poisoning an
   * average). Built on [[bfsPerSource]]: one BFS state keyed (src, id), one
   * aggregation; seeds are pruned to vertices with an out-edge (the rest
   * score 0 via the final left join instead of carrying dead seed state
   * through every round).
   *
   * At scale the state is O(Σ per-source reachability) — the honest cost of
   * all-sources shortest paths; this exact form is the OPT-IN for graphs
   * small enough to afford it. The scale default is
   * [[harmonicLandmark]]: k sampled landmarks, O(k · reachability) state,
   * unbiased estimate.
   *
   * @param vertices (id) — vertices to report (no out-edges ⇒ 0.0)
   * @param edges (src, dst)
   * @return (id, harmonic DOUBLE)
   */
  def harmonicCentrality(vertices: DataFrame, edges: DataFrame, maxIter: Int = 100): DataFrame = {
    val vs = vertices.select(col("id")).distinct()
    val seeds = vs.join(edges.select(col("src").as("id")), Seq("id"), "left_semi")
    val h = bfsPerSource(edges, seeds, maxIter)
      .filter(col("level") > 0)
      .groupBy(col("src").as("id"))
      .agg(sum(lit(1.0) / col("level")).as("harmonic"))
    vs.join(h, Seq("id"), "left")
      .select(col("id"), coalesce(col("harmonic"), lit(0.0)).as("harmonic"))
  }

  /**
   * Landmark-approximated harmonic centrality — the Eppstein–Wang sampling
   * estimator (SODA'01, closeness variant) applied to H(v) = Σ_{u≠v}
   * 1/d(v,u): sample k landmark TARGETS uniformly and estimate
   *
   *   Ĥ(v) = (n/k) · Σ_{l ∈ L} 1/d(v, l)
   *
   * Each u ∈ V lands in a uniform k-subset L with probability k/n, so
   * E[Σ_{l∈L} 1/d(v,l)] = (k/n)·H(v) (the u = v term contributes 0 — BFS
   * never re-reaches its own seed) — the n/k scale makes it unbiased;
   * variance falls as 1/k.
   *
   * Landmark selection is md5-of-id order (the engine-portable uniform
   * device [[graft.ml.Similarity.ivfCentroids]] uses): deterministic, so an
   * external oracle reproduces the exact sample, and md5 of the decimal id
   * string is agreed byte-for-byte across engines.
   *
   * Mechanics: d(v → l) for ALL v at once = one per-source BFS over the
   * TRANSPOSED edges seeded at the k landmarks (a reversed BFS from l
   * reaches v at level d iff the original graph has a length-d path
   * v → l). State is O(k · reachability) — bounded by construction, the
   * 100×-scale default — vs the exact [[harmonicCentrality]]'s
   * O(Σ per-source reachability).
   *
   * @param vertices (id) — vertices to report (nothing reaches a landmark ⇒ 0.0)
   * @param edges (src, dst)
   * @param k landmark count (clamped to |vertices|; k = n degenerates to
   *          the exact harmonic with scale 1)
   * @return (id, harmonic DOUBLE) — estimate, exact when k = n
   */
  def harmonicLandmark(vertices: DataFrame, edges: DataFrame, k: Int,
                       maxIter: Int = 100): DataFrame = {
    require(k >= 1, s"harmonicLandmark needs k >= 1, got $k")
    val vs = vertices.select(col("id")).distinct()
    // n is needed as a plan scalar for the n/k scale; one vertex-count job.
    // The landmark sample itself is a distributed TakeOrdered (limit k over
    // the md5 order), never a full sort.
    val n = vs.count()
    val kk = math.min(k.toLong, math.max(n, 1L))
    val landmarks = vs
      .select(col("id"), md5(col("id").cast("string").cast("binary")).as("h"))
      .orderBy(col("h"), col("id")).limit(kk.toInt).select("id")
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    val h = bfsPerSource(rev, landmarks, maxIter)
      .filter(col("level") > 0) // level-0 seed rows are not distances
      .groupBy(col("id"))
      .agg(sum(lit(1.0) / col("level")).as("hsum"))
    vs.join(h, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("hsum"), lit(0.0)) * lit(n.toDouble / kk)).as("harmonic"))
  }

  /**
   * Landmark-sampled betweenness centrality — Brandes' dependency
   * accumulation (Brandes 2001) run from k deterministically sampled
   * sources, scaled n/k (the Brandes–Pich pivot estimator; unbiased for
   * the source sum). Exact all-sources betweenness is O(n·m) — a
   * non-starter at 100× scale; k landmarks bound the state at
   * O(k · reachability), the same contract as [[harmonicLandmark]], and
   * the md5 sample is deterministic so results stay oracle-checkable.
   *
   * Forward: the σ table of [[shortestPathCounts]], one multi-source BFS
   * keyed (src, id) carrying the shortest-path count — the same
   * [[sigmaStep]] in the same [[frontierLoop]], over this method's own
   * (not pre-partitioned) edge cache. Backward:
   * levels descend from the BFS depth; each round joins the current
   * level's dependency δ(w) to its DAG parents p:
   * δ(p) = σ(p) · Σ_w (1 + δ(w)) / σ(w). Rounds = 2 × BFS depth, each a
   * frontier-sized join — no full-graph pass after the BFS itself, and
   * the per-level filters read one cached (src, id, level, σ) state.
   *
   * @param vertices (id) — vertices to report (never interior ⇒ 0.0)
   * @param edges (src, dst) directed
   * @return (id, betweenness DOUBLE)
   */
  def betweennessLandmark(vertices: DataFrame, edges: DataFrame, k: Int,
                          maxIter: Int = 100): DataFrame = {
    require(k >= 1, s"betweennessLandmark needs k >= 1, got $k")
    val e = edges.select(col("src").as("e_src"), col("dst").as("e_dst"))
    // on the driver the vertex list collects whole: n, the md5-order
    // landmark sample and every vertex's row are read off it
    val local = onDriver(e, vertices)(StructType(Seq(
        StructField("id", LongType, vertices.schema("id").nullable),
        StructField("betweenness", DoubleType, nullable = false)))) { g =>
      val ids = g.ids(0)
      val kk = math.min(k, ids.length)
      val dsum = Local.betweennessDeltas(g.pairs,
        ids.sortBy(id => (Local.md5Hex(id.toString), id)).take(kk), maxIter)
      Some(ids.map(id => (id, dsum.getOrElse(id, 0.0) * (ids.length.toDouble / kk))))
    }
    if (local.nonEmpty) return local.get
    val vs = vertices.select(col("id")).distinct()
    val n = vs.count()
    if (n == 0) {
      e.unpersist(false)
      return vs.select(col("id"), lit(0.0).as("betweenness"))
    }
    val kk = math.min(k.toLong, n)
    val landmarks = vs
      .select(col("id"), md5(col("id").cast("string").cast("binary")).as("h"))
      .orderBy(col("h"), col("id")).limit(kk.toInt).select("id")
    val (visited, held, _) = frontierLoop("betweennessLandmark", landmarks
        .select(col("id").as("src"), col("id"), lit(0).as("level"), lit(1L).as("sigma")),
      maxIter, Seq(e))(sigmaStep(e))
    val vis = visited.persist(StorageLevel.MEMORY_AND_DISK)
    // max over an EMPTY visited set (zero-vertex graph → no landmarks) is
    // SQL null — treat as level 0 so the all-zeros path below returns the
    // (empty) result instead of an NPE at getInt
    val maxRow = vis.agg(max(col("level"))).head()
    val maxLevel = if (maxRow.isNullAt(0)) 0 else maxRow.getInt(0)
    if (maxLevel == 0) { // no landmark reaches anything: all zeros
      val zero = vs.select(col("id"), lit(0.0).as("betweenness"))
      return releaseOnFirstAction(zero, vis +: held: _*)
    }
    val cutB = new Cutter
    var curDelta = vis.filter(col("level") === maxLevel)
      .select(col("src"), col("id"), col("sigma"), lit(0.0).as("delta"))
    val parts = scala.collection.mutable.Buffer[DataFrame]()
    var lvl = maxLevel
    while (lvl >= 1) {
      parts += curDelta.select(col("id"), col("delta"))
      if (lvl > 1) {
        // each w at level lvl sends (1 + δ(w)) / σ(w) along its in-edges;
        // only DAG parents (level lvl-1, same source tree) receive it
        val contrib = curDelta
          .join(e, curDelta("id") === col("e_dst"))
          .select(col("src"), col("e_src").as("id"),
            ((lit(1.0) + col("delta")) / col("sigma")).as("c"))
          .groupBy("src", "id").agg(sum("c").as("csum"))
        val parent = vis.filter(col("level") === lvl - 1)
          .select(col("src"), col("id"), col("sigma"))
        curDelta = cutB(parent.join(contrib, Seq("src", "id"), "left")
          .select(col("src"), col("id"), col("sigma"),
            (coalesce(col("csum"), lit(0.0)) * col("sigma")).as("delta")),
          maxLevel - lvl)
      }
      lvl -= 1
    }
    val bc = parts.reduce(_.unionByName(_))
      .groupBy("id").agg(sum("delta").as("dsum"))
    val result = vs.join(bc, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("dsum"), lit(0.0)) * lit(n.toDouble / kk)).as("betweenness"))
    releaseOnFirstAction(result, vis +: (held ++ cutB.leftovers): _*)
  }

  /**
   * Maximal independent set by Luby's algorithm (Luby 1986) with
   * DETERMINISTIC per-round md5 priorities standing in for the RNG: each
   * round, an active vertex joins the MIS iff its priority key
   * (md5("round:id") ++ zero-padded id) is a strict minimum over its
   * ACTIVE neighbors (no active neighbor ⇒ trivial winner); winners'
   * neighbors deactivate. Fresh per-round hashes replay Luby's
   * re-randomization, so the expected round count stays O(log n), and the
   * priorities are engine-reproducible — an external oracle unrolls the
   * same rounds (the kcore fixed-unroll device). Each round is two
   * semi-joins + one aggregate + one anti-join over the ACTIVE subgraph —
   * state shrinks geometrically.
   *
   * @param vertices (id) — isolated vertices are always in the MIS
   * @param edges (src, dst), direction ignored, self-loops dropped
   * @return (id, in_mis BOOLEAN) for every vertex
   */
  def maximalIndependentSet(vertices: DataFrame, edges: DataFrame,
                            maxIter: Int = 50): DataFrame = {
    // self-loops dropped on BOTH legs: a reversed (v, v) would make v its
    // own neighbour, and v could never win
    val e0 = edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst"))
    val local = onDriver(e0, vertices)(schemaOf("id" -> LongType, "in_mis" -> BooleanType))(g =>
      Some(Local.mis(g.ids(0), g.pairs, maxIter)))
    if (local.nonEmpty) return local.get
    val vs = vertices.select(col("id")).distinct().localCheckpoint(true)
    // symmetrized from the gate's edge cache, released once checkpointed
    val sym = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    e0.unpersist(false)
    var active = vs
    val winnersAcc = scala.collection.mutable.Buffer[DataFrame]()
    var round = 0
    var budget = maxIter
    var live = active.count()
    while (live > 0) {
      if (budget <= 0) throw new BudgetExhausted("maximalIndependentSet", maxIter)
      budget -= 1; round += 1
      val h = active.withColumn("__k",
        concat(md5(concat_ws(":", lit(round), col("id"))),
          format_string("%020d", col("id")))).localCheckpoint(true)
      val eAct = sym.join(h.select(col("id").as("src")), Seq("src"), "left_semi")
      val nbrMin = eAct
        .join(h.select(col("id").as("dst"), col("__k").as("__nk")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min("__nk").as("__nmin"))
      val winners = h.join(nbrMin, Seq("id"), "left")
        .filter(col("__nmin").isNull || col("__k") < col("__nmin"))
        .select("id").localCheckpoint(true)
      val losers = sym.join(winners.select(col("id").as("src")), Seq("src"), "left_semi")
        .select(col("dst").as("id")).distinct()
      winnersAcc += winners
      active = active.join(winners, Seq("id"), "left_anti")
        .join(losers, Seq("id"), "left_anti").localCheckpoint(true)
      live = active.count()
    }
    val mis = winnersAcc.reduceOption(_.unionByName(_)).getOrElse(vs.filter(lit(false)))
    vs.join(mis.withColumn("in_mis", lit(true)), Seq("id"), "left")
      .select(col("id"), coalesce(col("in_mis"), lit(false)).as("in_mis"))
  }

  /**
   * Multi-source BFS carrying shortest-path COUNTS — the σ table of
   * Brandes' algorithm exposed as its own operator: for each source s and
   * each reachable vertex v, the hop distance and the number of distinct
   * shortest s→v paths. σ sums over the level-(L−1) DAG parents inside the
   * frontier aggregation, so the per-round cost is one frontier-sized join
   * + partial sum — identical plan shape to [[bfsPerSource]] plus one
   * aggregate column (and the same forward pass [[betweennessLandmark]]
   * runs before its dependency sweep).
   *
   * @param edges (src, dst) directed
   * @param sources seed vertices (σ(s, s) = 1 at level 0)
   * @return (src, id, level INT, sigma BIGINT)
   */
  def shortestPathCounts(edges: DataFrame, sources: DataFrame,
                         maxIter: Int = 100): DataFrame = {
    // The local loop replaces round 13's withLoopWidth narrow-shuffle
    // device (and its session-conf mutation, the round-13 advisory): the
    // regime where the narrow width won — tiny per-round sigma tables — is
    // exactly the at-or-under-gate regime, and above the gate the
    // data-sized width equaled the session width anyway. The gate's collect
    // fills e0's cache, and the distributed loop's pre-partitioned edge
    // cache repartitions from it — one evaluation of
    // the (often expensive: a lineitem self-join at the graph_sigma call
    // site) edge derivation. The local run declines past
    // [[LocalStateMaxRows]] of state, as in [[bfsPerSource]].
    val e0 = edges.select(col("src"), col("dst"))
    val local = onDriver(e0, sources)(schemaOf(
        "src" -> LongType, "id" -> LongType, "level" -> IntegerType, "sigma" -> LongType))(g =>
      Local.sigmaCounts(g.pairs, g.ids(0), maxIter, LocalStateMaxRows))
    if (local.nonEmpty) return local.get
    // cached PRE-PARTITIONED on the join key: every round's expansion join
    // then reads e exchange-free from cache (InMemoryRelation preserves
    // outputPartitioning) instead of re-shuffling the full edge table once
    // per level (filled from the e0 cache — no second derivation pass;
    // e0 is released with the other scratch caches on the first action)
    val e = e0.select(col("src").as("e_src"), col("dst").as("e_dst"))
      .repartition(col("e_src")).cache()
    // NOTE an explicit broadcast(frontier) hint in the σ step was measured
    // and REJECTED: each round then pays a driver collect + broadcast
    // rebuild of the frontier, while the shuffled join it replaces moves
    // only the cached 32-partition edge table — graph_sigma 11.9 → 17-22 s
    // at sf0.1. AQE already broadcast-converts when runtime sizes favor it.
    val (visited, held, _) = frontierLoop("shortestPathCounts", sources.select(col("id")).distinct()
        .select(col("id").as("src"), col("id"), lit(0).as("level"), lit(1L).as("sigma")),
      maxIter, Seq(e, e0))(sigmaStep(e))
    releaseOnFirstAction(visited, held: _*)
  }

  /**
   * Single-source(s) shortest path over (min, plus): frontier-based
   * Bellman–Ford (reference DocSpec.scala:55-101 iterates the full
   * `d ← d min.+ A` product; the frontier form reaches the same fixpoint
   * relaxing only edges out of vertices that improved last round — round 2
   * re-joined the ENTIRE distance vector against the ENTIRE edge table
   * every iteration AND paid a separate convergence anti-join per round,
   * 3× the join work on a 3-level graph; here an empty improved-set IS the
   * convergence signal, no extra probe).
   *
   * @param edges (src, dst, w DOUBLE)
   * @param sources (id) seeds at distance 0
   * @return (id, dist DOUBLE)
   */
  def sssp(edges: DataFrame, sources: DataFrame, maxIter: Int = 100): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w").cast("double").as("w"))
    // NULL weights fall through to the distributed loop: its semantics
    // (dist + null → null, nulls dropped by min over mixed groups, a null
    // dist row for null-only-reachable vertices) are not worth replicating
    // in-JVM, and r14's getDouble here CRASHED on them — same input must
    // behave identically above and below the gate (r15 advisory fix)
    val local = onDriver(e, sources)(schemaOf("id" -> LongType, "dist" -> DoubleType))(g =>
      g.weights.map(w => Local.sssp(g.pairs, w, g.ids(0), maxIter)))
    if (local.nonEmpty) return local.get
    // the improved set is the frontier; it replaces those vertices' rows
    val (dist, held, _) = frontierLoop("sssp",
        sources.select(col("id")).distinct().withColumn("dist", lit(0.0)), maxIter, Seq(e),
        replaceById) {
      (frontier, dist, _) =>
        frontier.join(e, frontier("id") === e("src"))
          .select(col("dst").as("id"), (col("dist") + col("w")).as("nd"))
          .groupBy("id").agg(min("nd").as("nd"))
          .join(dist, Seq("id"), "left_outer")
          .filter(col("dist").isNull || col("nd") < col("dist"))
          .select(col("id"), col("nd").as("dist"))
    }
    releaseOnFirstAction(dist, held: _*)
  }

  /**
   * Weakly connected components by alternating large-star/small-star
   * contraction (Kiveris et al., "Connected Components in MapReduce and
   * Beyond", SoCC 2014) — O(log n) rounds regardless of graph diameter
   * (round 2's HashMin needed O(diameter) rounds, so a 64-node chain
   * already exhausted the budget).
   *
   * Edges are kept oriented hi → lo, distinct, without self-loops. A round
   * is one eager `localCheckpoint` and no other Spark action; its three
   * shuffles are two window aggregates over `src` and the final distinct:
   *  - large-star (LS): over the symmetrized edges, for each node u
   *    re-point every neighbor v > u at m = min(Γ(u) ∪ {u}); duplicates
   *    are left for the round's distinct
   *  - small-star (SS): over LS's hi→lo output, connect u and all its
   *    (smaller) neighbors to m = min(Γ⁻(u) ∪ {u})
   * The window rows stream and spill, so a hub's neighborhood is never
   * gathered into one array.
   *
   * Halting test: the loop stops after the round whose input e is a fixpoint,
   * SS(LS(e)) = e — exactly the rounds set equality of input and output
   * took — and e is a fixpoint exactly when it is a star forest: no vertex
   * has two out-edges and none is both a source and a destination.
   *  - star forest ⇒ fixpoint: each star is centred at its minimum (edges
   *    point hi → lo). LS: a centre c has only larger neighbors, m = c, so
   *    it re-emits (v, c) for each leaf v; a leaf has no larger neighbor
   *    and emits nothing. SS then sees each leaf with the one out-edge
   *    (v, c) and emits (v, c) again. Both steps are the identity.
   *  - fixpoint ⇒ star forest: the alternating LS/SS loop of Kiveris et
   *    al. ends in stars, and the labels below have always read the
   *    fixpoint as one; a model of LS/SS agrees on every hi→lo edge set
   *    over up to 7 vertices and at every round of 20,000 random graphs
   *    and shuffled-id chains of 8–60 vertices.
   * Large-star's window counts the vertices breaking the star-forest shape
   * (an out-edge, mn < u, plus any second edge) on one row each, and
   * `observe` sums them inside the round's own checkpoint pass. A retried
   * task can only over-count: at most one extra round, never an early stop.
   *
   * @return (id, component BIGINT = min vertex id in the component) for
   *         every id in `vertices`
   */
  def connectedComponents(vertices: DataFrame, edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // CC is routinely fed a SMALL edge set (an LSH dedup's pair table, a
    // delta-contracted graph): the gate collects the raw edges — union-find
    // needs neither orientation nor dedup — and the vertex ids, and labels
    // every vertex on the driver (an id no edge touches is its own label)
    val raw = edges.select(col("src"), col("dst"))
    val nn = vertices.schema("id").nullable
    val local = onDriver(raw, vertices)(StructType(Seq(
        StructField("id", LongType, nn), StructField("component", LongType, nn)))) { g =>
      val label = scala.collection.mutable.LongMap(Local.componentLabels(g.pairs).toSeq: _*)
      Some(g.ids(0).map(v => (v, label.getOrElse(v, v))))
    }
    if (local.nonEmpty) return local.get
    // Every round is rooted at a lineage-free leaf: round 1 reads the
    // gate's edge cache and each later round the previous round's
    // checkpoint. CC is the algorithm routinely fed a deep upstream plan
    // (an LSH dedup pipeline's pair table), and until a checkpoint lands
    // every action re-walks that whole analyzed tree driver-side
    // (cache-lookup sameResult checks + re-analysis; r13 measured 40+ s of
    // jobless driver gaps on the minhash pair graph). Only the gate's
    // collect and round 1's checkpoint walk it; later rounds plan one
    // round's operators. The checkpoint blocks of dropped rounds are
    // reclaimed by the ContextCleaner as references lapse. An empty edge
    // set halts after round 1.
    val e0 = raw.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val byNode = Window.partitionBy("src")
    try {
      var e = e0
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        // large-star over the symmetrized neighborhood (no duplicate rows:
        // e is distinct and hi→lo, its reverse lo→hi)
        val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
          .select(col("src"), col("dst"), min("dst").over(byNode).as("mn"),
            count(lit(1)).over(byNode).as("deg"))
        // counted on each vertex's min-neighbor row: an out-edge (mn < src)
        // plus a second edge breaks the star-forest shape
        val halt = Observation()
        val ls = sym.observe(halt, count(when(col("dst") === col("mn") &&
            col("mn") < col("src") && col("deg") > 1, true)).as("nonStar"))
          .filter(col("dst") > col("src"))
          .select(col("dst").as("src"), least(col("src"), col("mn")).as("dst"))
        // small-star over the hi→lo orientation (large-star output is hi→lo
        // already: m ≤ u < v for every emitted (v, m)); each row (u, v)
        // emits both u and v re-pointed at u's minimum
        val next = ls.withColumn("m", min("dst").over(byNode))
          .select(explode(array(col("src"), col("dst"))).as("src"), col("m").as("dst"))
          .filter(col("src") =!= col("dst")).distinct()
          .localCheckpoint(true)
        if (iter == 0) raw.unpersist(false)
        // the optimizer drops the observation from a round over an empty
        // edge set, which has no vertex off the star shape
        converged = halt.get.getOrElse("nonStar", 0L) == 0L
        e = next
        iter += 1
      }
      if (!converged) throw new BudgetExhausted("connectedComponents", maxIter)
      // fixpoint = disjoint stars: one (v, componentMin) edge per non-root v
      vertices.select(col("id")).distinct()
        .join(e.select(col("src").as("id"), col("dst").as("component")), Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("component"))
    } finally raw.unpersist(false)
  }

  /**
   * Per-vertex triangle count over an undirected simple graph.
   *
   * Plan shape (the standard distributed wedge-closure join, not a matrix
   * cube): canonicalize each edge to lo→hi once, so every triangle
   * {a < b < c} is counted exactly once as the wedge a→b→c closed by a→c —
   * two shuffle joins on single keys plus one semi-join on the (x, z) pair,
   * no squaring of the adjacency matrix and no all-pairs anywhere. The wedge
   * table is the scale hazard (Σ deg²); at 100× the canonical orientation
   * keeps it bounded by ordering wedges through the middle vertex, the same
   * reason the classic MapReduce algorithm survives power-law graphs.
   *
   * @param vertices (id) — vertices to report (isolated ⇒ 0)
   * @param edges (src, dst), direction ignored, self-loops dropped
   * @return (id, triangles BIGINT)
   */
  def triangleCount(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val e = canonicalEdges(edges).cache()
    val tri = triangles(e)
    val perV = tri.select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    releaseOnFirstAction(
      vertices.select(col("id")).distinct()
        .join(perV, Seq("id"), "left")
        .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles")),
      e)
  }

  /**
   * Local clustering coefficient: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)),
   * 0 for degree < 2. Same wedge-closure core as [[triangleCount]] plus one
   * degree aggregation over the symmetrized edge set.
   *
   * @return (id, degree BIGINT, lcc DOUBLE)
   */
  def clusteringCoefficient(vertices: DataFrame, edges: DataFrame): DataFrame = {
    val e = canonicalEdges(edges).cache()
    val deg = e.select(col("a").as("id")).unionByName(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val perV = triangles(e).select(explode(array(col("x"), col("y"), col("z"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    releaseOnFirstAction(
      vertices.select(col("id")).distinct()
        .join(deg, Seq("id"), "left").join(perV, Seq("id"), "left")
        .select(col("id"), coalesce(col("degree"), lit(0L)).as("degree"),
          when(coalesce(col("degree"), lit(0L)) < 2, lit(0.0))
            .otherwise(lit(2.0) * coalesce(col("triangles"), lit(0L)) /
              (col("degree") * (col("degree") - lit(1)))).as("lcc")),
      e)
  }

  /** Degree at or above which a common-neighbor key counts as a hub and its
    * wedge pairs are generated via per-key block decomposition instead of a
    * single join partition (4096² ≈ 16.7 M pairs is where one straggler
    * partition starts to dominate a stage). */
  private val HubDegree = 4096L

  /**
   * All wedge triples (u, v, deg_w) with u < v through a common neighbor w,
   * from a symmetrized incidence list `sym(w, n)` and a degree table
   * `deg(w, deg)` — the shared pair-generation core of [[adamicAdar]] and
   * [[neighborhoodJaccard]].
   *
   * Skew device: keys with deg(w) ≥ `hubDeg` would put deg² pair-rows in a
   * single join partition (a power-law hub at deg 10⁶ is 10¹² pairs — AQE's
   * skew split only repartitions INPUT rows, it cannot split the output
   * explosion of one key). Hub keys instead take a per-key block
   * decomposition (the [[graft.ml.Similarity.nearDupPairs]] triangle-combo
   * device applied per key): each hub adjacency is hashed into `blocks`
   * buckets and every unordered bucket pair joins separately, so a hub's
   * pairs spread over `blocks` shuffle keys at the cost of replicating its
   * incidence rows (blocks+1)/2 times. Cold keys keep the plain self-join —
   * no replication, no extra shuffle.
   */
  private def wedgeTriples(sym: DataFrame, deg: DataFrame, degHint: DataFrame => DataFrame,
                           hubDeg: Long, blocks: Int, maxDeg: Long): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val inc = sym.join(degHint(deg), "w")
    // the caller measured the max degree in the same job as the broadcast
    // gate: with no hub anywhere, skip the hot branch entirely — no filter,
    // no second scan of the incidence join, no empty union leg
    if (maxDeg < hubDeg)
      return inc.as("l")
        .join(inc.as("r"), col("l.w") === col("r.w") && col("l.n") < col("r.n"))
        .select(col("l.n").as("u"), col("r.n").as("v"), col("l.deg").as("wdeg"))
    val cold = inc.filter(col("deg") < hubDeg)
    val hot = inc.filter(col("deg") >= hubDeg)
    val coldPairs = cold.as("l")
      .join(cold.as("r"), col("l.w") === col("r.w") && col("l.n") < col("r.n"))
      .select(col("l.n").as("u"), col("r.n").as("v"), col("l.deg").as("wdeg"))
    // unordered block pairs, orientation alternated for balance (each cross
    // pair lands in exactly one combo row; diagonal combos keep n_l < n_r)
    val combos = (for { i <- 0 until blocks; j <- i until blocks } yield
      if ((i + j) % 2 == 0) (i, j) else (j, i)).toDF("bx", "cby")
    val hl = hot.select(col("w"), col("n").as("ln"), col("deg"),
      pmod(xxhash64(col("n")), lit(blocks)).cast("int").as("bx"))
    val hr = hot.select(col("w").as("rw"), col("n").as("rn"),
      pmod(xxhash64(col("n")), lit(blocks)).cast("int").as("rby"))
    val hotPairs = hl.join(broadcast(combos), Seq("bx"))
      .join(hr, col("w") === col("rw") && col("cby") === col("rby"))
      .filter((col("bx") =!= col("rby") && col("ln") =!= col("rn")) ||
              (col("bx") === col("rby") && col("ln") < col("rn")))
      .select(least(col("ln"), col("rn")).as("u"),
        greatest(col("ln"), col("rn")).as("v"), col("deg").as("wdeg"))
    coldPairs.unionByName(hotPairs)
  }

  /**
   * Adamic–Adar link-prediction scores for NON-adjacent vertex pairs:
   * score(u,v) = Σ_{w ∈ Γ(u)∩Γ(v)} 1 / ln(deg w). The classic
   * common-neighbor measure, routed through each shared neighbor w — one
   * self-join of the symmetrized incidence list keyed on w (never an
   * all-pairs product), then an anti-join drops already-connected pairs.
   * At scale the join fan-out is Σ deg(w)², the same wedge bound as
   * [[triangleCount]]; power-law hubs take the [[wedgeTriples]] per-key
   * block decomposition, everything else the plain self-join.
   *
   * EAGER AT CALL TIME: the broadcast/hub gate runs one Spark job (a
   * 2-scalar agg over the persisted degree table) before returning, so this
   * is NOT a lazy plan-construction call — callers that build DataFrames
   * ahead of execution pay that job and hold the persisted deg table until
   * the first action releases it (or the expiry budget does,
   * [[graft.util.CacheLifecycle]]). The gate must be a measured number: a
   * static guess either mis-broadcasts a huge vertex set or forfeits the
   * broadcast on every small one. Same contract in [[neighborhoodJaccard]].
   *
   * @return (u, v, score DOUBLE) with u < v, only pairs with ≥1 common neighbor
   */
  def adamicAdar(edges: DataFrame, hubDeg: Long = HubDegree, blocks: Int = 8): DataFrame = {
    val e = canonicalEdges(edges).cache()
    val sym = e.select(col("a").as("w"), col("b").as("n"))
      .unionByName(e.select(col("b").as("w"), col("a").as("n")))
    // deg is vertex-sized but derives from sym (no size stats), so the
    // static planner would sort-merge — broadcast it explicitly so the
    // incidence list isn't sorted before the wedge self-join re-sorts it by
    // w anyway. The hint is GATED on a measured vertex count: a tractable
    // Σ deg² pair table does NOT bound the vertex count (1 B vertices of
    // degree ~2 has a modest wedge table but a deg table far past any
    // broadcast limit), so above the gate we fall back to a shuffle join
    // and let AQE size it. deg is persisted — the count and the join share
    // one computation — and released with the rest of the scratch.
    val deg = sym.groupBy("w").agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one gate job reads both the vertex count (broadcast gate) and the max
    // degree (hub-path gate) off the persisted degree table
    val gate = deg.agg(count(lit(1)).as("nv"), max(col("deg")).as("md")).first()
    val (nV, maxDeg) = (gate.getLong(0), if (gate.isNullAt(1)) 0L else gate.getLong(1))
    val degHint: DataFrame => DataFrame =
      if (nV <= MaxBroadcastVertices) broadcast(_) else identity
    val pairs = wedgeTriples(sym, deg, degHint, hubDeg, blocks, maxDeg)
      .select(col("u"), col("v"), (lit(1.0) / log(col("wdeg"))).as("s"))
      .groupBy("u", "v").agg(sum("s").as("score"))
    releaseOnFirstAction(
      pairs.join(e, pairs("u") === e("a") && pairs("v") === e("b"), "left_anti"), e, deg)
  }

  /**
   * Neighborhood-overlap (Jaccard) link prediction for NON-adjacent vertex
   * pairs: score(u,v) = |Γ(u)∩Γ(v)| / |Γ(u)∪Γ(v)|. Same shared-neighbor
   * join shape as [[adamicAdar]] — one self-join of the symmetrized
   * incidence list keyed on the common neighbor (never all-pairs), one
   * degree aggregate, an anti-join dropping already-connected pairs. The
   * union size comes from inclusion–exclusion (du + dv − inter), so no
   * second pair join is needed. Σ deg² wedge bound; AQE splits hub skew.
   *
   * @return (u, v, score DOUBLE) with u < v, only pairs with ≥1 common neighbor
   */
  def neighborhoodJaccard(edges: DataFrame, hubDeg: Long = HubDegree, blocks: Int = 8): DataFrame = {
    val e = canonicalEdges(edges).cache()
    val sym = e.select(col("a").as("w"), col("b").as("n"))
      .unionByName(e.select(col("b").as("w"), col("a").as("n")))
    // the wedge pair generation (hub-salted, shared with adamicAdar) carries
    // the O(Σ deg²) pair table; the vertex-count-sized degree table attaches
    // afterwards as two EXPLICIT broadcast joins (deg derives from sym, so
    // the static optimizer has no size stats and would otherwise sort-merge
    // the big side twice). Gated on a measured vertex count, as in
    // [[adamicAdar]]: a tractable pair table does not bound the vertex
    // count, so above the gate fall back to shuffle joins and let AQE size
    // them.
    val deg = sym.groupBy(col("n").as("id")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val gate = deg.agg(count(lit(1)).as("nv"), max(col("deg")).as("md")).first()
    val (nV, maxDeg) = (gate.getLong(0), if (gate.isNullAt(1)) 0L else gate.getLong(1))
    val degHint: DataFrame => DataFrame =
      if (nV <= MaxBroadcastVertices) broadcast(_) else identity
    val inter = wedgeTriples(sym, deg.select(col("id").as("w"), col("deg")), degHint,
        hubDeg, blocks, maxDeg)
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("inter"))
    val scored = inter
      .join(degHint(deg.select(col("id").as("u"), col("deg").as("du"))), "u")
      .join(degHint(deg.select(col("id").as("v"), col("deg").as("dv"))), "v")
      .select(col("u"), col("v"),
        (col("inter") / (col("du") + col("dv") - col("inter"))).as("score"))
    releaseOnFirstAction(
      scored.join(e, scored("u") === e("a") && scored("v") === e("b"), "left_anti"), e, deg)
  }

  /**
   * k-core membership: the maximal subgraph where every vertex has degree
   * ≥ k, by synchronous peeling — each round drops all vertices currently
   * under degree k and the edges touching them, until nothing changes.
   * Rounds are bounded by the peel depth (≤ degeneracy ordering length),
   * not the diameter; each round is one degree aggregation + two semi-joins.
   * The loop is [[peel]]'s: its per-round count fills the cache the next
   * round reads 4× (degree union twice, both semi-joins); an `exceptAll`
   * probe would shuffle both full edge sets every round for the same answer.
   *
   * DEGREE-DELTA peeling (maintain degrees incrementally, subtract dropped
   * edges' endpoint contributions, anti-join-prune by the removed set) was
   * BUILT, MEASURED and REJECTED in round 14: identical results (parity
   * suite green), but the extra per-round machinery (eager removed-set
   * checkpoint + count, tagged left joins, delta aggregation, a second
   * lineage-cut chain) made the forced-distributed loop 1.7× SLOWER at
   * sf0.1 (7.65 → 13.0 s) and showed no gain at sf1, where the co-supply
   * derivation dominates and the loop itself is distillate-sized (local
   * gate). The regime where fewer shuffled degree bytes could win (sf10+,
   * r13 telemetry 6,647 core-s) needs a measured experiment this sandbox
   * could not run to completion; do not re-land the delta loop without one.
   *
   * @return (id) — vertices of the k-core
   */
  def kCore(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 1, s"k-core needs k >= 1, got $k")
    peel("kCore", edges, maxIter)(
      (e, n) => onDriver(e)(schemaOf("id" -> LongType), Some(n))(g =>
        Some(Local.kCore(g.pairs, k, maxIter).map(Tuple1(_)))),
      // every k-core vertex (k ≥ 1) is incident to a surviving edge
      e => e.select(col("a").as("id")).unionByName(e.select(col("b").as("id"))).distinct()) { e =>
      val alive = e.select(col("a").as("id")).unionByName(e.select(col("b").as("id")))
        .groupBy("id").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("id")
      e.join(alive.select(col("id").as("a")), Seq("a"), "left_semi")
        .join(alive.select(col("id").as("b")), Seq("b"), "left_semi")
        .select("a", "b")
    }
  }

  /**
   * k-truss: the maximal subgraph where every edge participates in at
   * least k−2 triangles — the EDGE-cohesion analogue of [[kCore]]'s vertex
   * degree peel, and the standard community-core extractor one step
   * stronger than k-core (a k-truss is always inside the (k−1)-core).
   * Synchronous peel: each round computes per-edge triangle support via a
   * common-neighbor join and drops every edge under k−2, until the edge
   * count is stable.
   *
   * Each round is one wedge-shaped join (edge endpoints' neighbor lists
   * matched on the shared neighbor) — Σ deg² work like [[triangleCount]],
   * the honest cost of support counting; rounds are bounded by the peel
   * depth. Hub posture matches the link predictors' wedge discussion: a
   * power-law hub makes the support join skew-heavy, and AQE's skew-join
   * split is the mitigation at scale (the per-key block decomposition is
   * not replicated here because the peel re-derives supports every round —
   * salting would have to be re-applied per round for a marginal win).
   *
   * @param edges (src, dst), direction ignored, self-loops dropped
   * @return surviving canonical edges (a, b) with a < b
   */
  def kTruss(edges: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    require(k >= 2, s"k-truss needs k >= 2, got $k")
    peel("kTruss", edges, maxIter)(
      (e, n) => onDriver(e)(schemaOf("a" -> LongType, "b" -> LongType), Some(n))(g =>
        Some(Local.kTruss(g.pairs, k, maxIter))),
      identity) { e =>
      val nbr = e.select(col("a").as("v"), col("b").as("n"))
        .unionByName(e.select(col("b").as("v"), col("a").as("n")))
      // support(a,b) = |N(a) ∩ N(b)|: both endpoints' neighbor lists joined
      // on the common neighbor; edges with zero support produce no row and
      // drop implicitly (0 < k-2 for every legal k when k > 2; k = 2 keeps
      // every edge and converges immediately)
      val sup = e.as("e")
        .join(nbr.as("x"), col("e.a") === col("x.v"))
        .join(nbr.as("y"), col("e.b") === col("y.v") && col("x.n") === col("y.n"))
        .groupBy(col("e.a").as("a"), col("e.b").as("b"))
        .agg(count(lit(1)).as("sup"))
      if (k == 2) e
      else sup.filter(col("sup") >= k - 2).select("a", "b")
    }
  }

  /**
   * The peel loop of [[kCore]] and [[kTruss]]: the canonical edge set is
   * cached and counted, offered to the caller's driver-local `gate`, and
   * otherwise peeled round by round — `pruned` keeps a subset of its input,
   * so the fixpoint is exactly the round whose survivor count is unchanged.
   * That per-round `count()` on the freshly-persisted tip doubles as the
   * convergence probe AND fills its cache before the next round reads it.
   * Round `iter` is cut at index `iter + 1` (the edge cache took 0). `out`
   * reads the answer off the surviving edges; the pending tips are released
   * on its first action, or at once when [[BudgetExhausted]] is thrown (a
   * gate that answers or throws releases the edge cache itself).
   */
  private def peel(algo: String, edges: DataFrame, maxIter: Int)(
      gate: (DataFrame, Long) => Option[DataFrame], out: DataFrame => DataFrame)(
      pruned: DataFrame => DataFrame): DataFrame = {
    val cutter = new Cutter
    var e = cutter(canonicalEdges(edges), 0)
    var n = e.count()
    val local = gate(e, n)
    if (local.nonEmpty) return local.get
    var iter = 0
    var converged = n == 0
    while (iter < maxIter && !converged) {
      val next = cutter(pruned(e), iter + 1)
      val m = next.count()
      converged = m == n
      e = next
      n = m
      iter += 1
    }
    if (!converged) {
      cutter.leftovers.foreach(_.unpersist(false))
      throw new BudgetExhausted(algo, maxIter)
    }
    releaseOnFirstAction(out(e), cutter.leftovers: _*)
  }

  /**
   * Synchronous label propagation (community detection) with a FIXED round
   * count: every round, each vertex adopts the most frequent label among
   * its neighbors, ties broken toward the SMALLEST label; vertices with no
   * neighbors keep their current label. Labels initialize to the vertex id.
   *
   * Deliberately synchronous + fixed-round: async LPA (and convergence-
   * stopped sync LPA, which can oscillate on bipartite structures) is
   * run-order-dependent; this variant is deterministic, re-runnable, and
   * oracle-comparable. Each round is two shuffles — a neighbor-label count
   * (map-side combinable) and a `max_by` argmax per vertex — over the
   * symmetrized edge set, cached once.
   *
   * @param vertices (id) — vertices to report
   * @param edges (src, dst), direction ignored, self-loops dropped
   * @return (id, community BIGINT)
   */
  def labelPropagation(vertices: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // the local loop symmetrizes the raw edges itself
    val raw = edges.select(col("src"), col("dst"))
    val local = onDriver(raw, vertices)(schemaOf("id" -> LongType, "community" -> LongType))(g =>
      Some(Local.lpa(g.ids(0), g.pairs, iters)))
    if (local.nonEmpty) return local.get
    val cutter = new Cutter
    val e0 = raw.filter(col("src") =!= col("dst"))
    val sym = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .select(col("src").as("id"), col("dst").as("nb"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = cutter(vertices.select(col("id")).distinct()
      .withColumn("lab", col("id")), 0)
    for (i <- 1 to iters) {
      val cnt = sym.join(labels.select(col("id").as("nb"), col("lab")), "nb")
        .groupBy("id", "lab").agg(count(lit(1)).as("c"))
      // argmax by (count desc, label asc): max of (c, −lab) lexicographically
      val picked = cnt.groupBy("id")
        .agg(max_by(col("lab"), struct(col("c"), (-col("lab")).as("t"))).as("new_lab"))
      labels = cutter(labels.join(picked, Seq("id"), "left")
        .select(col("id"), coalesce(col("new_lab"), col("lab")).as("lab")), i)
    }
    releaseOnFirstAction(labels.select(col("id"), col("lab").as("community")),
      raw +: sym +: cutter.leftovers: _*)
  }

  /** lo→hi canonical orientation, self-loops dropped, deduped. */
  private def canonicalEdges(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("a"), greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** Ordered triangles (x < y < z) of a canonical lo→hi edge set. */
  private def triangles(e: DataFrame): DataFrame = {
    val wedges = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    wedges.join(e, wedges("x") === e("a") && wedges("z") === e("b"), "left_semi")
  }

  /**
   * PageRank, fixed iteration count (deterministic for oracle-less
   * cross-checks). Dangling mass is redistributed uniformly.
   *
   * @return (id, rank DOUBLE), ranks sum to ~numVertices
   */
  def pageRank(vertices: DataFrame, edges: DataFrame, iters: Int = 10, damping: Double = 0.85): DataFrame =
    uniformPageRank(vertices, edges.select(col("src"), col("dst")), weighted = false, iters, damping)

  /**
   * Edge-weighted PageRank: the walker at u follows edge (u, v, w) with
   * probability w / Σ w(u, ·) — the importance flow every co-occurrence /
   * affinity graph wants (an edge seen 50× should carry 50× the mass of a
   * singleton), degenerating exactly to [[pageRank]] on uniform weights.
   * Vertices whose outgoing weight sums to 0 (or with no out-edges) are
   * dangling and redistribute uniformly, as in the unweighted form.
   *
   * @param edges (src, dst, w) — w coerced to double; non-positive total
   *              out-weight makes the source dangling
   * @return (id, rank DOUBLE), ranks sum to ~|V|
   */
  def pageRankWeighted(vertices: DataFrame, edges: DataFrame,
                       iters: Int = 10, damping: Double = 0.85): DataFrame =
    uniformPageRank(vertices,
      edges.select(col("src"), col("dst"), col("w").cast("double").as("w")), weighted = true,
      iters, damping)

  /**
   * Personalized PageRank: random walks restart at the `sources` set instead
   * of uniformly, so ranks measure proximity to the sources — the standard
   * seeded-recommendation / related-entities primitive. Teleport vector
   * p(v) = 1/|S| for v ∈ S else 0; ranks initialize to p (total mass 1) and
   * iterate rank' = (1−d)·p + d·(contrib + danglingMass·p), which conserves
   * the unit mass exactly (dangling mass restarts at the sources, like every
   * walk). Fixed iteration count, deterministic — oracle-comparable via the
   * same unrolled-CTE device as [[pageRank]].
   *
   * @param sources restart vertices (rows absent from `vertices` are ignored)
   * @return (id, rank DOUBLE), ranks sum to ~1
   */
  def personalizedPageRank(vertices: DataFrame, edges: DataFrame, sources: DataFrame,
                           iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val noSeed = "personalizedPageRank needs at least one source present in `vertices`"
    // the edge derivation is persisted once: the gate's collect fills it
    val e0 = edges.select(col("src"), col("dst"))
    val local = onDriver(e0, vertices, sources)(schemaOf("id" -> LongType, "rank" -> DoubleType)) { g =>
      val vs = g.ids(0)
      val seeds = g.ids(1).toSet.intersect(vs.toSet)
      require(seeds.nonEmpty, noSeed)
      Some(Local.pageRank(vs, g.pairs, Array.fill(g.pairs.length)(1.0),
        id => if (seeds(id)) 1.0 / seeds.size else 0.0, 1.0, iters, damping))
    }
    if (local.nonEmpty) return local.get
    val v = vertices.select(col("id")).distinct().cache()
    val srcs = sources.select(col("id")).distinct()
      .join(v, Seq("id"), "left_semi").cache()
    val nS = srcs.count()
    if (nS == 0) Seq(v, srcs, e0).foreach(_.unpersist(false))
    require(nS > 0, noSeed)
    val p = v.join(srcs.withColumn("__p", lit(1.0 / nS)), Seq("id"), "left")
      .select(col("id"), coalesce(col("__p"), lit(0.0)).as("p")).cache()
    pageRankLoop(p, e0.withColumn("w", lit(1.0)), 1.0, iters, damping, v, srcs, p, e0)
  }

  /** [[pageRank]] and [[pageRankWeighted]]: teleport p = 1 on every
    * vertex, total mass |V|. `e` is (src, dst[, w]); unweighted edges flow
    * with w = 1. */
  private def uniformPageRank(vertices: DataFrame, e: DataFrame, weighted: Boolean,
                              iters: Int, damping: Double): DataFrame = {
    // the edge derivation can be expensive (a lineitem self-join at the
    // call sites) — onDriver persists it ONCE; the gate's collect fills the
    // cache and the distributed loop's out-weights and links both read it.
    // NULL weights fall through to the distributed loop (see [[sssp]] —
    // r14's getDouble here crashed on a null the distributed path
    // null-propagates through its sums; r15 advisory fix)
    val local = onDriver(e, vertices)(schemaOf("id" -> LongType, "rank" -> DoubleType)) { g =>
      val w = if (weighted) g.weights else Some(Array.fill(g.pairs.length)(1.0))
      val vs = g.ids(0)
      w.map(ws => Local.pageRank(vs, g.pairs, ws, _ => 1.0, vs.length, iters, damping))
    }
    if (local.nonEmpty) return local.get
    val v = vertices.select(col("id")).distinct().cache()
    val n = v.count()
    pageRankLoop(v.withColumn("p", lit(1.0)), if (weighted) e else e.withColumn("w", lit(1.0)),
      n.toDouble, iters, damping, v, e)
  }

  /**
   * The PageRank family's one distributed loop — the iteration of
   * [[Local.pageRank]] over `p` (id, p: teleport share, total `mass`) and
   * `e` (src, dst, w). Out-weights and links are cached once; `scratch`
   * (the caller's caches) is released with them on the first action.
   *
   * The dangling-mass term is a 1-row aggregate BROADCAST INTO the plan
   * (crossJoin of a singleton), not a driver-side `.first()`: a per-
   * iteration driver action is a synchronization barrier per round — 10
   * blocking round-trips whose latency (stragglers, CPU steal on shared
   * hosts) adds up; in-plan, the whole chain runs as one job per lineage
   * cut. Only the periodic eager checkpoints touch the driver.
   */
  private def pageRankLoop(p: DataFrame, e: DataFrame, mass: Double, iters: Int,
                           damping: Double, scratch: DataFrame*): DataFrame = {
    val outW = e.groupBy(col("src").as("id")).agg(sum("w").as("wsum"))
      .filter(col("wsum") > 0).cache()
    val links = e.select(col("src"), col("dst"), col("w"))
      .join(outW, col("src") === col("id")).drop("id").cache()
    links.count()
    val cutter = new Cutter
    var ranks = p.select(col("id"), col("p").as("rank"))
    for (i <- 0 until iters) {
      val contribs = links.join(ranks, links("src") === ranks("id"))
        .select(col("dst").as("id"), (col("rank") * col("w") / col("wsum")).as("c"))
        .groupBy("id").agg(sum("c").as("contrib"))
      val dangling = ranks.join(outW, Seq("id"), "left_semi")
        .agg((lit(mass) - sum("rank")).as("__dm"))
      val next = p.join(contribs, Seq("id"), "left_outer")
        .crossJoin(broadcast(dangling))
        .select(col("id"),
          (lit(1 - damping) * col("p") + lit(damping) *
            (coalesce(col("contrib"), lit(0.0)) + col("__dm") * col("p") / lit(mass))).as("rank"))
      ranks = cutter(next, i)
    }
    releaseOnFirstAction(ranks, scratch ++ Seq(outW, links) ++ cutter.leftovers: _*)
  }

  /**
   * Closeness centrality over directed edges: C(v) = r(v) / Σ_{u reachable
   * from v} d(v, u), where r(v) is the count of vertices reachable from v
   * (excluding v itself) — the reachable-set normalization that keeps
   * disconnected graphs meaningful (a vertex reaching nothing scores 0
   * rather than dividing by an undefined distance sum). Same per-source BFS
   * machinery and scale posture as [[harmonicCentrality]]: state is
   * O(Σ per-source reachability), the exact opt-in; use the landmark
   * estimators when that sum is unaffordable.
   *
   * @param vertices (id) — vertices to report (no out-edges ⇒ 0.0)
   * @param edges (src, dst)
   * @return (id, closeness DOUBLE)
   */
  def closenessCentrality(vertices: DataFrame, edges: DataFrame, maxIter: Int = 100): DataFrame = {
    val vs = vertices.select(col("id")).distinct()
    val seeds = vs.join(edges.select(col("src").as("id")), Seq("id"), "left_semi")
    val st = bfsPerSource(edges, seeds, maxIter)
      .filter(col("level") > 0)
      .groupBy(col("src").as("id"))
      .agg(count(lit(1)).cast("double").as("r"), sum(col("level")).as("sd"))
    vs.join(st, Seq("id"), "left")
      .select(col("id"), coalesce(col("r") / col("sd"), lit(0.0)).as("closeness"))
  }

  /**
   * Directed degree assortativity: the Pearson correlation, across edges,
   * between the source's out-degree and the destination's in-degree —
   * "do high-fanout vertices point at high-fanin vertices?" (Newman 2002's
   * assortativity coefficient, out-in variant). Two degree aggregations +
   * two joins + one corr — a single-pass graph summary statistic.
   *
   * @param edges (src, dst) — multi-edges count toward degrees
   * @return single row (assortativity DOUBLE); NULL when degenerate
   *         (fewer than two distinct degree pairs)
   */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.select("src", "dst")
    val out = e.groupBy(col("src").as("__o_id")).agg(count(lit(1)).as("odeg"))
    val in = e.groupBy(col("dst").as("__i_id")).agg(count(lit(1)).as("ideg"))
    // Pearson r assembled from covar/stddev rather than corr(): ANSI mode
    // (Spark 4 default) makes corr() raise DIVIDE_BY_ZERO on a degenerate
    // (zero-variance) side; SQL semantics — and the DuckDB oracle — return
    // NULL there instead.
    e.join(out, col("src") === col("__o_id"))
      .join(in, col("dst") === col("__i_id"))
      .agg(covar_samp(col("odeg").cast("double"), col("ideg").cast("double")).as("__c"),
        stddev_samp(col("odeg").cast("double")).as("__sx"),
        stddev_samp(col("ideg").cast("double")).as("__sy"))
      .select(when(col("__sx") > 0 && col("__sy") > 0,
        col("__c") / (col("__sx") * col("__sy"))).as("assortativity"))
  }

  /**
   * HITS hubs and authorities (Kleinberg 1999) with L1 normalization each
   * half-step: auth_i(d) = Σ_{s→d} hub_{i-1}(s) then scaled to sum 1;
   * hub_i(s) = Σ_{s→d} auth_i(d) then scaled to sum 1. Fixed iteration
   * count, deterministic — oracle-comparable by the same unrolled-CTE
   * device as [[pageRank]].
   *
   * Plan shape: the deduplicated edge list is cached once; each half-step
   * is one shuffle join + partial aggregation, and the normalizer is a
   * broadcast singleton folded into the plan (no per-iteration driver
   * action). L1 (sum) normalization rather than the classical L2 keeps the
   * scale factor a plain aggregate both here and in the SQL oracle.
   *
   * @param edges (src, dst) directed; duplicates collapse
   * @return (id, hub DOUBLE, auth DOUBLE) for every vertex incident to an
   *         edge; hub sums to 1 and auth sums to 1
   */
  def hits(edges: DataFrame, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"hits needs iters >= 1, got $iters")
    // the local loop dedups the raw edges itself
    val raw = edges.select(col("src"), col("dst"))
    val local = onDriver(raw)(schemaOf("id" -> LongType, "hub" -> DoubleType, "auth" -> DoubleType))(g =>
      Some(Local.hits(g.pairs, iters)))
    if (local.nonEmpty) return local.get
    val e = raw.distinct().cache()
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct().cache()
    // score frames are |V|-sized; under the broadcast gate each half-step
    // joins the CACHED edge list against a broadcast of the scores — the
    // edge side never re-shuffles (4 SMJ exchanges of |E| rows saved per
    // 2 iterations). Above the gate, AQE picks the strategy from runtime
    // sizes (the same device as the link predictors' degree tables).
    val small = nodes.count() <= MaxBroadcastVertices
    def hint(scores: DataFrame): DataFrame = if (small) broadcast(scores) else scores
    val cutter = new Cutter
    var hub = nodes.withColumn("hub", lit(1.0))
    var auth: DataFrame = null
    for (i <- 0 until iters) {
      val aRaw = e.join(hint(hub), e("src") === hub("id"))
        .groupBy(e("dst").as("id")).agg(sum("hub").as("a"))
      val aNorm = aRaw.agg(sum("a").as("__as"))
      val a = nodes.join(aRaw, Seq("id"), "left")
        .crossJoin(broadcast(aNorm))
        .select(col("id"), (coalesce(col("a"), lit(0.0)) / col("__as")).as("auth"))
      auth = cutter(a, 2 * i)
      val hRaw = e.join(hint(auth), e("dst") === auth("id"))
        .groupBy(e("src").as("id")).agg(sum("auth").as("h"))
      val hNorm = hRaw.agg(sum("h").as("__hs"))
      val h = nodes.join(hRaw, Seq("id"), "left")
        .crossJoin(broadcast(hNorm))
        .select(col("id"), (coalesce(col("h"), lit(0.0)) / col("__hs")).as("hub"))
      hub = cutter(h, 2 * i + 1)
    }
    val out = hub.join(auth, Seq("id"))
      .select(col("id"), col("hub"), col("auth"))
    releaseOnFirstAction(out, Seq(raw, e, nodes) ++ cutter.leftovers: _*)
  }

  /**
   * Deterministic fixed-length random walks — the corpus generator for
   * graph-embedding training (DeepWalk/node2vec's input stage re-expressed
   * for an external oracle): from each seed, `steps` hops where the next
   * vertex is the out-neighbor minimizing md5("walkId:step:candidate").
   * The hash plays the role of the RNG — uniform over the neighbor set,
   * independent across (walk, step), and byte-reproducible in any engine
   * that agrees on md5 of the decimal-string key (the same device as
   * [[harmonicLandmark]]'s sampling).
   *
   * Each step is one join on the current position + one min_by aggregate —
   * state is O(#walks), never O(graph); walks that reach a sink vertex
   * simply end (the join drops them). Lineage is cut on the Cutter cadence.
   *
   * @param edges (src, dst); duplicates collapse (a duplicate edge must not
   *              bias the pick — the hash is per candidate value)
   * @param seeds (id) walk start vertices; walk_id = seed id
   * @param steps hop count
   * @return (walk_id BIGINT, step INT, node BIGINT) — step 0 is the seed
   */
  def randomWalks(edges: DataFrame, seeds: DataFrame, steps: Int): DataFrame = {
    require(steps >= 0, s"randomWalks needs steps >= 0, got $steps")
    // the local loop dedups the raw edges itself
    val raw = edges.select(col("src"), col("dst"))
    val local = onDriver(raw, seeds)(
        schemaOf("walk_id" -> LongType, "step" -> IntegerType, "node" -> LongType))(g =>
      Some(Local.randomWalks(g.pairs, g.ids(0), steps)))
    if (local.nonEmpty) return local.get
    val e = raw.distinct().cache()
    e.count()
    val cutter = new Cutter
    var cur = seeds.select(col("id")).distinct()
      .select(col("id").as("walk_id"), lit(0).as("step"), col("id").as("node"))
    var walks = cur
    for (s <- 1 to steps) {
      val next = cur.join(e, cur("node") === e("src"))
        .select(col("walk_id"),
          col("dst"),
          md5(concat_ws(":", col("walk_id"), lit(s), col("dst"))).as("h"))
        .groupBy("walk_id")
        .agg(min_by(col("dst"), col("h")).as("node"))
        .withColumn("step", lit(s))
        .select("walk_id", "step", "node")
      cur = cutter(next, s - 1)
      walks = walks.unionByName(cur)
    }
    releaseOnFirstAction(walks, raw +: e +: cutter.leftovers: _*)
  }

  /**
   * Strongly connected components by trim + forward-max coloring + backward
   * sweep (the FW-BW/coloring family: Orzan 2004, as used by every
   * distributed SCC system since — Spark has no built-in SCC).
   *
   * Each outer round:
   *  1. TRIM — iteratively peel vertices with no in-edge or no out-edge in
   *     the live subgraph; each is its own singleton SCC. This removes the
   *     whole DAG periphery cheaply (and entirely solves acyclic graphs),
   *     which is what defuses the coloring algorithm's known worst case
   *     (a decreasing-id chain would otherwise peel one root per round).
   *  2. COLOR — propagate color(v) = max id u with a path u →* v to
   *     fixpoint (frontier-based: only improved colors re-propagate).
   *     Every color class has its root r (color(r) = r) live inside it.
   *  3. SWEEP — one multi-source backward BFS from all roots at once,
   *     restricted to same-colored vertices: the reached set of root r is
   *     exactly FW(r) ∩ BW(r) = SCC(r). Assign, remove, repeat on the rest.
   *
   * Rounds are bounded by the condensation's chain structure — typically
   * 1-2 on real graphs (one giant SCC + periphery); pathological inputs
   * hit the shared `maxIter` budget and fail loudly (BudgetExhausted)
   * rather than silently mislabeling. Every inner iteration (trim pass,
   * color propagation, sweep level) counts against the budget.
   *
   * Two scale/latency devices (the first implementation spent 27 s at
   * sf0.1 on ~200 sub-second jobs — pure round-count × job-latency):
   *  - HOP AUGMENTATION: color and sweep propagate over e ∪ e² ∪ e³
   *    (3 hops per round → 3× fewer rounds), computed once per outer
   *    round and only while |e| ≤ [[SccAugMaxEdges]] — augmentation is a
   *    pure accelerator (same fixpoints: max-over-reachability and
   *    backward reachability are closed under multi-hop edges; any
   *    intermediate vertex of a within-SCC path is itself in the SCC, so
   *    unrestricted 2/3-hop shortcuts never admit a wrong member). On a
   *    giant-SCC graph above the gate the quadratic wedge growth of e²
   *    would dominate, so big graphs propagate 1 hop at a time.
   *  - ONE ACTION PER ROUND: color and sweep are [[frontierLoop]] runs, so
   *    a round's one job is the count of its persisted DELTA (improved
   *    colors / sweep frontier), and every 3rd round the Cutter pair cuts
   *    both the delta and the accumulated state with an eager checkpoint —
   *    vs checkpointing the full state every round.
   *
   * @param vertices (id) — vertices to report (isolated ⇒ singleton SCC)
   * @param edges (src, dst) directed
   * @return (id, scc BIGINT = min member id of the component)
   */
  def stronglyConnectedComponents(vertices: DataFrame, edges: DataFrame,
                                  maxIter: Int = 200): DataFrame = {
    val vsAll = vertices.select(col("id")).distinct().localCheckpoint(true)
    var nodes = vsAll
    var e = edges.select("src", "dst").filter(col("src") =!= col("dst")).distinct()
      .join(nodes.select(col("id").as("src")), Seq("src"), "left_semi")
      .join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi")
      .localCheckpoint(true)
    // assigned (id, root): root is the coloring root (relabeled to min at the end)
    var assigned = nodes.filter(lit(false)).select(col("id"), col("id").as("root"))
    var assignedPending = 0
    def assign(delta: DataFrame): Unit = {
      assigned = assigned.unionByName(delta)
      assignedPending += 1
      if (assignedPending >= 8) { assigned = assigned.localCheckpoint(true); assignedPending = 0 }
    }
    var spent = 0 // rounds charged to the shared budget
    var live = nodes.count()
    // Finish the live graph with the in-JVM Tarjan when it passes the gate:
    // identical min-id components (the epilogue relabels to min either way)
    def tarjanOnDriver(eCount: Option[Long]): Unit = {
      val sel = e.select(col("src"), col("dst"))
      val labels = onDriver(sel, nodes)(schemaOf("id" -> LongType, "root" -> LongType), eCount)(g =>
        Some(Local.sccLabels(g.ids(0), g.pairs)))
      sel.unpersist(false) // a declined entry gate's cache: the loops read e
      labels.foreach { l =>
        assign(l)
        nodes = nodes.filter(lit(false)).localCheckpoint(true)
        live = 0L
      }
    }
    // ENTRY gate (round 14): the residual-tail gate below only fires after
    // the distributed trim loop has already paid its per-pass job floor; an
    // INITIAL graph that is already distillate-sized goes straight to Tarjan
    if (live > 0) tarjanOnDriver(None)
    // Small-state tail: once the live subgraph is tiny relative to the
    // cluster, per-round task-scheduling latency dominates the actual work
    // (measured 0.37 s/round on a 1868-node graph at 32 shuffle
    // partitions). Collapsing the iteration state to ONE partition makes
    // every join a single-task broadcast under AQE. Big graphs (> 1M live
    // vertices) keep full parallelism.
    def squeeze(df: DataFrame): DataFrame =
      if (live <= 1000000L) df.coalesce(1) else df
    while (live > 0) {
      // ---- 1. trim the DAG periphery, one peel layer per materialization.
      // (Composing several lazy passes per job looks tempting but each pass
      // references keep/e TWICE — the un-reused plan subtree doubles per
      // pass and analysis cost explodes exponentially; measured 6x slower.)
      // `keep` materializes every pass (its count decides the fixpoint),
      // and the shrinking edge set re-roots on it.
      var trimming = true
      while (trimming && live > 0) {
        if (spent >= maxIter) throw new BudgetExhausted("stronglyConnectedComponents", maxIter)
        spent += 1
        val hasIn = e.select(col("dst").as("id")).distinct()
        val hasOut = e.select(col("src").as("id")).distinct()
        val keep = squeeze(nodes.join(hasIn, Seq("id"), "left_semi")
          .join(hasOut, Seq("id"), "left_semi")).localCheckpoint(true)
        val kept = keep.count()
        if (kept == live) trimming = false
        else {
          assign(nodes.join(keep, Seq("id"), "left_anti")
            .select(col("id"), col("id").as("root")))
          nodes = keep
          live = kept
          e = squeeze(e.join(nodes.select(col("id").as("src")), Seq("src"), "left_semi")
            .join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi"))
            .localCheckpoint(true)
        }
      }
      if (live > 0) {
        // re-root the (possibly lazily filtered) edge set once for the
        // color/sweep loops, then build this round's hop augmentation
        e = squeeze(e).localCheckpoint(true)
        val eCount = e.count()
        // Residual-tail gate: the color/sweep machinery pays 2-4 jobs per
        // LEVEL; post-trim residuals are usually distillate-sized. Big
        // residuals keep the distributed loop; the gate re-checks every
        // outer round as `live` shrinks (post-trim every live vertex has
        // in- and out-degree ≥ 1, so live ≤ 2·eCount)
        tarjanOnDriver(Some(eCount))
        if (live > 0) {
          val eAug =
            if (eCount > SccAugMaxEdges) e
            else {
              val ab = e.select(col("src").as("a"), col("dst").as("b"))
              val bc = e.select(col("src").as("b"), col("dst").as("c"))
              val e2 = ab.join(bc, "b").select(col("a").as("src"), col("c").as("dst"))
                .filter(col("src") =!= col("dst")).distinct()
              val cd = e.select(col("src").as("c"), col("dst").as("d"))
              val e3 = e2.select(col("src").as("a"), col("dst").as("c")).join(cd, "c")
                .select(col("a").as("src"), col("d").as("dst"))
                .filter(col("src") =!= col("dst")).distinct()
              squeeze(e.unionByName(e2).unionByName(e3).distinct()).localCheckpoint(true)
            }
          // ---- 2. forward-max coloring to fixpoint over eAug: only
          // improved colors re-propagate, and they replace their rows
          val (color, colorHeld, colorRounds) = frontierLoop("stronglyConnectedComponents",
              squeeze(nodes.select(col("id"), col("id").as("color"))), maxIter, Seq.empty,
              replaceById, spent) { (frontier, color, _) =>
            squeeze(frontier.join(eAug, frontier("id") === col("src"))
              .groupBy(col("dst").as("id")).agg(max("color").as("nc"))
              .join(color, Seq("id"))
              .filter(col("nc") > col("color"))
              .select(col("id"), col("nc").as("color")))
          }
          spent += colorRounds
          // ---- 3. backward sweep from the roots, within each color class;
          // a throw here releases the coloring's tips with the sweep's own
          val roots = color.filter(col("color") === col("id")).select(col("id").as("root"))
          val (reached, held, sweepRounds) = frontierLoop("stronglyConnectedComponents",
              squeeze(roots.select(col("root"), col("root").as("id"))), maxIter, colorHeld,
              spent = spent) { (bf, reached, _) =>
            squeeze(bf.join(eAug, bf("id") === col("dst"))
              .select(col("root"), col("src").as("id")).distinct()
              .join(color, Seq("id"))
              .filter(col("color") === col("root")).drop("color")
              .join(reached, Seq("root", "id"), "left_anti"))
          }
          spent += sweepRounds
          val found = reached.select(col("id"), col("root")).localCheckpoint(true)
          held.foreach(_.unpersist(false))
          val c = found.count()
          assign(found)
          nodes = nodes.join(found.select("id"), Seq("id"), "left_anti").localCheckpoint(true)
          live -= c
          e = e.join(nodes.select(col("id").as("src")), Seq("src"), "left_semi")
            .join(nodes.select(col("id").as("dst")), Seq("dst"), "left_semi")
            .localCheckpoint(true)
        }
      }
    }
    // relabel each component to its minimum member id (stable, orderable)
    val minId = assigned.groupBy("root").agg(min("id").as("scc"))
    vsAll.join(assigned.join(minId, "root").select(col("id"), col("scc")), Seq("id"), "left")
      .select(col("id"), coalesce(col("scc"), col("id")).as("scc"))
  }

  /**
   * Newman modularity Q of a vertex partition over an undirected simple
   * graph: Q = W/m − S/(4m²) with m = |edges|, W = within-community edges,
   * S = Σ_c (Σ_{i∈c} deg i)². The partition-quality score behind community
   * detection ([[labelPropagation]] supplies the partition here).
   *
   * All three aggregates are INTEGER sums (exact, partition-order-free);
   * the one double expression evaluates over three scalars — deterministic
   * to the bit on any engine, which is what makes Q oracle-checkable. Scale
   * shape: two broadcast-friendly label joins on the edge list + combinable
   * groupBys; the three one-row aggregates broadcast into the final
   * expression, nothing collects.
   *
   * @param labels (id, community)
   * @param edges  directed edge rows; deduped to canonical a < b undirected
   *               form, self-loops dropped
   * @return one row (m, within_edges, q) — q rounded to 6
   */
  def modularity(labels: DataFrame, edges: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val la = labels.select(col("id").as("a"), col("community").as("__ca"))
    val lb = labels.select(col("id").as("b"), col("community").as("__cb"))
    val tagged = und.join(la, Seq("a")).join(lb, Seq("b"))
    val m = und.agg(count(lit(1)).as("m"))
    val w = tagged.filter(col("__ca") === col("__cb"))
      .agg(count(lit(1)).as("within_edges"))
    val deg = und.select(col("a").as("id")).unionByName(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__k"))
    val s = labels.join(deg, Seq("id"))
      .groupBy("community").agg(sum("__k").as("__vol"))
      .agg(sum(col("__vol") * col("__vol")).as("__s"))
    m.crossJoin(broadcast(w)).crossJoin(broadcast(s))
      .select(col("m"), col("within_edges"),
        round(col("within_edges").cast("double") / col("m")
          - col("__s").cast("double") / (lit(4.0) * col("m") * col("m")), 6).as("q"))
  }

  /**
   * Per-community conductance φ(c) = cut(c) / min(vol(c), 2m − vol(c)) over
   * an undirected simple graph — the community-level quality breakdown
   * [[modularity]] aggregates away (a community can hide inside a good
   * global Q). cut = edges with exactly one endpoint in c, vol = Σ degree.
   * Integer aggregates; one double expression per output row; the
   * whole-graph community (vol = 2m) reads NULL (no outside to cut to).
   *
   * Scale shape mirrors modularity: two label joins on the edge list,
   * combinable groupBys, a broadcast m singleton.
   *
   * @return (community, vol, cut, phi) — phi rounded to 6
   */
  /**
   * Incremental connected components: fold NEW edges into an existing
   * labeling without re-walking the old edge set — the graph sibling of
   * [[graft.events.EventOps.aggApply]]. New edges contract through the old
   * labels (endpoint → its component, absent endpoints stay themselves),
   * WCC runs over the CONTRACTED graph (old components + delta edges —
   * delta-sized work, the full edge history never re-joins), and the old
   * labeling composes through the result. Exact invariant (spec-pinned
   * and oracle-checked as `wcc_apply`):
   * `ccApply(cc(E₁), E₂) == cc(E₁ ∪ E₂)` — because labels are component
   * MINIMUM ids, and the min over a merged component equals the min over
   * its constituent old components' labels.
   *
   * @param oldComp (id, component) from [[connectedComponents]]
   * @return (id, component) over old ids ∪ new-edge endpoints
   */
  def connectedComponentsApply(oldComp: DataFrame, newEdges: DataFrame): DataFrame = {
    val m = oldComp.select(col("id"), col("component"))
    val contracted = newEdges.select(col("src"), col("dst"))
      .join(m.select(col("id").as("src"), col("component").as("__cs")), Seq("src"), "left")
      .join(m.select(col("id").as("dst"), col("component").as("__cd")), Seq("dst"), "left")
      .select(coalesce(col("__cs"), col("src")).as("src"),
        coalesce(col("__cd"), col("dst")).as("dst"))
    val members = m.select(col("component").as("id"))
      .unionByName(contracted.select(col("src").as("id")))
      .unionByName(contracted.select(col("dst").as("id"))).distinct()
    val comp2 = connectedComponents(members, contracted)
    val newIds = newEdges.select(col("src").as("id"))
      .unionByName(newEdges.select(col("dst").as("id"))).distinct()
      .join(m, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("component"))
    m.unionByName(newIds)
      .join(comp2.select(col("id").as("component"), col("component").as("__c2")),
        Seq("component"))
      .select(col("id"), col("__c2").as("component"))
  }

  /**
   * Directed-graph reciprocity: the fraction of (deduplicated, non-loop)
   * edges whose reverse edge also exists — the one-number answer to "is
   * this graph mutual or hierarchical" (follows vs citations). One
   * distinct + one self-semi-join on the reversed keys; scalar output.
   *
   * @return one row (edges BIGINT, reciprocal BIGINT, reciprocity rounded 6)
   */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rec = e.join(e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    val out = e.agg(count(lit(1)).as("edges"))
      .crossJoin(rec.agg(count(lit(1)).as("reciprocal")))
      .select(col("edges"), col("reciprocal"),
        round(col("reciprocal").cast("double") / col("edges"), 6).as("reciprocity"))
    graft.util.CacheLifecycle.releaseOnFirstAction(out, e)
  }

  def conductance(labels: DataFrame, edges: DataFrame): DataFrame = {
    val und = edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val la = labels.select(col("id").as("a"), col("community").as("__ca"))
    val lb = labels.select(col("id").as("b"), col("community").as("__cb"))
    val tagged = und.join(la, Seq("a")).join(lb, Seq("b"))
    val cut = tagged.filter(col("__ca") =!= col("__cb"))
      .select(explode(array(col("__ca"), col("__cb"))).as("community"))
      .groupBy("community").agg(count(lit(1)).as("cut"))
    val deg = und.select(col("a").as("id")).unionByName(und.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__k"))
    val vol = labels.join(deg, Seq("id"))
      .groupBy("community").agg(sum("__k").as("vol"))
    val m = und.agg(count(lit(1)).as("__m"))
    val denom = least(col("vol"), lit(2) * col("__m") - col("vol"))
    vol.join(cut, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("vol"),
        coalesce(col("cut"), lit(0L)).as("cut"),
        round(when(denom > 0,
          coalesce(col("cut"), lit(0L)).cast("double") / denom), 6).as("phi"))
  }
}
