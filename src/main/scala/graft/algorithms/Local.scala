package graft.algorithms

import scala.collection.mutable

/**
 * Driver-local loop bodies for distillate-sized graphs — the in-JVM twins
 * of the distributed iterative algorithms in [[Algorithms]].
 *
 * THE GATE RULE (one place: `Algorithms.onDriver`): the edge frame the
 * local loop reads is persisted and read by ONE collect of at most
 * [[Algorithms.LocalGraphMaxEdges]] + 1 rows (session override
 * `graft.localGraphMaxEdges`; 0 forces the distributed loops), and each id
 * list by one collect of at most [[Algorithms.LocalGraphMaxVertices]] + 1
 * rows, deduplicated on the driver in first-seen order. An algorithm runs
 * here when the edge and id columns are BIGINT, no endpoint or id is NULL
 * and the collected lengths are within the caps: the edge cap tests the
 * rows the local loop reads (for components, hits, label propagation and
 * random walks the raw edges, which those loops dedup themselves) and the
 * vertex cap the rows collected, before the dedup. No count job runs; a
 * caller that already holds an exact edge count (the peel loop, SCC's
 * residual) passes it, and a graph known to be over the cap never
 * collects. The loop's answer is a local relation built on the driver.
 * A declined call has paid one bounded collect — at most cap + 1 rows, the
 * driver bound an accepted graph at the gate uses — which filled the edge
 * cache the distributed loop then reads; a 100 TB graph never collects
 * more than that.
 *
 * WHY (measured, round 13/14): on a graph of a few thousand vertices the
 * distributed loops are pure per-round JOB FLOOR — pagerank at sf0.1 is 92
 * Spark jobs / 32 task-seconds for a 30-vertex graph, ppr 113 jobs, mis 53
 * jobs — tens of scheduling round-trips for sub-second real work. So the
 * local side's own job floor is its collects, one per input.
 *
 * EQUIVALENCE CONTRACT (what makes the gate safe, per algorithm):
 *  - integer/lexicographic fixpoints (BFS levels, σ counts, k-core,
 *    k-truss, LPA argmax, MIS md5 priorities, md5-argmin walks, component
 *    and SCC min-id labels) are replicated round-for-round and are
 *    bit-exact by construction;
 *  - min-plus (SSSP) relaxes the same (dist + w) candidates round by
 *    round — every kept double is produced by the identical two-operand
 *    expression, so it is bit-exact too;
 *  - double-sum loops (PageRank family, HITS, betweenness δ) differ only
 *    in partial-sum ORDER (Spark's partial aggregation order is itself
 *    partition-dependent and the DuckDB oracle sums in yet another order);
 *    every published query rounds these to 6 decimals, and local-vs-
 *    distributed parity is spec-pinned plus oracle-verified at all SFs.
 *    The local loops sum in a canonical order — edges by (src, dst, w),
 *    vertices by id — so their bits do not depend on the collect order.
 *
 * Budget semantics are preserved: the local loops are LEVEL-SYNCHRONOUS
 * replicas of the distributed rounds and throw the same
 * [[Algorithms.BudgetExhausted]] at the same round counts. Each halting
 * rule is stated once per side of the gate: [[frontierLoop]] here twins
 * `Algorithms.frontierLoop`, and [[peel]] twins `Algorithms.peel`.
 */
private[graft] object Local {

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(d(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** The indices of `edges` in (src, dst, w) order — the canonical order
    * the double-sum loops ([[pageRank]], [[hits]], [[betweennessDeltas]])
    * sum in, so their bits do not depend on the collect order (partition
    * layout, or which identical cached plan served the collect). `w` is
    * parallel to `edges`, or empty. */
  private def canonicalOrder(edges: Array[(Long, Long)], w: Array[Double]): Array[Int] = {
    val order = Array.tabulate[Integer](edges.length)(Int.box)
    java.util.Arrays.sort(order, (a: Integer, b: Integer) => {
      val (i, j) = (a.intValue, b.intValue)
      var c = java.lang.Long.compare(edges(i)._1, edges(j)._1)
      if (c == 0) c = java.lang.Long.compare(edges(i)._2, edges(j)._2)
      if (c == 0 && w.nonEmpty) c = java.lang.Double.compare(w(i), w(j))
      c
    })
    order.map(_.intValue)
  }

  /** Dense vertex index + CSR out-adjacency (multiplicity preserved —
    * σ counting must see parallel edges exactly as the distributed join
    * does). Vertices = every id in `extraIds` plus every edge endpoint, in
    * first-seen order. `weights`, when given, are parallel to `edges`. */
  final class Csr(edges: Array[(Long, Long)], extraIds: Array[Long],
                  weights: Array[Double] = Array.emptyDoubleArray) {
    val idx = new mutable.LongMap[Int]()
    val ids = new mutable.ArrayBuffer[Long]()
    private def at(v: Long): Int =
      idx.getOrElseUpdate(v, { ids += v; ids.length - 1 })
    extraIds.foreach(at)
    edges.foreach { case (s, d) => at(s); at(d) }
    val n: Int = ids.length
    val deg = new Array[Int](n)
    edges.foreach { case (s, _) => deg(idx(s)) += 1 }
    val off: Array[Int] = {
      val o = new Array[Int](n + 1)
      var i = 0
      while (i < n) { o(i + 1) = o(i) + deg(i); i += 1 }
      o
    }
    /** Edge weights parallel to [[adj]] (empty when none were given). */
    val wt: Array[Double] = new Array[Double](if (weights.isEmpty) 0 else off(n))
    val adj: Array[Int] = {
      val a = new Array[Int](off(n))
      val fill = off.clone()
      var k = 0
      edges.foreach { case (s, d) =>
        val si = idx(s)
        if (wt.nonEmpty) wt(fill(si)) = weights(k)
        a(fill(si)) = idx(d); fill(si) += 1; k += 1
      }
      a
    }
    def outFrom(v: Int): Range = off(v) until off(v + 1)
    /** Reverse CSR, built on first use: the sources of the edges into each
      * vertex, in ascending source order (multiplicity preserved). */
    lazy val inOff: Array[Int] = {
      val o = new Array[Int](n + 1)
      adj.foreach(w => o(w + 1) += 1)
      var i = 0
      while (i < n) { o(i + 1) += o(i); i += 1 }
      o
    }
    lazy val inAdj: Array[Int] = {
      val a = new Array[Int](inOff(n))
      val fill = inOff.clone()
      for (v <- 0 until n; ei <- outFrom(v)) { val w = adj(ei); a(fill(w)) = v; fill(w) += 1 }
      a
    }
    def inTo(v: Int): Range = inOff(v) until inOff(v + 1)
  }

  /** The local twin of [[Algorithms]]' frontier loop, shared by
    * [[bfsLevels]], [[sssp]] and the per-source loops of [[bfsPerSource]],
    * [[sigmaCounts]] and [[betweennessDeltas]]: round `iter` replaces the
    * frontier by `round(frontier, iter)` until it is empty, and a frontier
    * still live at `maxIter` throws [[Algorithms.BudgetExhausted]]. After
    * each round a true `over` (a per-source caller's row cap, which
    * declines) stops the loop and returns false, unless that throw is due. */
  private def frontierLoop(algo: String, seed: Array[Int], maxIter: Int, over: => Boolean = false)(
      round: (Array[Int], Int) => Array[Int]): Boolean = {
    var frontier = seed
    var iter = 0
    while (frontier.nonEmpty) {
      if (iter >= maxIter) throw new Algorithms.BudgetExhausted(algo, maxIter)
      frontier = round(frontier, iter)
      iter += 1
      if (over && (frontier.isEmpty || iter < maxIter)) return false
    }
    true
  }

  /** The local twin of [[Algorithms]]' peel loop, shared by [[kCore]] and
    * [[kTruss]]: `pruned` keeps a subset of its input, so the fixpoint is
    * the first round whose survivor count is unchanged; a round budget
    * spent before it throws [[Algorithms.BudgetExhausted]]. */
  private def peel(algo: String, canon: Array[(Long, Long)], maxIter: Int)(
      pruned: Array[(Long, Long)] => Array[(Long, Long)]): Array[(Long, Long)] = {
    var e = canon
    var iter = 0
    var converged = e.isEmpty
    while (iter < maxIter && !converged) {
      val next = pruned(e)
      converged = next.length == e.length
      e = next
      iter += 1
    }
    if (!converged) throw new Algorithms.BudgetExhausted(algo, maxIter)
    e
  }

  /** Multi-source BFS levels — [[Algorithms.bfs]]'s fixpoint. */
  def bfsLevels(edges: Array[(Long, Long)], sources: Array[Long],
                maxIter: Int): Array[(Long, Int)] = {
    val g = new Csr(edges, sources)
    val level = Array.fill(g.n)(-1)
    val seed = sources.distinct.map(g.idx(_))
    seed.foreach(level(_) = 0)
    frontierLoop("bfs", seed, maxIter) { (frontier, iter) =>
      val next = new mutable.ArrayBuffer[Int]()
      frontier.foreach { v =>
        g.outFrom(v).foreach { ei =>
          val w = g.adj(ei)
          if (level(w) < 0) { level(w) = iter + 1; next += w }
        }
      }
      next.toArray
    }
    (0 until g.n).iterator.filter(level(_) >= 0)
      .map(i => (g.ids(i), level(i))).toArray
  }

  /** Per-source BFS levels — [[Algorithms.bfsPerSource]]. Returns None when
    * the accumulated (src, id, level) state would exceed `maxRows` (caller
    * falls back to the distributed loop, whose state is disk-backed) —
    * unless the tripping source's frontier is still live at `maxIter`: that
    * run throws [[Algorithms.BudgetExhausted]] here, as the distributed loop
    * would after `maxIter` more rounds of cluster work. */
  def bfsPerSource(edges: Array[(Long, Long)], sources: Array[Long],
                   maxIter: Int, maxRows: Long): Option[Array[(Long, Long, Int)]] = {
    val g = new Csr(edges, sources)
    val out = new mutable.ArrayBuffer[(Long, Long, Int)]()
    val level = new Array[Int](g.n)
    val distinctSrc = sources.distinct
    for (s <- distinctSrc) {
      java.util.Arrays.fill(level, -1)
      val si = g.idx(s)
      level(si) = 0
      out += ((s, s, 0))
      // cap checked per ROUND, not per completed source: one over-budget
      // source aborts mid-flood instead of first materializing its whole
      // reachability on the driver; a frontier live at maxIter throws
      // before the cap declines
      val done = frontierLoop("bfsPerSource", Array(si), maxIter, out.length > maxRows) {
        (frontier, iter) =>
          val next = new mutable.ArrayBuffer[Int]()
          frontier.foreach { v =>
            g.outFrom(v).foreach { ei =>
              val w = g.adj(ei)
              if (level(w) < 0) { level(w) = iter + 1; next += w; out += ((s, g.ids(w), iter + 1)) }
            }
          }
          next.toArray
      }
      if (!done) return None
    }
    Some(out.toArray)
  }

  /** Per-source BFS carrying shortest-path counts —
    * [[Algorithms.shortestPathCounts]]. σ is an exact long sum over the
    * level-(L−1) DAG parents; parallel edges multi-count, exactly as the
    * distributed frontier join does. */
  def sigmaCounts(edges: Array[(Long, Long)], sources: Array[Long],
                  maxIter: Int, maxRows: Long): Option[Array[(Long, Long, Int, Long)]] = {
    val g = new Csr(edges, sources)
    val out = new mutable.ArrayBuffer[(Long, Long, Int, Long)]()
    val level = new Array[Int](g.n)
    val sigma = new Array[Long](g.n)
    for (s <- sources.distinct) {
      java.util.Arrays.fill(level, -1)
      val si = g.idx(s)
      level(si) = 0; sigma(si) = 1L
      out += ((s, s, 0, 1L))
      // per-ROUND cap check and budget precedence — see [[bfsPerSource]]
      val done = frontierLoop("shortestPathCounts", Array(si), maxIter, out.length > maxRows) {
        (frontier, iter) =>
          val next = sigmaRound(g, level, sigma, frontier, iter + 1)
          next.foreach(w => out += ((s, g.ids(w), iter + 1, sigma(w))))
          next
      }
      if (!done) return None
    }
    Some(out.toArray)
  }

  /** One level of a per-source σ-BFS — [[sigmaCounts]] and
    * [[betweennessDeltas]]: every unvisited out-neighbour of `frontier`
    * gets level `lvl` and σ = Σ σ over its frontier parents. Returns the new
    * level's vertices in the candidate map's iteration order. */
  private def sigmaRound(g: Csr, level: Array[Int], sigma: Array[Long], frontier: Array[Int],
                         lvl: Int): Array[Int] = {
    val cand = new mutable.LongMap[Long]()
    frontier.foreach { v =>
      g.outFrom(v).foreach { ei =>
        val w = g.adj(ei)
        if (level(w) < 0) cand.update(w.toLong, cand.getOrElse(w.toLong, 0L) + sigma(v))
      }
    }
    val next = new mutable.ArrayBuffer[Int]()
    cand.foreach { case (wi, sg) =>
      val w = wi.toInt
      level(w) = lvl; sigma(w) = sg; next += w
    }
    next.toArray
  }

  /** Frontier Bellman–Ford — [[Algorithms.sssp]], `w` parallel to
    * `edges`. Round-synchronous: each round relaxes only edges out of last
    * round's improved set; every kept distance is produced by the identical
    * `dist + w` expression, so values are bit-equal to the distributed
    * loop's. */
  def sssp(edges: Array[(Long, Long)], w: Array[Double], sources: Array[Long],
           maxIter: Int): Array[(Long, Double)] = {
    val g = new Csr(edges, sources, w)
    val dist = new Array[Double](g.n)
    val has = new Array[Boolean](g.n)
    val seed = sources.distinct.map(g.idx(_))
    seed.foreach { v => dist(v) = 0.0; has(v) = true }
    frontierLoop("sssp", seed, maxIter) { (frontier, _) =>
      // min candidate per destination this round, then improve
      val cand = new mutable.LongMap[Double]()
      frontier.foreach { v =>
        g.outFrom(v).foreach { ei =>
          val nd = dist(v) + g.wt(ei)
          val k = g.adj(ei).toLong
          if (!cand.contains(k) || nd < cand(k)) cand.update(k, nd)
        }
      }
      val improved = new mutable.ArrayBuffer[Int]()
      cand.foreach { case (wi, nd) =>
        val v = wi.toInt
        if (!has(v) || nd < dist(v)) { dist(v) = nd; has(v) = true; improved += v }
      }
      improved.toArray
    }
    (0 until g.n).iterator.filter(has(_)).map(i => (g.ids(i), dist(i))).toArray
  }

  /** The PageRank family's one loop — [[Algorithms.pageRank]],
    * [[Algorithms.pageRankWeighted]] and [[Algorithms.personalizedPageRank]].
    * `vs` is distinct, `w` parallel to `edges`, and the teleport share
    * `p(v)` totals `mass` over `vs` (uniform: p = 1, mass = |vs|;
    * personalized: p = 1/|S| on the seeds, mass = 1). Ranks start at p and
    * iterate rank' = (1−d)·p + d·(contrib + dm·p / mass): contribs flow
    * (rank·w) / Σw out of every source whose total out-weight is positive,
    * and the dangling mass dm = mass − Σ rank over those sources. Vertices
    * = `vs` only: edges out of or into other ids carry nothing. Edges sum
    * in (src, dst, w) order and vertices in id order, whatever the input
    * order; the answer comes in id order. The expression order is each
    * variant's historical one (w = 1 and mass = 1 are exact). */
  def pageRank(vs: Array[Long], edges: Array[(Long, Long)], w: Array[Double],
               p: Long => Double, mass: Double, iters: Int,
               damping: Double): Array[(Long, Double)] = {
    val ids = vs.sorted
    val n = ids.length
    val idx = new mutable.LongMap[Int](n)
    ids.indices.foreach(i => idx.update(ids(i), i))
    val order = canonicalOrder(edges, w)
    val wsum = new mutable.LongMap[Double]()
    order.foreach { k =>
      val s = edges(k)._1
      wsum.update(s, wsum.getOrElse(s, 0.0) + w(k))
    }
    // the flowing edges, in canonical order (contribs sum in that order)
    val live = order.filter { k =>
      val (s, d) = edges(k)
      wsum(s) > 0 && idx.contains(s) && idx.contains(d)
    }
    val from = live.map(k => idx(edges(k)._1))
    val to = live.map(k => idx(edges(k)._2))
    val lw = live.map(w(_))
    val lsum = live.map(k => wsum(edges(k)._1))
    val hasOut = ids.map(v => wsum.getOrElse(v, 0.0) > 0)
    val pv = ids.map(p)
    var rank = pv.clone()
    var it = 0
    while (it < iters) {
      val contrib = new Array[Double](n)
      var k = 0
      while (k < live.length) { contrib(to(k)) += rank(from(k)) * lw(k) / lsum(k); k += 1 }
      var dm = mass
      var i = 0
      while (i < n) { if (hasOut(i)) dm -= rank(i); i += 1 }
      val next = new Array[Double](n)
      i = 0
      while (i < n) {
        next(i) = (1 - damping) * pv(i) + damping * (contrib(i) + dm * pv(i) / mass)
        i += 1
      }
      rank = next
      it += 1
    }
    ids.indices.map(i => (ids(i), rank(i))).toArray
  }

  /** HITS — [[Algorithms.hits]]: L1-normalized half-steps over the DEDUPED
    * edge set, summed in (src, dst) order; vertices = edge endpoints. */
  def hits(edges: Array[(Long, Long)], iters: Int): Array[(Long, Double, Double)] = {
    val e = canonicalOrder(edges, Array.emptyDoubleArray).map(edges).distinct
    val idx = new mutable.LongMap[Int]()
    val ids = new mutable.ArrayBuffer[Long]()
    def at(v: Long): Int = idx.getOrElseUpdate(v, { ids += v; ids.length - 1 })
    e.foreach { case (s, d) => at(s); at(d) }
    val n = ids.length
    var hub = Array.fill(n)(1.0)
    var auth = new Array[Double](n)
    var it = 0
    while (it < iters) {
      val aRaw = new Array[Double](n)
      e.foreach { case (s, d) => aRaw(idx(d)) += hub(idx(s)) }
      var as = 0.0
      var i = 0
      while (i < n) { as += aRaw(i); i += 1 }
      auth = aRaw.map(_ / as)
      val hRaw = new Array[Double](n)
      e.foreach { case (s, d) => hRaw(idx(s)) += auth(idx(d)) }
      var hs = 0.0
      i = 0
      while (i < n) { hs += hRaw(i); i += 1 }
      hub = hRaw.map(_ / hs)
      it += 1
    }
    (0 until n).map(i => (ids(i), hub(i), auth(i))).toArray
  }

  /** Synchronous LPA — [[Algorithms.labelPropagation]]: per round each
    * vertex adopts the most frequent label among its LABELED neighbors
    * (only `vs` members carry labels — the distributed neighbor-label join
    * is inner), ties to the SMALLEST label; no labeled neighbors keeps the
    * label. Exact integer argmax. */
  def lpa(vs: Array[Long], edges: Array[(Long, Long)], iters: Int): Array[(Long, Long)] = {
    val vIds = vs.distinct
    val sym = edges.filter(e => e._1 != e._2)
      .flatMap { case (s, d) => Seq((s, d), (d, s)) }.distinct
    val g = new Csr(sym, vIds)
    val inVs = new Array[Boolean](g.n)
    vIds.foreach(v => inVs(g.idx(v)) = true)
    var lab = Array.tabulate(g.n)(i => g.ids(i))
    var it = 0
    while (it < iters) {
      val next = lab.clone()
      var v = 0
      while (v < g.n) {
        if (inVs(v)) {
          val cnt = new mutable.LongMap[Long]()
          g.outFrom(v).foreach { ei =>
            val w = g.adj(ei)
            if (inVs(w)) { // unlabeled neighbors are invisible to the vote
              val l = lab(w)
              cnt.update(l, cnt.getOrElse(l, 0L) + 1L)
            }
          }
          if (cnt.nonEmpty) {
            var bestL = 0L; var bestC = -1L
            cnt.foreach { case (l, c) =>
              if (c > bestC || (c == bestC && l < bestL)) { bestL = l; bestC = c }
            }
            next(v) = bestL
          }
        }
        v += 1
      }
      lab = next
      it += 1
    }
    vIds.map(v => (v, lab(g.idx(v))))
  }

  /** Synchronous k-core peel — [[Algorithms.kCore]] round for round
    * (budget semantics preserved): drop all vertices under degree k each
    * round until the edge count is stable. Input must already be canonical
    * (a < b, deduped). Returns surviving incident vertex ids. */
  def kCore(canon: Array[(Long, Long)], k: Int, maxIter: Int): Array[Long] =
    peel("kCore", canon, maxIter) { e =>
      val deg = new mutable.LongMap[Long]()
      e.foreach { case (a, b) =>
        deg.update(a, deg.getOrElse(a, 0L) + 1L)
        deg.update(b, deg.getOrElse(b, 0L) + 1L)
      }
      e.filter { case (a, b) => deg(a) >= k && deg(b) >= k }
    }.flatMap { case (a, b) => Seq(a, b) }.distinct

  /** Synchronous k-truss peel — [[Algorithms.kTruss]] round for round:
    * per-edge triangle support via neighbor-set intersection, edges under
    * k−2 drop, until stable. Input canonical (a < b, deduped). */
  def kTruss(canon: Array[(Long, Long)], k: Int, maxIter: Int): Array[(Long, Long)] =
    peel("kTruss", canon, maxIter) { e =>
      val nbr = new mutable.LongMap[mutable.LongMap[Boolean]]()
      def add(v: Long, w: Long): Unit =
        nbr.getOrElseUpdate(v, new mutable.LongMap[Boolean]()).update(w, true)
      e.foreach { case (a, b) => add(a, b); add(b, a) }
      if (k == 2) e
      else e.filter { case (a, b) =>
        val na = nbr(a); val nb = nbr(b)
        val (small, big) = if (na.size <= nb.size) (na, nb) else (nb, na)
        var sup = 0L
        small.foreachKey { w => if (big.contains(w)) sup += 1 }
        sup >= k - 2
      }
    }

  /** Luby MIS with per-round md5 priorities —
    * [[Algorithms.maximalIndependentSet]] round for round: key(v) =
    * md5("round:v") ++ %020d(v); strict-min winners over ACTIVE neighbors,
    * winners' neighbors deactivate. Exact string comparison. */
  def mis(vs: Array[Long], edges: Array[(Long, Long)], maxIter: Int): Array[(Long, Boolean)] = {
    val vIds = vs.distinct
    val sym = edges.filter(e => e._1 != e._2)
      .flatMap { case (s, d) => Seq((s, d), (d, s)) }.distinct
    val adj = new mutable.LongMap[mutable.ArrayBuffer[Long]]()
    sym.foreach { case (s, d) =>
      adj.getOrElseUpdate(s, new mutable.ArrayBuffer[Long]()) += d }
    val inMis = new mutable.LongMap[Boolean]()
    var active: Array[Long] = vIds
    var round = 0
    var budget = maxIter
    while (active.nonEmpty) {
      if (budget <= 0) throw new Algorithms.BudgetExhausted("maximalIndependentSet", maxIter)
      budget -= 1; round += 1
      val activeSet = new mutable.LongMap[Boolean]()
      active.foreach(v => activeSet.update(v, true))
      val key = new mutable.LongMap[String]()
      active.foreach(v => key.update(v, md5Hex(s"$round:$v") + "%020d".format(v)))
      val winners = active.filter { v =>
        var minNk: String = null
        adj.get(v).foreach(_.foreach { w =>
          if (activeSet.contains(w)) {
            val nk = key(w)
            if (minNk == null || nk < minNk) minNk = nk
          }
        })
        minNk == null || key(v) < minNk
      }
      val dead = new mutable.LongMap[Boolean]()
      winners.foreach { v =>
        inMis.update(v, true); dead.update(v, true)
        adj.get(v).foreach(_.foreach(w => dead.update(w, true)))
      }
      active = active.filterNot(dead.contains)
    }
    vIds.map(v => (v, inMis.contains(v)))
  }

  /** Deterministic md5-argmin walks — [[Algorithms.randomWalks]]: next hop
    * minimizes md5("walkId:step:candidate") over the DEDUPED out-neighbor
    * set; sink vertices end the walk. */
  def randomWalks(edges: Array[(Long, Long)], seeds: Array[Long],
                  steps: Int): Array[(Long, Int, Long)] = {
    val e = edges.distinct
    val adj = new mutable.LongMap[mutable.ArrayBuffer[Long]]()
    e.foreach { case (s, d) =>
      adj.getOrElseUpdate(s, new mutable.ArrayBuffer[Long]()) += d }
    val out = new mutable.ArrayBuffer[(Long, Int, Long)]()
    for (seed <- seeds.distinct) {
      out += ((seed, 0, seed))
      var cur = seed
      var s = 1
      var alive = true
      while (s <= steps && alive) {
        adj.get(cur) match {
          case Some(nbrs) if nbrs.nonEmpty =>
            var bestH: String = null; var best = 0L
            nbrs.foreach { d =>
              val h = md5Hex(s"$seed:$s:$d")
              if (bestH == null || h < bestH || (h == bestH && d < best)) {
                bestH = h; best = d
              }
            }
            out += ((seed, s, best))
            cur = best
          case _ => alive = false
        }
        s += 1
      }
    }
    out.toArray
  }

  /** Brandes–Pich landmark betweenness — [[Algorithms.betweennessLandmark]]
    * after landmark selection: forward σ-BFS from each landmark (exact
    * longs), then the backward dependency sweep
    * δ(p) = σ(p) · Σ_w (1 + δ(w)) / σ(w) over the level-(L−1) DAG parents.
    * Edges are read in (src, dst) order. Returns Σ δ per vertex (the caller
    * scales by n/k). */
  def betweennessDeltas(edges: Array[(Long, Long)], landmarks: Array[Long],
                        maxIter: Int): mutable.LongMap[Double] = {
    val g = new Csr(canonicalOrder(edges, Array.emptyDoubleArray).map(edges), landmarks)
    val dsum = new mutable.LongMap[Double]()
    val level = new Array[Int](g.n)
    val sigma = new Array[Long](g.n)
    for (s <- landmarks.distinct) {
      java.util.Arrays.fill(level, -1)
      val si = g.idx(s)
      level(si) = 0; sigma(si) = 1L
      var levels = List(Array(si)) // per-level vertex lists, deepest first
      frontierLoop("betweennessLandmark", Array(si), maxIter) { (frontier, iter) =>
        val next = sigmaRound(g, level, sigma, frontier, iter + 1)
        if (next.nonEmpty) levels ::= next
        next
      }
      // backward sweep, deepest level first; delta at the deepest level is 0
      val delta = new Array[Double](g.n)
      levels.foreach { lvlVerts =>
        // record this level's deltas into the global per-id sum
        lvlVerts.foreach { w =>
          dsum.update(g.ids(w), dsum.getOrElse(g.ids(w), 0.0) + delta(w))
        }
        val lvl = level(lvlVerts(0))
        if (lvl >= 2) {
          // contributions flow to level lvl−1 parents only, once per
          // parallel edge (the distributed contrib join fans out per edge)
          val csum = new mutable.LongMap[Double]()
          lvlVerts.foreach { w =>
            val c = (1.0 + delta(w)) / sigma(w).toDouble
            g.inTo(w).foreach { re =>
              val p = g.inAdj(re)
              if (level(p) == lvl - 1) csum.update(p.toLong, csum.getOrElse(p.toLong, 0.0) + c)
            }
          }
          // δ(p) = σ(p) · csum for EVERY level-(lvl−1) vertex (0 if none)
          csum.foreach { case (pi, c) => delta(pi.toInt) = c * sigma(pi.toInt).toDouble }
        }
      }
    }
    dsum
  }

  /** Union-find components — [[Algorithms.connectedComponents]]: label =
    * MIN member id of each component, one (id, label) row per distinct
    * endpoint. */
  def componentLabels(es: Array[(Long, Long)]): Array[(Long, Long)] = {
    val idx = new mutable.LongMap[Int]()
    val ids = mutable.ArrayBuffer[Long]()
    def at(v: Long): Int = idx.getOrElseUpdate(v, { ids += v; ids.length - 1 })
    val parent = mutable.ArrayBuffer[Int]()
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    es.foreach { case (s, d) =>
      val (si, di) = (at(s), at(d))
      while (parent.length < ids.length) parent += parent.length
      val (rs, rd) = (find(si), find(di))
      if (rs != rd) parent(rd) = rs
    }
    while (parent.length < ids.length) parent += parent.length
    val minOf = new mutable.LongMap[Long]()
    var i = 0
    while (i < ids.length) {
      val r = find(i).toLong
      val v = ids(i)
      minOf.updateWith(r)(o => Some(o.fold(v)(math.min(_, v))))
      i += 1
    }
    Array.tabulate(ids.length)(j => (ids(j), minOf(find(j).toLong)))
  }

  /** Iterative Tarjan — [[Algorithms.stronglyConnectedComponents]]:
    * (id, min member id of its SCC) for every vertex of the distinct `vs`,
    * over the edges whose BOTH endpoints are in `vs`. */
  def sccLabels(vs: Array[Long], es: Array[(Long, Long)]): Array[(Long, Long)] = {
    val known = new mutable.LongMap[Boolean](vs.length)
    vs.foreach(known.update(_, true))
    val g = new Csr(es.filter { case (s, d) => known.contains(s) && known.contains(d) }, vs)
    val n = g.n
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new mutable.ArrayBuffer[Int]()
    val label = new Array[Long](n)
    var counter = 0
    // explicit DFS stack: (vertex, next child pointer)
    val dfsV = new mutable.ArrayBuffer[Int]()
    val dfsC = new mutable.ArrayBuffer[Int]()
    var root = 0
    while (root < n) {
      if (index(root) < 0) {
        dfsV += root; dfsC += g.off(root)
        index(root) = counter; low(root) = counter; counter += 1
        stack += root; onStack(root) = true
        while (dfsV.nonEmpty) {
          val v = dfsV.last
          if (dfsC.last < g.off(v + 1)) {
            val w = g.adj(dfsC.last)
            dfsC(dfsC.length - 1) += 1
            if (index(w) < 0) {
              index(w) = counter; low(w) = counter; counter += 1
              stack += w; onStack(w) = true
              dfsV += w; dfsC += g.off(w)
            } else if (onStack(w) && index(w) < low(v)) low(v) = index(w)
          } else {
            dfsV.remove(dfsV.length - 1); dfsC.remove(dfsC.length - 1)
            if (dfsV.nonEmpty && low(v) < low(dfsV.last)) low(dfsV.last) = low(v)
            if (low(v) == index(v)) { // v roots an SCC: pop it, label = min id
              var j = stack.length - 1
              var mn = Long.MaxValue
              while (stack(j) != v) { mn = math.min(mn, g.ids(stack(j))); j -= 1 }
              mn = math.min(mn, g.ids(v))
              while (stack.length > j) {
                val w = stack.remove(stack.length - 1)
                onStack(w) = false; label(w) = mn
              }
            }
          }
        }
      }
      root += 1
    }
    Array.tabulate(n)(j => (g.ids(j), label(j)))
  }
}
