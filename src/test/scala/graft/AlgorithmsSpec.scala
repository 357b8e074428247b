package graft

import graft.algorithms.{Algorithms, Local}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit

/**
 * Algorithm tests mirroring the reference's doc-tests (DocSpec.scala:31-101):
 * BFS neighbour expansion and SSSP over min-plus, plus WCC/PageRank sanity
 * on hand-computable fixtures.
 */
class AlgorithmsSpec extends SparkSpec {
  import spark.implicits._

  /** `f` with the driver-local gate's edge cap at `cap`. */
  private def withGate[A](cap: Long)(f: => A): A = {
    spark.conf.set("graft.localGraphMaxEdges", cap.toString)
    try f finally spark.conf.unset("graft.localGraphMaxEdges")
  }

  /** `f` with the driver-local gate forced off: the distributed loops run. */
  private def distributed[A](f: => A): A = withGate(0)(f)

  /** RDDs persisted since `before`, less localCheckpoint blocks when
    * `checkpoints` (lineage-truncated, reclaimed by the ContextCleaner on
    * GC); the release listener fires async on the listener bus — poll. */
  private def leakedSince(before: Set[Int], checkpoints: Boolean): Set[Int] = {
    def leaked = spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if !before(id) && !(checkpoints && rdd.isCheckpointed) => id
    }.toSet
    val deadline = System.currentTimeMillis() + 20000
    while (leaked.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    leaked
  }

  /** `result`'s rows and the Spark jobs of the call plus its first action,
    * after checking that the action left no algorithm scratch cache behind
    * and that a second action, without the caches, agrees. */
  private def releasedWithJobs(result: => DataFrame, checkpoints: Boolean = false): (Int, Set[Row]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (jobs, (df, first)) = jobsOf { val df = result; (df, df.collect().toSet) }
    val leaked = leakedSince(before, checkpoints)
    assert(leaked.isEmpty, s"algorithm scratch not released: RDDs $leaked, " +
      leaked.flatMap(spark.sparkContext.getPersistentRDDs.get).map(_.toDebugString).mkString("\n"))
    assert(df.collect().toSet == first)
    (jobs, first)
  }

  private def released(result: => DataFrame, checkpoints: Boolean = false): Set[Row] =
    releasedWithJobs(result, checkpoints)._2

  /** `f` on both sides of the gate: under the default (toy graphs run the
    * driver-local loops), then with it forced off. */
  private def bothSides[A](f: => A): (A, A) = (f, distributed(f))

  // reference DocSpec graph: 0→1→2→3, 0→2, 2→4 with weights
  private def wEdges = Seq(
    (0L, 1L, 2.0), (1L, 2L, 3.0), (0L, 2L, 7.0), (2L, 3L, 1.0), (2L, 4L, 5.0)
  ).toDF("src", "dst", "w")

  test("bfs levels from a single source") {
    val got = Algorithms.bfs(wEdges.select("src", "dst"), Seq(0L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 1, 3L -> 2, 4L -> 2))
  }

  test("sssp min-plus distances") {
    val got = Algorithms.sssp(wEdges, Seq(0L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // 0→1=2, 0→1→2=5 (beats direct 7), →3=6, →4=10
    assert(got == Map(0L -> 0.0, 1L -> 2.0, 2L -> 5.0, 3L -> 6.0, 4L -> 10.0))
  }

  test("connected components: two islands") {
    val vs = (0L to 6L).toDF("id")
    val es = Seq((0L, 1L), (1L, 2L), (4L, 3L), (5L, 4L)).toDF("src", "dst")
    val got = Algorithms.connectedComponents(vs, es)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 6L))
  }

  test("wcc on a 64-node chain: log-round star contraction beats diameter") {
    // HashMin needed O(diameter) rounds and silently truncated at 20 —
    // this chain (diameter 63) is exactly the graph that broke it
    val vs = (0L to 63L).toDF("id")
    val es = (0L until 63L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = Algorithms.connectedComponents(vs, es, maxIter = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 63L).map(_ -> 0L).toMap)
  }

  test("wcc handles shuffled ids, isolated vertices, and empty edge sets") {
    val vs = Seq(7L, 3L, 9L, 12L, 40L, 41L).toDF("id")
    val es = Seq((9L, 7L), (7L, 12L), (40L, 41L)).toDF("src", "dst")
    val got = Algorithms.connectedComponents(vs, es)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(7L -> 7L, 9L -> 7L, 12L -> 7L, 3L -> 3L, 40L -> 40L, 41L -> 40L))
    val none = Algorithms.connectedComponents(vs, es.filter($"src" < 0))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(none == Map(7L -> 7L, 3L -> 3L, 9L -> 9L, 12L -> 12L, 40L -> 40L, 41L -> 41L))
    // a NULL vertex id keeps its row and a NULL endpoint joins nothing, on
    // both sides of the gate (the driver-local side declines such inputs)
    val nv = Seq(Some(1L), Some(2L), Some(5L), None).toDF("id")
    val ne = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(5L))).toDF("src", "dst")
    val (nl, nd) = bothSides(Algorithms.connectedComponents(nv, ne).collect()
      .map(r => Option(r.get(0)) -> Option(r.get(1))).toSet)
    assert(nl == nd && nl == Set(Some(1L) -> Some(1L), Some(2L) -> Some(1L), Some(5L) -> Some(5L), None -> None))
  }

  test("wcc distributed rounds: the star-forest halting test stops where set equality did") {
    // round counts of the distributed loop, pinned on both sides of each
    // budget: the round whose input is already a star forest is the last
    distributed {
      def labels(es: Seq[(Long, Long)], maxIter: Int): Set[Long] =
        Algorithms.connectedComponents(
          es.flatMap(e => Seq(e._1, e._2)).distinct.toDF("id"), es.toDF("src", "dst"), maxIter)
          .collect().map(_.getLong(1)).toSet
      val chain = (0L until 63L).map(i => (i, i + 1))
      assert(labels(chain, maxIter = 7) == Set(0L))
      intercept[Algorithms.BudgetExhausted](labels(chain, maxIter = 6))
      // a star centred at its minimum is its own fixpoint: one round
      assert(labels((1L to 9L).map(i => (0L, i)), maxIter = 1) == Set(0L))
      // centred at its maximum: round 1 re-centres it at 0, round 2 halts
      val maxStar = (0L to 8L).map(i => (9L, i))
      assert(labels(maxStar, maxIter = 2) == Set(0L))
      intercept[Algorithms.BudgetExhausted](labels(maxStar, maxIter = 1))
    }
  }

  test("wcc distributed loop equals the local union-find on hubs, chains, duplicates, cliques") {
    val rnd = new scala.util.Random(17)
    val perm = rnd.shuffle((0L until 100L).toList).toIndexedSeq
    val shapes = Seq(
      // a hub (not the minimum) with 600 leaves; 1000..1004 are isolated
      "hub" -> ((0L until 600L).filter(_ != 250L).map(v => (250L, v)), 1000L to 1004L),
      "shuffled chain" -> ((0 until 99).map(i => (perm(i), perm(i + 1))), Seq(500L)),
      // both orientations, repeats, self-loops on a joined and a lone vertex
      "duplicates" -> (Seq((5L, 2L), (2L, 5L), (5L, 2L), (2L, 2L), (7L, 5L), (5L, 7L),
        (9L, 9L), (11L, 12L), (12L, 11L), (12L, 11L)), Seq(3L)),
      "two cliques" -> ((for (a <- 10L to 15L; b <- 10L to 15L if a < b) yield (a, b)) ++
        (for (a <- Seq(3L, 20L, 21L, 22L, 40L); b <- Seq(3L, 20L, 21L, 22L, 40L) if a > b)
          yield (a, b)), Seq(1L)))
    for ((name, (es, isolated)) <- shapes) {
      val expect = Local.componentLabels(es.toArray).toMap ++
        isolated.map(v => v -> v)
      val vs = (es.flatMap(e => Seq(e._1, e._2)) ++ isolated).distinct.toDF("id")
      val (l, d) = bothSides(Algorithms.connectedComponents(vs, es.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(d == expect, s"$name: distributed")
      assert(l == expect, s"$name: local gate")
    }
  }

  test("iterative algorithms fail loudly when the budget exhausts") {
    val vs = (0L to 15L).toDF("id")
    val chain = (0L until 15L).map(i => (i, i + 1)).toDF("src", "dst")
    val from0 = Seq(0L).toDF("id")
    // rounds R each loop needs on the chain 0→…→15: it passes at maxIter = R
    // and throws at R − 1, with the same R on both sides of the gate
    val loops: Seq[(String, Int, Int => DataFrame)] = Seq(
      // 15 levels, then the round whose frontier is empty
      ("bfs", 16, Algorithms.bfs(chain, from0, _)),
      ("bfsPerSource", 16, Algorithms.bfsPerSource(chain, from0, _)),
      ("shortestPathCounts", 16, Algorithms.shortestPathCounts(chain, from0, _)),
      ("sssp", 16, Algorithms.sssp(chain.withColumn("w", lit(1.0)), from0, _)),
      // k = n: every vertex is a landmark, and the BFS from 0 is the deepest
      ("betweennessLandmark", 16, Algorithms.betweennessLandmark(vs, chain, 16, _)),
      // the path loses its two end edges a round (15 → 13 → … → 1 → 0 in
      // 8 rounds); the 9th finds the count unchanged
      ("kCore", 9, Algorithms.kCore(chain, 2, _)),
      // no path edge is in a triangle: round 1 drops all, round 2 is stable
      ("kTruss", 2, Algorithms.kTruss(chain, 3, _)),
      // round 1's md5 winners and their neighbours leave some vertices
      // active; round 2 settles the rest
      ("maximalIndependentSet", 2, Algorithms.maximalIndependentSet(vs, chain, _)))
    def pin(loops: Seq[(String, Int, Int => DataFrame)]): Unit =
      for ((name, rounds, run) <- loops) withClue(s"$name, R = $rounds: ") {
        run(rounds).count()
        intercept[Algorithms.BudgetExhausted](run(rounds - 1).count())
      }
    bothSides(pin(loops))
    // the local Tarjan gate never exhausts a budget; the distributed SCC
    // shares one budget across its trim, coloring and sweep rounds. On the
    // chain of cycles 1⇄2→3⇄4→5⇄6 with tails 0→1 and 6→7: two trim passes
    // (0 and 7 peel, then none), two coloring rounds (the improving one,
    // then the empty one) and two sweep rounds
    val cycles = Seq((0L, 1L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L), (4L, 5L),
      (5L, 6L), (6L, 5L), (6L, 7L)).toDF("src", "dst")
    distributed(pin(Seq(("stronglyConnectedComponents", 6,
      Algorithms.stronglyConnectedComponents((0L to 7L).toDF("id"), cycles, _)))))
    // the local union-find gate never exhausts a budget — force the
    // distributed star-contraction loop to pin ITS budget behavior
    distributed(intercept[Algorithms.BudgetExhausted] {
      Algorithms.connectedComponents(vs, chain, maxIter = 1).count()
    })
    // and the same graph under an adequate budget is correct
    val lv = Algorithms.bfs(chain, Seq(0L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(lv == (0L to 15L).map(i => i -> i.toInt).toMap)
  }

  // K4 minus edge (2,3), plus pendant 5: triangles {0,1,2} and {0,1,3}
  private def triG = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (3L, 1L), (4L, 5L))
    .toDF("src", "dst")

  test("triangle count: per-vertex, direction-agnostic, isolated = 0") {
    val vs = (0L to 6L).toDF("id")
    val got = Algorithms.triangleCount(vs, triG)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 0L, 5L -> 0L, 6L -> 0L))
    // duplicate + reversed edges don't change the count
    val noisy = triG.unionAll(triG.select($"dst".as("src"), $"src".as("dst")))
    val got2 = Algorithms.triangleCount(vs, noisy)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == got)
  }

  test("clustering coefficient: closed ratios per vertex") {
    val vs = (0L to 5L).toDF("id")
    val got = Algorithms.clusteringCoefficient(vs, triG)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .map { case (id, d, l) => id -> ((d, math.rint(l * 1e6) / 1e6)) }.toMap
    // deg(0)=3 nbrs {1,2,3}: pairs 3, closed {1,2},{1,3} → 2/3
    assert(got(0L) == ((3L, math.rint(2.0 / 3 * 1e6) / 1e6)))
    assert(got(1L) == ((3L, math.rint(2.0 / 3 * 1e6) / 1e6)))
    assert(got(2L) == ((2L, 1.0)) && got(3L) == ((2L, 1.0)))
    assert(got(4L) == ((1L, 0.0)) && got(5L) == ((1L, 0.0))) // deg < 2 → 0
  }

  test("adamic-adar: scores via common neighbors, adjacent pairs excluded") {
    val got = Algorithms.adamicAdar(triG)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // non-adjacent pair (2,3): common neighbors {0, 1}, both deg 3
    assert(got.keySet == Set((2L, 3L)))
    assert(math.abs(got((2L, 3L)) - 2.0 / math.log(3.0)) < 1e-9)
  }

  test("neighborhood jaccard: overlap ratio via inclusion-exclusion, adjacent excluded") {
    val got = Algorithms.neighborhoodJaccard(triG)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // (2,3): Γ(2) = Γ(3) = {0,1} → |∩| = 2, |∪| = 2 + 2 − 2 = 2 → score 1.0
    assert(got == Map((2L, 3L) -> 1.0))
  }

  test("link predictors: hub-salted block path matches the plain self-join") {
    // star hub 0 -> {1..8} plus a triangle closing some pairs: with
    // hubDeg = 1 EVERY key routes through the block decomposition; results
    // must be identical to the all-cold path (hubDeg huge) for both
    // predictors, across block counts that do and don't divide the degrees
    val es = (1L to 8L).map(i => (0L, i)) ++ Seq((1L, 2L), (2L, 3L), (5L, 6L))
    val df = es.toDF("src", "dst")
    for (blocks <- Seq(2, 3, 8)) {
      val aaCold = Algorithms.adamicAdar(df, hubDeg = Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> math.rint(r.getDouble(2) * 1e9)).toMap
      val aaHot = Algorithms.adamicAdar(df, hubDeg = 1L, blocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> math.rint(r.getDouble(2) * 1e9)).toMap
      assert(aaHot == aaCold, s"adamicAdar blocks=$blocks")
      val njCold = Algorithms.neighborhoodJaccard(df, hubDeg = Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> math.rint(r.getDouble(2) * 1e9)).toMap
      val njHot = Algorithms.neighborhoodJaccard(df, hubDeg = 1L, blocks = blocks)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> math.rint(r.getDouble(2) * 1e9)).toMap
      assert(njHot == njCold, s"neighborhoodJaccard blocks=$blocks")
    }
  }

  test("k-core: peeling cascades; empty core; budget exhaustion throws") {
    // triangle {0,1,2} + tail 2-3-4: peeling the tail at k=2 cascades
    // (4 drops, then 3) before the fixpoint
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val core2 = Algorithms.kCore(es, 2).collect().map(_.getLong(0)).sorted
    assert(core2.toSeq == Seq(0L, 1L, 2L))
    assert(Algorithms.kCore(es, 3).isEmpty) // no 3-core anywhere
    intercept[Algorithms.BudgetExhausted] {
      Algorithms.kCore(es, 2, maxIter = 1).count()
    }
  }

  test("k-truss: clique survives, pendant triangle peels, k=2 keeps all") {
    // 4-clique (every edge in 2 triangles) + pendant triangle {4,5,6}
    // (each edge in 1): k=4 drops the triangle, keeps the clique
    val clique = for { i <- 1L to 4L; j <- (i + 1) to 4L } yield (i, j)
    val es = (clique ++ Seq((4L, 5L), (5L, 6L), (4L, 6L))).toDF("src", "dst")
    val t4 = Algorithms.kTruss(es, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t4 == clique.toSet)
    assert(Algorithms.kTruss(es, 3).count() == 9) // every edge in >= 1 triangle
    assert(Algorithms.kTruss(es, 5).isEmpty)      // no edge reaches support 3
    assert(Algorithms.kTruss(es, 2).count() == 9) // k=2 keeps everything
    intercept[Algorithms.BudgetExhausted] {
      // k=4 needs 2 rounds (peel the triangle, then verify stability)
      Algorithms.kTruss(es, 4, maxIter = 1).count()
    }
  }

  test("pagerank: sink chain ranks ordered, mass conserved") {
    val vs = (0L to 2L).toDF("id")
    val es = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val got = Algorithms.pageRank(vs, es, iters = 15)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(2L) > got(1L) && got(1L) > got(0L))
    assert(math.abs(got.values.sum - 3.0) < 0.05)
  }

  test("bfs on tpch graph: customers reach nations then regions") {
    val g = sources.TpchGraph(spark, SF)
    val customers = g.nodesByLabel("customer").select("id")
    val lv = Algorithms.bfs(g.edges.filter($"etype".isin("IN_NATION", "IN_REGION"))
      .select("src", "dst"), customers)
    val byLevel = lv.groupBy("level").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byLevel(1) == 25 && byLevel(2) == 5) // 25 nations, 5 regions
  }

  test("label propagation: disjoint triangles converge to min id; isolated keeps own") {
    val vs = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L),
                 (10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    val got = Algorithms.labelPropagation(vs, es, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
                      10L -> 10L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
    // iters = 0 is the identity labelling
    val id0 = Algorithms.labelPropagation(vs, es, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(id0.forall { case (k, v) => k == v })
  }

  test("harmonic centrality: inverse-distance sums, sinks and isolated score 0") {
    // 0→1→2 with shortcut 0→2: H(0) = 1/1 + 1/1 = 2 (shortcut wins),
    // H(1) = 1, H(2) = 0 (sink), H(9) = 0 (isolated)
    val vs = Seq(0L, 1L, 2L, 9L).toDF("id")
    val es = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("src", "dst")
    val got = Algorithms.harmonicCentrality(vs, es)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 2.0, 1L -> 1.0, 2L -> 0.0, 9L -> 0.0))
  }

  test("landmark harmonic: k = n degenerates to the exact harmonic (scale 1)") {
    val vs = Seq(0L, 1L, 2L, 9L).toDF("id")
    val es = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("src", "dst")
    val exact = Algorithms.harmonicCentrality(vs, es)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // with all n vertices as landmarks the estimator's sum IS the exact sum
    // and the n/k scale is 1 — a semantic pin on the unbiasedness algebra
    val full = Algorithms.harmonicLandmark(vs, es, k = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(full == exact)
    // k beyond n clamps (no inflation of the scale factor)
    val over = Algorithms.harmonicLandmark(vs, es, k = 100)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(over == exact)
  }

  test("landmark harmonic: k < n matches the hand-computed md5-order sample") {
    // chain 0→1→2→3. md5 of decimal id strings orders the sample
    // deterministically — replicate the selection here, then the estimate:
    // Ĥ(v) = (n/k) · Σ_{l ∈ L} 1/d(v, l) over the k chosen landmark targets
    val vs = Seq(0L, 1L, 2L, 3L).toDF("id")
    val es = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val k = 2
    val landmarks = (0L to 3L)
      .sortBy { id =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
        (d.map("%02x".format(_)).mkString, id)
      }
      .take(k).toSet
    def dist(v: Long, l: Long): Option[Long] = if (l > v) Some(l - v) else None // chain distance
    val expected = (0L to 3L).map { v =>
      v -> (0L to 3L).filter(landmarks).flatMap(l => dist(v, l))
        .map(d => 1.0 / d).sum * (4.0 / k)
    }.toMap
    val got = Algorithms.harmonicLandmark(vs, es, k = k)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == expected)
  }

  test("personalized pagerank: restarts at the seed, dangling mass returns to it") {
    // 0 → 1, seed {0}, d = 0.85. Hand-computed:
    //   r0 = (1, 0)
    //   r1(0) = 0.15·1 + 0.85·(0 + dm·1), dm = 1 − r0(0) = 0      → 0.15
    //   r1(1) = 0.85·(r0(0)/1)                                    → 0.85
    //   r2(0) = 0.15 + 0.85·(0 + (1 − r1(0))·1) = 0.15 + 0.7225   → 0.8725
    //   r2(1) = 0.85·(r1(0)/1) = 0.85·0.15                        → 0.1275
    val vs = Seq(0L, 1L).toDF("id")
    val es = Seq((0L, 1L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("id")
    val got = Algorithms.personalizedPageRank(vs, es, seeds, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(got(0L) - 0.8725) < 1e-12 && math.abs(got(1L) - 0.1275) < 1e-12)
    // mass conserved at 1 and concentrated near the seed
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
    // a seed absent from `vertices` is ignored; an empty effective seed set throws
    intercept[IllegalArgumentException] {
      Algorithms.personalizedPageRank(vs, es, Seq(42L).toDF("id"), iters = 1)
    }
  }

  test("algorithm scratch caches are released after the first materializing action") {
    // Each input stays short of the Cutter's first localCheckpoint (every 3
    // rounds), so every persisted frame — edge caches and iteration tips —
    // is a plain recomputable cache and the release must leave the session
    // completely clean ([[released]]).
    // label propagation, iters = 1; distributed: the symmetrized edge
    // cache and both tips
    val vs = Seq(1L, 2L, 3L, 9L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val (lpaL, lpaD) = bothSides(released(Algorithms.labelPropagation(vs, es, iters = 1))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(lpaL == lpaD && lpaL(2L) == 1L)
    // distributed shortest-path counts on one hop: the gate's edge cache
    // too, not only the pre-partitioned one the loop reads
    val sigma = distributed(released(
      Algorithms.shortestPathCounts(Seq((1L, 2L)).toDF("src", "dst"), Seq(1L).toDF("id"))))
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(sigma == Set((1L, 1L, 0, 1L), (1L, 2L, 1, 1L)))
    // distributed components: the gate's edge cache goes on the converged
    // exit and on the BudgetExhausted exit; the round checkpoints are the
    // one exemption
    val chain = (0L until 6L).map(i => (i, i + 1)).toDF("src", "dst")
    val cc = distributed(released(
      Algorithms.connectedComponents((0L to 6L).toDF("id"), chain), checkpoints = true))
    assert(cc.map(_.getLong(1)) == Set(0L))
    // distributed SCC: the coloring's and the sweep's round tips, on the
    // chain of cycles 1⇄2→3⇄4 with tail 0→1 (trim 2, coloring 2, sweep 2)
    val cycles = Seq((0L, 1L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L))
      .toDF("src", "dst")
    val scc = distributed(released(
      Algorithms.stronglyConnectedComponents((0L to 4L).toDF("id"), cycles), checkpoints = true))
    assert(scc.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
    // the BudgetExhausted exit releases too: a distributed loop's edge
    // caches and un-checkpointed tips, and the gate's edge cache when the
    // local run throws
    val from0 = Seq(0L).toDF("id")
    def exhausted(name: String)(run: => DataFrame): Option[String] = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      intercept[Algorithms.BudgetExhausted](run.count())
      Some(leakedSince(before, checkpoints = true)).filter(_.nonEmpty).map(l => s"$name: RDDs $l")
    }
    val leaks = distributed(Seq(
      exhausted("components")(
        Algorithms.connectedComponents((0L to 6L).toDF("id"), chain, maxIter = 1)),
      exhausted("bfs")(Algorithms.bfs(chain, from0, maxIter = 1)),
      exhausted("bfsPerSource")(Algorithms.bfsPerSource(chain, from0, maxIter = 1)),
      exhausted("shortestPathCounts")(Algorithms.shortestPathCounts(chain, from0, maxIter = 1)),
      exhausted("sssp")(Algorithms.sssp(chain.withColumn("w", lit(1.0)), from0, maxIter = 1)),
      exhausted("betweennessLandmark")(
        Algorithms.betweennessLandmark((0L to 6L).toDF("id"), chain, k = 7, maxIter = 1)),
      exhausted("kCore")(Algorithms.kCore(chain, k = 2, maxIter = 1)),
      exhausted("kTruss")(Algorithms.kTruss(chain, k = 3, maxIter = 1)),
      // one throw in the coloring, one in the sweep (which holds the
      // coloring's tips too)
      exhausted("scc coloring")(
        Algorithms.stronglyConnectedComponents((0L to 4L).toDF("id"), cycles, maxIter = 3)),
      exhausted("scc sweep")(
        Algorithms.stronglyConnectedComponents((0L to 4L).toDF("id"), cycles, maxIter = 5)))) :+
      // its own chain: a cache of the same plan left by a leaking case
      // above would be reused here and hide this case's leak
      exhausted("local bfs")(Algorithms.bfs(
        (10L until 16L).map(i => (i, i + 1)).toDF("src", "dst"), Seq(10L).toDF("id"), maxIter = 1))
    assert(leaks.flatten.isEmpty, s"scratch not released on BudgetExhausted: ${leaks.flatten}")
  }

  test("driver-local calls: one bounded collect per input, at most 3 Spark jobs, no cache left") {
    // the local side reads the edge frame and each id list once (no count,
    // distinct or persist job) and builds its answer on the driver, so the
    // answer's own collect runs no job
    val vs = (0L to 6L).toDF("id")
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val from0 = Seq(0L).toDF("id")
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "bfs" -> (() => Algorithms.bfs(es, from0)),
      "sssp" -> (() => Algorithms.sssp(es.withColumn("w", lit(1.5)), from0)),
      "pageRank" -> (() => Algorithms.pageRank(vs, es, iters = 5)),
      "connectedComponents" -> (() => Algorithms.connectedComponents(vs, es)))
    for ((name, call) <- calls) {
      val (jobs, rows) = releasedWithJobs(call())
      assert(rows.nonEmpty, name)
      assert(jobs <= 3, s"$name ran $jobs Spark jobs")
    }
  }

  test("gate boundary: m edges run locally at a cap of m and distributed at m - 1") {
    // a simple graph (no duplicates, self-loops or reverse pairs; every
    // endpoint a vertex), so the raw, canonical and SCC edge sets all have
    // m rows; 6 and 7 are isolated
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 3L), (1L, 4L))
    val m = pairs.length.toLong
    val vs = (0L to 7L).toDF("id")
    val es = pairs.toDF("src", "dst")
    val ws = pairs.map { case (s, d) => (s, d, (s * 3 + d) % 4 + 0.5) }.toDF("src", "dst", "w")
    val from0 = Seq(0L).toDF("id")
    def sides(name: String, cap: Long, call: => DataFrame): Set[Row] = {
      val (local, l) = withGate(cap)(releasedWithJobs(call, checkpoints = true))
      val (dist, d) = withGate(cap - 1)(releasedWithJobs(call, checkpoints = true))
      // the declined side pays its loop's rounds on top of the same collects
      assert(local < dist, s"$name: $local jobs at cap $cap, $dist at cap ${cap - 1}")
      assert(l == d || name == "pageRank", s"$name: local $l, distributed $d")
      if (name == "pageRank") {
        val dm = d.map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(l.size == d.size && l.forall(r => math.abs(r.getDouble(1) - dm(r.getLong(0))) < 1e-9),
          s"pageRank: local $l, distributed $d")
      }
      l
    }
    sides("bfs", m, Algorithms.bfs(es, from0))
    sides("sssp", m, Algorithms.sssp(ws, from0))
    sides("pageRank", m, Algorithms.pageRank(vs, es, iters = 5))
    val cc = sides("connectedComponents", m, Algorithms.connectedComponents(vs, es))
    assert(cc.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      ((0L to 5L).map(_ -> 0L) ++ Seq(6L -> 6L, 7L -> 7L)).toMap)
    sides("kCore", m, Algorithms.kCore(es, k = 2))
    val scc = sides("scc", m, Algorithms.stronglyConnectedComponents(vs, es))
    assert(scc.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 6L, 7L -> 7L))
    // isolated vertices and no edges: a cap of 0 is local, -1 declines
    val none = sides("connectedComponents", 0,
      Algorithms.connectedComponents(vs, es.filter(lit(false))))
    assert(none.map(r => r.getLong(0) -> r.getLong(1)).toMap == (0L to 7L).map(v => v -> v).toMap)
  }

  test("driver-local double sums are bit-stable under repartitioned, shuffled input") {
    // the local PageRank family and HITS sum in (src, dst, w) and id order,
    // whatever order the collect returns; 0.1-multiple weights make the
    // sums order-sensitive, and repeated (src, dst) pairs carry other weights
    val rnd = new scala.util.Random(31)
    val n = 40
    val edges = Seq.fill(160)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, (rnd.nextInt(9) + 1) * 0.1))
    val ids = (0L until n.toLong).toList
    def bits(df: DataFrame): Map[Long, Seq[Long]] = df.collect().map(r => r.getLong(0) ->
      (1 until r.length).map(i => java.lang.Double.doubleToRawLongBits(r.getDouble(i)))).toMap
    def all(es: DataFrame, vs: DataFrame): Seq[Map[Long, Seq[Long]]] = Seq(
      bits(Algorithms.pageRank(vs, es.select("src", "dst"), iters = 8)),
      bits(Algorithms.pageRankWeighted(vs, es, iters = 8)),
      bits(Algorithms.personalizedPageRank(vs, es.select("src", "dst"), Seq(3L, 0L, 9L).toDF("id"),
        iters = 8)),
      bits(Algorithms.hits(es.select("src", "dst"), iters = 4)))
    val base = all(edges.toDF("src", "dst", "w"), ids.toDF("id"))
    for (parts <- Seq(1, 7); seed <- Seq(1, 2)) {
      val r = new scala.util.Random(seed)
      val got = all(r.shuffle(edges).toDF("src", "dst", "w").repartition(parts),
        r.shuffle(ids).toDF("id").repartition(parts))
      assert(got == base, s"$parts partitions, shuffle seed $seed")
    }
  }

  test("local per-source BFS: a row cap tripped with the frontier live at maxIter throws") {
    // chain 0→…→10 from 0: the state holds r + 1 rows after round r, so a
    // cap of 3 trips in round 3
    val chain = (0L until 10L).map(i => (i, i + 1)).toArray
    intercept[Algorithms.BudgetExhausted](
      Local.bfsPerSource(chain, Array(0L), maxIter = 3, maxRows = 3))
    intercept[Algorithms.BudgetExhausted](
      Local.sigmaCounts(chain, Array(0L), maxIter = 3, maxRows = 3))
    // tripped before maxIter: decline, the distributed loop takes over
    assert(Local.bfsPerSource(chain, Array(0L), maxIter = 5, maxRows = 3).isEmpty)
    assert(Local.sigmaCounts(chain, Array(0L), maxIter = 5, maxRows = 3).isEmpty)
    // under the cap: the whole answer
    assert(Local.bfsPerSource(chain, Array(0L), maxIter = 20, maxRows = 100).get.length == 11)
  }

  test("betweenness: path graph, all sources (k = n) matches hand computation") {
    val vs = Seq(1L, 2L, 3L, 4L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Algorithms.betweennessLandmark(vs, es, k = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // directed path 1→2→3→4: δ over pairs — 2 is interior for (1,3),(1,4);
    // 3 for (1,4),(2,4); endpoints 0
    assert(got == Map(1L -> 0.0, 2L -> 2.0, 3L -> 2.0, 4L -> 0.0))
  }

  test("betweenness: diamond splits dependency by path counts (sigma weighting)") {
    val vs = Seq(1L, 2L, 3L, 4L).toDF("id")
    val es = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)).toDF("src", "dst")
    val got = Algorithms.betweennessLandmark(vs, es, k = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // two shortest 1→4 paths: each interior vertex carries σ-share 1/2
    assert(got == Map(1L -> 0.0, 2L -> 0.5, 3L -> 0.5, 4L -> 0.0))
  }

  test("betweenness: k < n scales the sampled source sum by n/k") {
    val vs = Seq(1L, 2L, 3L, 4L).toDF("id")
    val es = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    // replicate the estimator: md5-ordered k=2 landmark sources, δ sums
    // from those sources only, scaled n/k = 2
    val landmarks = Seq(1L, 2L, 3L, 4L)
      .sortBy(v => (java.security.MessageDigest.getInstance("MD5")
        .digest(v.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString, v))
      .take(2).toSet
    val delta = Map( // per source s: interior vertex -> dependency
      1L -> Map(2L -> 2.0, 3L -> 1.0),
      2L -> Map(3L -> 1.0),
      3L -> Map.empty[Long, Double], 4L -> Map.empty[Long, Double])
    val expect = Seq(1L, 2L, 3L, 4L).map(v =>
      v -> 2.0 * landmarks.toSeq.map(s => delta(s).getOrElse(v, 0.0)).sum).toMap
    val got = Algorithms.betweennessLandmark(vs, es, k = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == expect)
    // isolated vertices and an empty edge set degrade to all-zero scores
    val zeros = Algorithms.betweennessLandmark(vs, Seq.empty[(Long, Long)].toDF("src", "dst"), k = 2)
      .collect().map(r => r.getDouble(1))
    assert(zeros.forall(_ == 0.0))
    // a zero-vertex graph returns an empty frame (the max-level aggregate
    // is SQL null there — must not NPE)
    assert(Algorithms.betweennessLandmark(
      Seq.empty[Long].toDF("id"), Seq.empty[(Long, Long)].toDF("src", "dst"), k = 2)
      .collect().isEmpty)
  }

  test("scc: two cycles bridged, a tail, and an isolate") {
    // {0,1,2} cycle → {3,4} cycle → 5 (tail); 6 isolated
    val vs = (0L to 6L).toDF("id")
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L), (3L, 4L), (4L, 3L), (3L, 5L))
      .toDF("src", "dst")
    val got = Algorithms.stronglyConnectedComponents(vs, es)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 6L))
  }

  test("scc: decreasing-id chain is all singletons (trim, not per-root peeling)") {
    // 5→4→3→2→1 is the coloring algorithm's textbook worst case; trim
    // must solve it wholesale (each pass peels both ends of the chain,
    // so the budget needed is ~n/2 trim passes, not n color rounds)
    val vs = (1L to 5L).toDF("id")
    val es = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L)).toDF("src", "dst")
    val got = Algorithms.stronglyConnectedComponents(vs, es, maxIter = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (1L to 5L).map(v => v -> v).toMap)
  }

  test("scc: chain of cycles needs multiple color rounds") {
    // {1,2} ⇄ cycle → {3,4} cycle → {5,6} cycle, chained by one-way bridges:
    // removing the max-root SCC must expose the next, not mislabel it
    val vs = (1L to 6L).toDF("id")
    val es = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 3L), (4L, 5L),
      (5L, 6L), (6L, 5L)).toDF("src", "dst")
    val got = Algorithms.stronglyConnectedComponents(vs, es)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L))
  }

  test("scc: random digraphs match an in-JVM Tarjan") {
    // the trim/color/sweep interplay is the subtlest code in the module —
    // pin it against a reference implementation on seeded random graphs
    def tarjan(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val index = scala.collection.mutable.Map[Long, Int]()
      val low = scala.collection.mutable.Map[Long, Int]()
      val onStack = scala.collection.mutable.Set[Long]()
      val stack = scala.collection.mutable.Stack[Long]()
      val comp = scala.collection.mutable.Map[Long, Long]()
      var counter = 0
      def strongConnect(v0: Long): Unit = {
        // iterative Tarjan (explicit work stack; avoids deep recursion)
        case class Frame(v: Long, var i: Int)
        val work = scala.collection.mutable.Stack(Frame(v0, 0))
        index(v0) = counter; low(v0) = counter; counter += 1
        stack.push(v0); onStack += v0
        while (work.nonEmpty) {
          val f = work.top
          val succs = adj.getOrElse(f.v, Seq.empty)
          if (f.i < succs.size) {
            val w = succs(f.i); f.i += 1
            if (!index.contains(w)) {
              index(w) = counter; low(w) = counter; counter += 1
              stack.push(w); onStack += w
              work.push(Frame(w, 0))
            } else if (onStack(w)) low(f.v) = math.min(low(f.v), index(w))
          } else {
            work.pop()
            if (work.nonEmpty) {
              val p = work.top
              low(p.v) = math.min(low(p.v), low(f.v))
            }
            if (low(f.v) == index(f.v)) {
              val members = scala.collection.mutable.Buffer[Long]()
              var w = -1L
              while ({ w = stack.pop(); onStack -= w; members += w; w != f.v }) ()
              val m = members.min
              members.foreach(comp(_) = m)
            }
          }
        }
      }
      (0L until n.toLong).foreach(v => if (!index.contains(v)) strongConnect(v))
      comp.toMap
    }
    for (seed <- Seq(1, 7, 42)) {
      val rnd = new scala.util.Random(seed)
      val n = 24
      val edges = Seq.fill(60)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val expect = tarjan(n, edges)
      val (l, d) = bothSides(Algorithms.stronglyConnectedComponents(
        (0L until n.toLong).toDF("id"), edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(l == expect, s"local gate, seed=$seed edges=$edges")
      assert(d == expect, s"distributed, seed=$seed edges=$edges")
    }
  }

  test("loop gates: every local fast path equals its distributed loop") {
    // round 14 extended the round-13 CC/SCC distillate gates to the whole
    // iterative family (the per-round job floor was the entire cost of
    // these loops on small graphs) — pin EVERY gated algorithm's local
    // path against the distributed loop on seeded random graphs. Integer /
    // lexicographic results must be identical; double-sum results agree to
    // 1e-9 (the published queries round to 6 decimals).
    def eq(name: String, seed: Int)(l: Map[Long, Double], d: Map[Long, Double]): Unit = {
      assert(l.keySet == d.keySet, s"$name keys, seed=$seed")
      l.foreach { case (k, v) =>
        assert(math.abs(v - d(k)) < 1e-9, s"$name($k): local=$v dist=${d(k)}, seed=$seed") }
    }
    for (seed <- Seq(5, 23)) {
      val rnd = new scala.util.Random(seed)
      val n = 26
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val vs = (0L until n.toLong).toDF("id")
      val es = edges.toDF("src", "dst")
      val wes = edges.map { case (s, d) => (s, d, ((s * 7 + d) % 5 + 1).toDouble) }
        .toDF("src", "dst", "w")
      val srcs = Seq(0L, 3L, 7L).toDF("id")

      val (bfsL, bfsD) = bothSides(Algorithms.bfs(es, srcs)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap)
      assert(bfsL == bfsD, s"bfs, seed=$seed")
      val (bpsL, bpsD) = bothSides(Algorithms.bfsPerSource(es, srcs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
      assert(bpsL == bpsD, s"bfsPerSource, seed=$seed")
      val (sigL, sigD) = bothSides(Algorithms.shortestPathCounts(es, srcs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet)
      assert(sigL == sigD, s"shortestPathCounts, seed=$seed")
      val (ssspL, ssspD) = bothSides(Algorithms.sssp(wes, srcs)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
      assert(ssspL == ssspD, s"sssp (bit-exact), seed=$seed") // min-plus: exact
      val (prL, prD) = bothSides(Algorithms.pageRank(vs, es, iters = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
      eq("pageRank", seed)(prL, prD)
      val (pwL, pwD) = bothSides(Algorithms.pageRankWeighted(vs, wes, iters = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
      eq("pageRankWeighted", seed)(pwL, pwD)
      val (ppL, ppD) = bothSides(Algorithms.personalizedPageRank(vs, es, srcs, iters = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
      eq("personalizedPageRank", seed)(ppL, ppD)
      val (hL, hD) = bothSides(Algorithms.hits(es, iters = 3)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap)
      assert(hL.keySet == hD.keySet, s"hits keys, seed=$seed")
      hL.foreach { case (k, (hub, auth)) =>
        assert(math.abs(hub - hD(k)._1) < 1e-9 && math.abs(auth - hD(k)._2) < 1e-9,
          s"hits($k), seed=$seed") }
      val (lpaL, lpaD) = bothSides(Algorithms.labelPropagation(vs, es, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(lpaL == lpaD, s"lpa, seed=$seed")
      val (kcL, kcD) = bothSides(Algorithms.kCore(es, k = 3)
        .collect().map(_.getLong(0)).toSet)
      assert(kcL == kcD, s"kCore, seed=$seed")
      val (ktL, ktD) = bothSides(Algorithms.kTruss(es, k = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      assert(ktL == ktD, s"kTruss, seed=$seed")
      val (misL, misD) = bothSides(Algorithms.maximalIndependentSet(vs, es)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap)
      assert(misL == misD, s"mis, seed=$seed")
      val (rwL, rwD) = bothSides(Algorithms.randomWalks(es, srcs, steps = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet)
      assert(rwL == rwD, s"randomWalks, seed=$seed")
      val (btL, btD) = bothSides(Algorithms.betweennessLandmark(vs, es, k = 4)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap)
      eq("betweennessLandmark", seed)(btL, btD)
    }
    // self-loops are dropped on both sides: a vertex whose only edge is
    // (v, v) is a trivial winner, not a budget exhaustion
    val loops = Seq((0L, 0L), (1L, 2L), (2L, 2L)).toDF("src", "dst")
    val (slL, slD) = bothSides(Algorithms.maximalIndependentSet((0L to 3L).toDF("id"), loops)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap)
    assert(slL == slD, "mis with self-loops")
    assert(slD(0L) && slD(3L) && (slD(1L) != slD(2L)), s"mis with self-loops: $slD")
  }

  test("cc/scc: distributed paths (gate forced off) equal the local gates") {
    // the driver-local union-find / Tarjan gates handle distillate-sized
    // graphs; every toy test above now exercises THEM, so the distributed
    // star-contraction and trim/color/sweep machinery must be pinned
    // explicitly — identical labels on the same seeded random graphs
    for (seed <- Seq(3, 11, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 30
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val vs = (0L until n.toLong).toDF("id")
      val es = edges.toDF("src", "dst")
      val (ccL, ccD) = bothSides(Algorithms.connectedComponents(vs, es)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(ccL == ccD, s"cc local != distributed, seed=$seed")
      val (sccL, sccD) = bothSides(Algorithms.stronglyConnectedComponents(vs, es)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(sccL == sccD, s"scc local != distributed, seed=$seed")
    }
  }

  test("weighted pagerank: uniform weights degenerate to plain; weight skews flow") {
    val vs = Seq(0L, 1L, 2L).toDF("id")
    val uni = Seq((0L, 1L, 1.0), (0L, 2L, 1.0)).toDF("src", "dst", "w")
    def ranks(df: DataFrame) = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // one core per side of the gate: bit-identical, not merely close
    val (plainL, plainD) = bothSides(ranks(Algorithms.pageRank(vs, uni.select("src", "dst"), iters = 5)))
    val (wUniL, wUniD) = bothSides(ranks(Algorithms.pageRankWeighted(vs, uni, iters = 5)))
    assert(plainL == wUniL && plainD == wUniD)
    // 3:1 weights skew the split 3:1 (single iteration makes it exact)
    val skew = Algorithms.pageRankWeighted(vs,
      Seq((0L, 1L, 3.0), (0L, 2L, 1.0)).toDF("src", "dst", "w"), iters = 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val c1 = skew(1L) - 0.15 - 0.85 * 2.0 / 3 // subtract teleport + dangling share
    val c2 = skew(2L) - 0.15 - 0.85 * 2.0 / 3
    assert(math.abs(c1 - 3 * c2) < 1e-12)
    // mass conserved at |V|
    assert(math.abs(skew.values.sum - 3.0) < 1e-9)
  }

  test("distance centralities match an in-JVM BFS on random digraphs") {
    // the per-source multi-BFS feeds harmonic, closeness and diameter —
    // pin all three against one driver-side reference BFS on seeded graphs
    for (seed <- Seq(7, 29)) {
      val rnd = new scala.util.Random(seed)
      val n = 14
      val edges = Seq.fill(40)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      // reference: level-synchronous BFS
      def bfsRef(s: Long): Map[Long, Int] = {
        val dist = scala.collection.mutable.Map(s -> 0)
        var frontier = Seq(s); var lvl = 0
        while (frontier.nonEmpty) {
          lvl += 1
          val next = frontier.flatMap(v => adj.getOrElse(v, Seq.empty))
            .distinct.filterNot(dist.contains)
          next.foreach(v => dist(v) = lvl)
          frontier = next
        }
        dist.toMap
      }
      val sources = edges.map(_._1).distinct
      val expHarm = sources.map(s =>
        s -> bfsRef(s).collect { case (v, d) if d > 0 => 1.0 / d }.sum).toMap
      val expClose = sources.map { s =>
        val ds = bfsRef(s).collect { case (v, d) if d > 0 => d }
        s -> (if (ds.isEmpty) 0.0 else ds.size.toDouble / ds.sum)
      }.toMap
      val vids = (0L until n.toLong).toDF("id")
      val eDf = edges.toDF("src", "dst")
      val gotH = Algorithms.harmonicCentrality(vids, eDf)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val gotC = Algorithms.closenessCentrality(vids, eDf)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      (0L until n.toLong).foreach { v =>
        assert(math.abs(gotH(v) - expHarm.getOrElse(v, 0.0)) < 1e-9, s"harmonic seed=$seed v=$v")
        assert(math.abs(gotC(v) - expClose.getOrElse(v, 0.0)) < 1e-9, s"closeness seed=$seed v=$v")
      }
      // diameter = max pairwise reachable distance from any source
      val expDiam = sources.flatMap(s => bfsRef(s).values.filter(_ > 0)).max
      val gotDiam = Algorithms.bfsPerSource(eDf,
          eDf.select(org.apache.spark.sql.functions.col("src").as("id")).distinct())
        .filter("level > 0").agg(Map("level" -> "max")).collect()(0).getInt(0)
      assert(gotDiam == expDiam, s"diameter seed=$seed")
    }
  }

  test("k-core matches an in-JVM peel on random graphs") {
    for (seed <- Seq(5, 19)) {
      val rnd = new scala.util.Random(seed)
      val n = 18
      val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      def peel(k: Int): Set[Long] = {
        var live = (0L until n.toLong).toSet
        var changed = true
        while (changed) {
          val deg = live.map(v => v -> edges.count { case (a, b) =>
            (a == v && live(b)) || (b == v && live(a)) }).toMap
          val drop = live.filter(deg(_) < k)
          changed = drop.nonEmpty; live --= drop
        }
        live
      }
      for (k <- Seq(2, 3)) {
        val got = Algorithms.kCore(edges.toDF("src", "dst"), k)
          .collect().map(_.getLong(0)).toSet
        assert(got == peel(k), s"seed=$seed k=$k")
      }
    }
  }

  test("hits matches an in-JVM power iteration on a random bipartite graph") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(40)((rnd.nextInt(8).toLong, 100L + rnd.nextInt(10))).distinct
    val iters = 3
    // JVM replay: L1-normalized alternating updates over the same node set
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = Map.empty[Long, Double]
    for (_ <- 0 until iters) {
      val aRaw = nodes.map(v => v -> edges.filter(_._2 == v).map(e => hub(e._1)).sum).toMap
      val aSum = aRaw.values.sum
      auth = aRaw.view.mapValues(_ / aSum).toMap
      val hRaw = nodes.map(v => v -> edges.filter(_._1 == v).map(e => auth(e._2)).sum).toMap
      val hSum = hRaw.values.sum
      hub = hRaw.view.mapValues(_ / hSum).toMap
    }
    val got = Algorithms.hits(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    nodes.foreach { v =>
      assert(math.abs(got(v)._1 - hub(v)) < 1e-9, s"hub($v)")
      assert(math.abs(got(v)._2 - auth(v)) < 1e-9, s"auth($v)")
    }
  }

  test("maximal independent set: independence + maximality on random graphs") {
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      val n = 20
      val edges = Seq.fill(40)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      val rows = Algorithms.maximalIndependentSet(
        (0L until n.toLong).toDF("id"), edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      val mis = rows.filter(_._2).keySet
      // independence: no edge with both endpoints in the MIS
      assert(edges.forall { case (a, b) => !(mis(a) && mis(b)) }, s"seed=$seed")
      // maximality: every excluded vertex has a MIS neighbor
      assert(rows.filter(!_._2).keySet.forall(v =>
        adj.getOrElse(v, Set.empty).exists(mis)), s"seed=$seed")
    }
    // isolated vertices are always in (and an empty edge set keeps all)
    val all = Algorithms.maximalIndependentSet(
      (0L to 3L).toDF("id"), Seq.empty[(Long, Long)].toDF("src", "dst"))
      .collect().map(_.getBoolean(1))
    assert(all.forall(identity))
  }

  test("shortest-path counts: diamond doubles sigma, diamond chain multiplies") {
    // 0→{1,2}→3→{4,5}→6: σ(0,3) = 2, σ(0,6) = 4 (counts multiply across
    // independent diamonds), levels are hop distances
    val es = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (3L, 5L),
      (4L, 6L), (5L, 6L)).toDF("src", "dst")
    val got = Algorithms.shortestPathCounts(es, Seq(0L).toDF("id"))
      .collect().map(r => r.getLong(1) -> (r.getInt(2), r.getLong(3))).toMap
    assert(got == Map(0L -> (0, 1L), 1L -> (1, 1L), 2L -> (1, 1L), 3L -> (2, 2L),
      4L -> (3, 2L), 5L -> (3, 2L), 6L -> (4, 4L)))
    // a shorter path wins over a more numerous longer one
    val es2 = Seq((0L, 1L), (1L, 2L), (0L, 3L), (3L, 4L), (4L, 2L)).toDF("src", "dst")
    val g2 = Algorithms.shortestPathCounts(es2, Seq(0L).toDF("id"))
      .collect().map(r => r.getLong(1) -> (r.getInt(2), r.getLong(3))).toMap
    assert(g2(2L) == (2, 1L))
  }

  test("closeness: path graph and unreachable score") {
    val vs = Seq(0L, 1L, 2L, 9L).toDF("id")
    val es = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val got = Algorithms.closenessCentrality(vs, es)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // C(0) = 2 reachable / (1+2); C(1) = 1/1; sinks and isolates 0
    assert(math.abs(got(0L) - 2.0 / 3) < 1e-12)
    assert(got(1L) == 1.0 && got(2L) == 0.0 && got(9L) == 0.0)
  }

  test("hits: one iteration on a 2-customer bipartite graph") {
    val es = Seq((0L, 10L), (1L, 10L), (1L, 11L)).toDF("src", "dst")
    val got = Algorithms.hits(es, iters = 1)
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2)))).toMap
    // auth ∝ in-sum of unit hubs: 10→2, 11→1, L1 → 2/3, 1/3
    // hub ∝ out-sum of those auths: 0→2/3, 1→1, L1 → 0.4, 0.6
    assert(math.abs(got(10L)._2 - 2.0 / 3) < 1e-12 && math.abs(got(11L)._2 - 1.0 / 3) < 1e-12)
    assert(math.abs(got(0L)._1 - 0.4) < 1e-12 && math.abs(got(1L)._1 - 0.6) < 1e-12)
    // sources have 0 authority; sinks have 0 hub
    assert(got(0L)._2 == 0.0 && got(10L)._1 == 0.0)
  }

  test("hits: scores stay L1-normalized across iterations") {
    val es = Seq((0L, 10L), (1L, 10L), (1L, 11L), (2L, 11L), (10L, 2L)).toDF("src", "dst")
    val rows = Algorithms.hits(es, iters = 3).collect()
    assert(math.abs(rows.map(_.getDouble(1)).sum - 1.0) < 1e-9)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-9)
  }

  test("random walks: chain follows the only edge; sinks end the walk") {
    val es = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Algorithms.randomWalks(es, Seq(0L, 3L).toDF("id"), steps = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // from 0: deterministic chain, ends at the sink after 3 hops
    assert(got == Map((0L, 0) -> 0L, (0L, 1) -> 1L, (0L, 2) -> 2L, (0L, 3) -> 3L,
      (3L, 0) -> 3L))
  }

  test("random walks: branch picks the md5-argmin neighbor") {
    val es = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect1 = Seq(1L, 2L, 3L).minBy(d => h(s"0:1:$d"))
    val got = Algorithms.randomWalks(es, Seq(0L).toDF("id"), steps = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got((0L, 1)) == expect1)
  }

  test("degree assortativity: hand-computed Pearson on three edges") {
    val es = Seq((0L, 1L), (0L, 2L), (3L, 2L)).toDF("src", "dst")
    val got = Algorithms.degreeAssortativity(es).collect()(0).getDouble(0)
    // degree pairs (2,1) (2,2) (1,2) → r = -0.5
    assert(math.abs(got - (-0.5)) < 1e-12)
    // star graph: zero variance on one side → NULL
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    assert(Algorithms.degreeAssortativity(star).collect()(0).isNullAt(0))
  }

  test("modularity: two triangles + bridge, hand-computed Q") {
    // communities {0,1,2} and {3,4,5}, one bridge 2–3:
    // m = 7, within = 6, degrees all 2 except 2,3 (deg 3) → vol_c = 7 each
    // Q = 6/7 − 2·(7/14)² = 6/7 − 1/2
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L), (2L, 3L))
      .toDF("src", "dst")
    val labels = Seq((0L, 10L), (1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L), (5L, 20L))
      .toDF("id", "community")
    val r = Algorithms.modularity(labels, es).collect()(0)
    assert(r.getLong(0) == 7L && r.getLong(1) == 6L)
    assert(math.abs(r.getDouble(2) - (6.0 / 7 - 0.5)) < 1e-6)
    // one community holding everything → Q = 1 − Σ(vol/2m)² = 0 exactly
    val one = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val oneLab = Seq((0L, 1L), (1L, 1L), (2L, 1L)).toDF("id", "community")
    assert(Algorithms.modularity(oneLab, one).collect()(0).getDouble(2) == 0.0)
    // duplicate orientations and self-loops collapse/drop before counting
    val dup = Seq((0L, 1L), (1L, 0L), (0L, 0L)).toDF("src", "dst")
    val dl = Seq((0L, 1L), (1L, 2L)).toDF("id", "community")
    val d = Algorithms.modularity(dl, dup).collect()(0)
    assert(d.getLong(0) == 1L && d.getLong(1) == 0L)
  }

  test("conductance: two triangles + bridge, whole-graph community reads NULL") {
    val es = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L), (2L, 3L))
      .toDF("src", "dst")
    val labels = Seq((0L, 10L), (1L, 10L), (2L, 10L), (3L, 20L), (4L, 20L), (5L, 20L))
      .toDF("id", "community")
    // each side: vol = 7 (deg 2,2,3), cut = 1 (the bridge) → φ = 1/7
    val got = Algorithms.conductance(labels, es)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == Set(10L, 20L))
    got.values.foreach { case (vol, cut, phi) =>
      assert(vol == 7L && cut == 1L && math.abs(phi - 1.0 / 7) < 1e-6)
    }
    // one community holding the whole graph: no outside → NULL φ, cut 0
    val oneLab = (0L to 5L).map(i => (i, 1L)).toDF("id", "community")
    val whole = Algorithms.conductance(oneLab, es).collect()(0)
    assert(whole.getLong(1) == 14L && whole.getLong(2) == 0L && whole.isNullAt(3))
  }
}
