package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Md5Draw

/**
 * Embedding similarity operators: exact cosine, brute-force top-k, near-dup
 * pairs, and a random-hyperplane-LSH bucketed variant as the 100 TB path.
 *
 * All arithmetic is double precision (float arrays are upcast before any
 * accumulation) and folds left-to-right, so results are bit-reproducible
 * and comparable against DuckDB's double-precision list functions.
 */
object Similarity {

  /** Σ aᵢbᵢ over two ARRAY<FLOAT/DOUBLE> columns, in double — fused codegen
    * loop (graft.functions.DotProduct). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.vecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — fused codegen loop (graft.functions.CosineSimilarity);
    * same double op sequence as [[cosineHof]], so results are bit-identical. */
  def cosine(a: Column, b: Column): Column = graft.functions.VectorFunctions.vecCosine(a, b)

  /** The composable higher-order-function form — kept as the reference
    * semantics the native expressions must match (see SimilaritySpec). */
  def cosineHof(a: Column, b: Column): Column = {
    def hofDot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    def hofNorm(x: Column): Column =
      sqrt(aggregate(transform(x, v => v.cast("double") * v.cast("double")),
        lit(0.0), (acc, v) => acc + v))
    hofDot(a, b) / (hofNorm(a) * hofNorm(b))
  }

  /**
   * Brute-force cosine top-k: every query row against every corpus row.
   * The per-query candidate set is ranked by (rounded sim desc, id asc) —
   * rounding before ranking makes the order stable across engines and
   * float-summation orders.
   *
   * Scale note: this is the *baseline*; it broadcasts the query set (small)
   * against the corpus scan, so it is one pass over the corpus with no
   * shuffle of the corpus itself — correct at 100 TB when |queries| is
   * bounded. For large query sets use [[lshKnn]].
   */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    topKPerQuery(allPairs(corpus, queries), col("sim").desc, k)

  /** Queries as (q_id, q_emb): the query side of every ANN operator. */
  private def queryVectors(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))

  /** Every (query, corpus vector) pair but the self-match, scored by rounded
    * cosine: one corpus pass against the broadcast query set.
    * @return (q_id, vec_id, sim) */
  private def allPairs(corpus: DataFrame, queries: DataFrame): DataFrame =
    corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(queryVectors(queries)))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), 6).as("sim"))

  /** The per-query rank tail of every top-k operator: `row_number` over
    * `q_id`, ordered by `score` (its direction included) and then `vec_id`
    * ascending, keeping rank ≤ k. */
  private def topKPerQuery(scored: DataFrame, score: Column, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(score, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /**
   * Recall@k of an approximate ANN result against the exact one — the
   * evaluation metric every ANN deployment tracks ("measure, don't guess":
   * an index whose recall nobody measured is a silent-quality bug at 100 TB).
   * Both inputs are (q_id, vec_id, …) top-k tables, e.g. [[lshKnn]] vs
   * [[bruteForceKnn]] at the same k. One groupBy over the exact side with a
   * membership left-join — both sides are |queries|·k rows, so this is
   * metric-sized work regardless of corpus size. The approx side is
   * deduplicated on (q_id, vec_id) before the join, so a sloppy input
   * carrying duplicate hits (e.g. a multi-table LSH union) cannot fan the
   * join out and push recall above 1.0.
   *
   * @return (q_id, hits BIGINT = |approx ∩ exact|, recall DOUBLE = hits/k)
   */
  def recallAtK(approx: DataFrame, exact: DataFrame, k: Int): DataFrame = {
    val a = approx.select(col("q_id"), col("vec_id")).dropDuplicates("q_id", "vec_id")
      .withColumn("hit", lit(1L))
    exact.select(col("q_id"), col("vec_id"))
      .join(a, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(col("q_id"), col("hits"),
        round(col("hits") / lit(k.toDouble), 6).as("recall"))
  }

  /**
   * Range search: ALL corpus vectors within cosine ≥ `minSim` of each query
   * — the radius-query sibling of [[bruteForceKnn]] (retrieval pipelines use
   * it for "everything this similar", dedup pipelines for "candidates above
   * the review bar"). Same broadcast-queries/one-corpus-pass shape, but a
   * threshold filter instead of a per-query window, so no rank shuffle at
   * all: the plan is scan → broadcast join → filter.
   */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, minSim: Double): DataFrame =
    allPairs(corpus, queries).filter(col("sim") >= minSim)

  /**
   * Near-duplicate pairs by cosine ≥ threshold — EXACT contract, computed as
   * a balanced block-partitioned triangle self-join ("handling theta-joins
   * as block-partitioned joins"): vectors are bucketed by `vec_id % blocks`,
   * the B·(B+1)/2 unordered block pairs are enumerated as a broadcast-joined
   * key table, and candidates are generated by a (bx, by)-keyed shuffle join.
   * Every unordered id pair lands in exactly one block-pair task — no
   * CartesianProduct node, no single-task bottleneck, parallelism B·(B+1)/2.
   *
   * Orientation of each {u,v} block pair alternates by parity of u+v so the
   * per-key row counts stay balanced (a fixed (min,max) orientation makes
   * block B−1 carry B× the load of block 0).
   *
   * Scale note: an exact ≥-threshold output at a *weak* threshold is
   * inherently Θ(candidate-pairs): on this corpus the qualifying pairs sit at
   * cosine 0.40–0.55 (measured), where random-hyperplane bucket collision
   * probabilities are ~0.63 per bit — no LSH parameterization separates them
   * with recall ≈ 1, so an LSH pre-filter would silently break the exact
   * contract. The replication factor here is B/2 per side; pick
   * B ≈ sqrt(2 · target tasks). For approximate high-threshold near-dup at
   * 100 TB use [[lshKnn]]-style bucketing, which IS recall-safe when
   * neighbors are ≥ ~0.9 cosine.
   */
  def nearDupPairs(corpus: DataFrame, threshold: Double, blocks: Int = 16): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val combos = (for { u <- 0 until blocks; v <- u until blocks } yield
      if ((u + v) % 2 == 0) (u, v) else (v, u)).toDF("bx", "by")
    val a = corpus.select(pmod(col("vec_id"), lit(blocks)).cast("int").as("bx"),
      col("vec_id").as("ida"), col("embedding").as("ea"))
    val b = corpus.select(pmod(col("vec_id"), lit(blocks)).cast("int").as("by"),
      col("vec_id").as("idb"), col("embedding").as("eb"))
    val cand = a.join(broadcast(combos), Seq("bx"))
      .join(b.join(broadcast(combos), Seq("by")), Seq("bx", "by"))
      // off-diagonal: each unordered pair appears once (single orientation);
      // diagonal: self-cross, keep the lower triangle
      .filter((col("bx") =!= col("by") && col("ida") =!= col("idb")) ||
              (col("bx") === col("by") && col("ida") < col("idb")))
    cand.select(least(col("ida"), col("idb")).as("a"),
        greatest(col("ida"), col("idb")).as("b"),
        round(cosine(col("ea"), col("eb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /**
   * Random-hyperplane LSH signature: bit b = sign(v · h_b) where hyperplane
   * components are deterministic pseudo-randoms derived from xxhash64(b, dim)
   * mapped to [-1, 1]. Vectors in the same `numBits`-bit bucket are near in
   * angle with high probability.
   */
  /** The deterministic hyperplane constants behind [[lshBucket]] — exposed so
    * the DuckDB oracle can embed the identical literals (SparkEntry.oracleSql
    * reproduces bucket membership bit-for-bit from these). */
  def hyperplanes(dim: Int, numBits: Int, seed: Int): Seq[Array[Double]] = {
    val rnd = new scala.util.Random(seed * 7919L + 13L)
    Seq.fill(numBits)(Array.fill(dim)(rnd.nextDouble() * 2 - 1))
  }

  def lshBucket(emb: Column, dim: Int, numBits: Int, seed: Int = 0): Column = {
    // Hyperplanes are driver-side deterministic constants (seeded LCG), shipped
    // as array literals: the per-row work is numBits fused zip_with folds, not
    // numBits×dim unrolled expressions (which overflowed janino codegen).
    val bits = hyperplanes(dim, numBits, seed).zipWithIndex.map { case (hp, b) =>
      val proj = dot(emb, typedLit(hp))
      when(proj > 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /**
   * IVF (inverted-file) ANN. Coarse quantizer = `numCells` corpus vectors
   * picked by deterministic hash-order sampling (a one-pass stand-in for an
   * offline k-means; swapping in trained centroids changes no plan shape).
   * Index build: one pass over the corpus against the broadcast centroid
   * set, assigning each vector to its nearest cell → an inverted list
   * shuffled by cell id. Query: rank cells per query, probe the `nprobe`
   * nearest, exact cosine only within probed cells.
   *
   * Scale: the corpus is never self-joined — it is scanned once for
   * assignment (broadcast, no shuffle of the corpus) and once per probe
   * via a cell-keyed equi-join, so cost is O(|corpus| · nprobe / numCells)
   * candidates instead of O(|corpus| · |queries|).
   */
  /** Coarse quantizer: `numCells` corpus vectors in md5-of-id order. md5 (not
    * xxhash64) because the DuckDB oracle must reproduce the exact selection —
    * both engines agree on md5 hex of the decimal id string. Cell ids are the
    * rank in that order (row_number over ≤ numCells rows — a driver-size
    * window, not a data-size one). */
  def ivfCentroids(corpus: DataFrame, numCells: Int): DataFrame =
    md5First(corpus.select(col("vec_id"), col("embedding")), numCells)
      .select(col("cell"), col("embedding").as("c_emb"))

  /** The first `n` rows of `df` in md5-of-vec_id order (ids break ties),
    * with their rank in that order as `cell`. */
  private def md5First(df: DataFrame, n: Int): DataFrame = {
    val order = Window.orderBy(col("h"), col("vec_id"))
    df.withColumn("h", Md5Draw.of(col("vec_id")))
      .orderBy(col("h"), col("vec_id")).limit(n)
      .withColumn("cell", (row_number().over(order) - 1).cast("long"))
  }

  def ivfAssign(corpus: DataFrame, numCells: Int): DataFrame =
    ivfAssignWith(corpus, ivfCentroids(corpus, numCells))

  /** [[ivfAssign]] against an ALREADY-derived centroid table — lets a
    * caller that also needs the centroids themselves (query-side probe
    * ranking in [[ivfKnn]]/[[ivfPqKnn]]) derive them ONCE instead of
    * embedding the corpus-scan TakeOrdered subtree twice in one plan
    * (the pqEncodeWith device, r15). */
  def ivfAssignWith(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val ranked = corpus.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cell"),
        round(cosine(col("embedding"), col("c_emb")), 6).as("c_sim"))
    val w = Window.partitionBy("vec_id").orderBy(col("c_sim").desc, col("cell").asc)
    ranked.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("cell"), col("vec_id"), col("embedding"))
  }

  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             numCells: Int = 16, nprobe: Int = 4): DataFrame = {
    // one persisted centroid table (numCells rows) serves the probe ranking
    // AND the corpus assignment — the un-shared version ran the corpus-scan
    // TakeOrdered derivation twice per action (r15)
    val centroids = ivfCentroids(corpus, numCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored = probeCells(queryVectors(queries), centroids, nprobe)
      .join(ivfAssignWith(corpus, centroids), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")), 6).as("sim"))
    graft.util.CacheLifecycle.releaseOnFirstAction(
      topKPerQuery(scored, col("sim").desc, k), centroids)
  }

  /** The `nprobe` coarse cells nearest each query (q_id, q_emb) by rounded
    * cosine to their centroids, ties to the lower cell id — the probe
    * ranking of [[ivfKnn]] and [[ivfPqKnn]].
    * @return (q_id, q_emb, cell) */
  private def probeCells(q: DataFrame, centroids: DataFrame, nprobe: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("c_sim").desc, col("cell").asc)
    q.crossJoin(broadcast(centroids))
      .select(col("q_id"), col("q_emb"), col("cell"),
        round(cosine(col("q_emb"), col("c_emb")), 6).as("c_sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= nprobe)
      .select("q_id", "q_emb", "cell")
  }

  /**
   * Per-label centroids: the mean of every embedding dimension per label —
   * the summary statistic behind class prototypes, drift monitors, and
   * seed-centroid initialization. One posexplode + one combinable groupBy
   * on (label, dim); sums go through DECIMAL(28,12) so the result is
   * independent of partition-level float addition order (the same
   * determinism device as [[kmeansCentroids]]).
   *
   * @return (label, dim INT, mean DOUBLE rounded to 6)
   */
  def labelCentroids(corpus: DataFrame, labelCol: String, vecCol: String): DataFrame =
    corpus.select(col(labelCol).as("label"),
      posexplode(transform(col(vecCol), x => x.cast("double"))).as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(round(sum(col("x").cast("decimal(28,12)")).cast("double") / count(lit(1)), 6)
        .as("mean"))

  /**
   * Embedding distribution drift between two label slices — the monitor a
   * pipeline runs when a new corpus batch or model version lands: L2 and
   * cosine between the slices' ROUNDED mean vectors ([[labelCentroids]]'s
   * published round-6 values, so the drift numbers are reproducible from
   * the stored centroid table alone). Two combinable per-(label, dim)
   * aggregations → a dim-row join → one scalar row; the corpora never
   * pairwise-join.
   *
   * @return one row (l2 DOUBLE, cos DOUBLE — both rounded 6)
   */
  def centroidDrift(corpus: DataFrame, labelCol: String, vecCol: String,
                    labelA: Int, labelB: Int): DataFrame = {
    val cents = labelCentroids(
      corpus.filter(col(labelCol).isin(labelA, labelB)), labelCol, vecCol)
    val a = cents.filter(col("label") === labelA).select(col("dim"), col("mean").as("ma"))
    val b = cents.filter(col("label") === labelB).select(col("dim"), col("mean").as("mb"))
    a.join(b, Seq("dim"))
      .agg(
        sum(((col("ma") - col("mb")) * (col("ma") - col("mb"))).cast("decimal(38,12)"))
          .cast("double").as("__d2"),
        sum((col("ma") * col("mb")).cast("decimal(38,12)")).cast("double").as("__ab"),
        sum((col("ma") * col("ma")).cast("decimal(38,12)")).cast("double").as("__aa"),
        sum((col("mb") * col("mb")).cast("decimal(38,12)")).cast("double").as("__bb"))
      .select(round(sqrt(col("__d2")), 6).as("l2"),
        round(col("__ab") / (sqrt(col("__aa")) * sqrt(col("__bb"))), 6).as("cos"))
  }

  /**
   * Per-vector outlier score against the corpus distribution: the DIAGONAL
   * Mahalanobis distance Σ_d ((x_d − μ_d)/σ_d)² — the embedding-quality
   * gate that flags corrupt/degenerate vectors before they enter an ANN
   * index (full-covariance Mahalanobis needs a dim×dim inverse; the
   * diagonal form is the standard scalable surrogate and composes with
   * [[powerIteration]] whitening when correlations matter). μ, σ² are one
   * combinable per-dim aggregation broadcast back; each vector scores in
   * one scan pass with a DECIMAL-exact sum. σ = 0 dimensions drop (no
   * information). Scores use the PUBLISHED round-6 μ/σ² so the gate is
   * reproducible from stored stats.
   *
   * @return (vec_id, score DOUBLE rounded 6, rank) — top `k` by score desc
   */
  def mahalanobisOutliers(corpus: DataFrame, vecCol: String, dim: Int,
                          k: Int): DataFrame = {
    val x = corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col("vec_id"),
        posexplode(transform(col(vecCol), v => v.cast("double"))).as(Seq("d", "x")))
    val stats = x.groupBy("d")
      .agg(
        round(sum(col("x").cast("decimal(28,12)")).cast("double") / count(lit(1)), 6)
          .as("mu"),
        round(sum((col("x") * col("x")).cast("decimal(28,12)")).cast("double")
          / count(lit(1)), 6).as("ex2"))
      .select(col("d"), col("mu"),
        round(col("ex2") - col("mu") * col("mu"), 6).as("var"))
      .filter(col("var") > 0)
    val scored = x.join(broadcast(stats), Seq("d"))
      .groupBy("vec_id")
      .agg(round(sum((((col("x") - col("mu")) * (col("x") - col("mu"))) / col("var"))
        .cast("decimal(38,10)")).cast("double"), 6).as("score"))
    // distributed TakeOrdered first; the rank window runs over k rows only
    val top = scored.orderBy(col("score").desc, col("vec_id").asc).limit(k)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col("vec_id").asc)))
  }

  /**
   * Exact corpus covariance matrix of the embedding column — the input to
   * PCA/whitening/Mahalanobis over the corpus distribution. Upper triangle
   * (i ≤ j) of cov(i,j) = E[xᵢxⱼ] − E[xᵢ]E[xⱼ].
   *
   * EAGER: the corpus pass runs AT CONSTRUCTION (like BPE training — the
   * result is model-sized state, not a lazy view), so callers that only
   * need the schema still pay one corpus job, and upstream
   * filter/limit must be applied to `corpus` BEFORE calling, not to the
   * returned frame.
   *
   * Scale shape: ONE corpus pass. Each partition accumulates the
   * dim·(dim+1)/2 product sums + dim value sums + row count in a local
   * array of exact decimals, and partials tree-merge executor-side — no
   * per-product row stream, no shuffle of O(rows·dim²) anything; bytes
   * crossing the wire are O(partitions · dim²), independent of corpus
   * size. (The previous formulation exploded 104M product rows through a
   * hash aggregate at sf0.1 — map-side combine made the SHUFFLE cheap,
   * but materializing the product stream cost ~8 s; the fold-in-place
   * pass is ~4× faster and strictly less data motion.) The dim²-sized
   * result is then a LOCAL relation — the eigensolve family consumes it
   * driver-side for free ([[DriverEigensolveMaxDim]]).
   *
   * Determinism contract (unchanged, byte-for-byte vs the SQL oracle):
   * every product/value rounds to DECIMAL(28,12) HALF_UP exactly as
   * Spark's `CAST(x AS DECIMAL(28,12))` would under ANSI (non-finite →
   * null, skipped; precision-28 overflow THROWS), sums are exact decimal adds
   * (partition-order-insensitive), and the final double formula rounds
   * to 6 with Spark `round` semantics.
   *
   * @return (i INT, j INT, n BIGINT, cov DOUBLE) for 0 ≤ i ≤ j < dim
   */
  /** Exact-decimal accumulation kernel for [[covarianceMatrix]] (nested in
    * the object ⇒ static — no $outer to drag through task serialization). */
  private[graft] object CovSum {
    // Spark CAST(double AS DECIMAL(28,12)) under this repo's ANSI session:
    // shortest-repr BigDecimal, HALF_UP to scale 12, null when non-finite
    // (measured — ANSI nulls NaN/Inf, it does not error them), but a value
    // too wide for precision 28 THROWS (NUMERIC_VALUE_OUT_OF_RANGE) — the
    // SQL path this fold replaced threw there, DuckDB's oracle cast errors
    // there, and dec28 below throws for the same reason. Silently nulling
    // it would drop product terms from the sums without a trace.
    def dec28(v: Double): java.math.BigDecimal =
      if (v.isNaN || v.isInfinite) null
      else {
        val raw = java.math.BigDecimal.valueOf(v)
        val bd = if (raw.scale <= 12) raw
                 else raw.setScale(12, java.math.RoundingMode.HALF_UP)
        if (bd.precision - bd.scale > 16) throw new ArithmeticException(
          s"covarianceMatrix: $v cannot be represented as DECIMAL(28,12) — " +
            "matches the ANSI NUMERIC_VALUE_OUT_OF_RANGE of the cast it replicates")
        bd
      }
    // ── scaled-long fast accumulation (r15) ────────────────────────────
    // dec28 costs a Double.toString + parse + setScale + BigDecimal add
    // per term (~200 ns); at dim 64 that is 2080 products/row and it
    // DOMINATED the corpus pass (guide §1.2 step 2: per-task work). Every
    // rounded term is an integer multiple of 1e-12, so a term with
    // |v| < 8 is representable as a scaled long k = round_half_away(v·1e12)
    // with |k| < 8e12, and the EXACT decimal sum is the exact integer sum
    // of the ks (spilled into a BigDecimal bucket before a long could
    // overflow). VALUE-equality with the dec28 path is exact, not
    // approximate:
    //   · dec28 rounds the SHORTEST-REPR decimal of v to scale 12 HALF_UP
    //     (= half away from zero; sign handled by |v| symmetry);
    //   · computing p = |v|·1e12 in double perturbs the true scaled value
    //     by < |shortest − v|·1e12 + ulp(p) < 8·2.4e-4 ≈ 2e-3 for |v| < 8
    //     — so whenever frac(p) is at least GuardEps = 4e-3 away from the
    //     0.5 tie, the rounding decision in double provably equals dec28's
    //     (near-INTEGER frac self-corrects: floor may land one low with
    //     frac ≈ 1, and the ≥ 0.5 branch restores it);
    //   · inside the guard band (p ≈ a tie) or at |v| ≥ 8 the term falls
    //     back to dec28 itself — bit-exact by construction, including its
    //     NUMERIC_VALUE_OUT_OF_RANGE throw.
    // CovarianceSpec pins fast ≡ dec28 on adversarial values (exact ties,
    // near-ties, ±, NaN/Inf, magnitudes across the cap).
    val FastCap = 8.0
    val GuardEps = 4e-3
    val NoFast = Long.MinValue
    def fastK(v: Double): Long = { // NoFast ⇒ caller must use dec28
      val av = math.abs(v)
      if (!(av < FastCap)) return NoFast // NaN-safe: NaN fails the <
      val p = av * 1e12
      val k0 = math.floor(p)
      val frac = p - k0
      if (math.abs(frac - 0.5) < GuardEps) return NoFast
      val k = (if (frac >= 0.5) k0 + 1.0 else k0).toLong
      if (v < 0) -k else k
    }
    // one accumulator slot per cell: exact long sum + BigDecimal
    // spill/slow bucket + seen flag (a cell with no non-null term must
    // stay NULL, and 0 ≠ null)
    final class Acc(size: Int) extends Serializable {
      val longs = new Array[Long](size)
      val bds = new Array[java.math.BigDecimal](size)
      val seen = new Array[Boolean](size)
      private def spill(c: Int, k: Long): Unit = {
        val b = java.math.BigDecimal.valueOf(k, 12)
        bds(c) = if (bds(c) == null) b else bds(c).add(b)
      }
      def add(c: Int, v: Double): Unit = {
        if (v.isNaN || v.isInfinite) return // null term ≡ skipped (dec28)
        seen(c) = true
        val k = fastK(v)
        if (k != NoFast) {
          val s = longs(c) + k
          // signed-overflow test (addExact's): on breach the long drains
          // into the BigDecimal bucket — exact integer adds, order-free
          if (((longs(c) ^ s) & (k ^ s)) < 0L) { spill(c, longs(c)); longs(c) = k }
          else longs(c) = s
        } else {
          val d = dec28(v)
          bds(c) = if (bds(c) == null) d else bds(c).add(d)
        }
      }
      def merge(o: Acc): Acc = {
        var c = 0
        while (c < longs.length) {
          val k = o.longs(c)
          val s = longs(c) + k
          if (((longs(c) ^ s) & (k ^ s)) < 0L) { spill(c, longs(c)); longs(c) = k }
          else longs(c) = s
          if (o.bds(c) != null)
            bds(c) = if (bds(c) == null) o.bds(c) else bds(c).add(o.bds(c))
          seen(c) |= o.seen(c)
          c += 1
        }
        this
      }
      /** exact decimal total, null when no non-null term ever landed */
      def total(c: Int): java.math.BigDecimal =
        if (!seen(c)) null
        else {
          val l = java.math.BigDecimal.valueOf(longs(c), 12)
          if (bds(c) == null) l else bds(c).add(l)
        }
    }
    final case class Partial(cells: Acc, dims: Acc, n: Long) {
      def merge(o: Partial): Partial =
        Partial(cells.merge(o.cells), dims.merge(o.dims), n + o.n)
    }
  }

  def covarianceMatrix(corpus: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, s"covarianceMatrix needs dim >= 1, got $dim")
    val spark = corpus.sparkSession
    val nCells = dim * (dim + 1) / 2
    val vecs = corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col(vecCol))
    def elem(a: scala.collection.Seq[Any], k: Int): Double = a(k) match {
      case null => Double.NaN // null element ≡ null product/value (skipped)
      case f: Float => f.toDouble
      case d: Double => d
      case other => other.toString.toDouble
    }
    import CovSum.{Acc, Partial}
    val partials = vecs.rdd.mapPartitions { it =>
      val cells = new Acc(nCells)
      val dsum = new Acc(dim)
      var n = 0L
      val xs = new Array[Double](dim)
      it.foreach { row =>
        val a = row.getSeq[Any](0)
        n += 1
        var i = 0
        while (i < dim) { xs(i) = elem(a, i); i += 1 } // unbox once per row
        i = 0
        var base = 0
        while (i < dim) {
          val xi = xs(i)
          dsum.add(i, xi)
          var j = i
          while (j < dim) {
            cells.add(base + (j - i), xi * xs(j))
            j += 1
          }
          base += dim - i
          i += 1
        }
      }
      if (n == 0L) Iterator.empty else Iterator(Partial(cells, dsum, n))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("i", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("j", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cov", org.apache.spark.sql.types.DoubleType, nullable = true)))
    // decimal adds are exact and commutative, so the tree-merge order is
    // irrelevant; treeAggregate keeps the driver's merge fan-in bounded
    // when the corpus has thousands of partitions (ONE job, empty-safe)
    val t = partials.treeAggregate(
      Partial(new Acc(nCells), new Acc(dim), 0L))(_ merge _, _ merge _, depth = 2)
    val rows: Seq[org.apache.spark.sql.Row] =
      if (t.n == 0L) Seq.empty
      else {
        val nD = t.n.toDouble
        for (i <- 0 until dim; j <- i until dim) yield {
          val c = i * dim - i * (i - 1) / 2 + (j - i)
          val sxy = t.cells.total(c); val sxi = t.dims.total(i); val sxj = t.dims.total(j)
          val cov: Any =
            if (sxy == null || sxi == null || sxj == null) null
            else roundHalfUp((sxy.doubleValue - sxi.doubleValue * sxj.doubleValue / nD) / nD, 6)
          org.apache.spark.sql.Row(i, j, t.n, cov)
        }
      }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /**
   * Power iteration for the covariance matrix's top eigenvector (the first
   * PCA component): v ← normalize(C·v), `iters` fixed rounds from the
   * deterministic uniform start v₀ = 1/√dim. The whole loop is DataFrame
   * algebra — each round is one broadcast join of the (≤ dim²)-row matrix
   * against the dim-row vector, one combinable group-sum, one norm
   * aggregate — so it runs unchanged whether C is 64² or 10⁶ rows sharded
   * across a cluster.
   *
   * Engine-exact determinism (the family device, applied per round):
   * products evaluate in double over ROUNDED inputs, sums accumulate in
   * DECIMAL (exact, partition-order-free), and each new vector component
   * rounds to 9 places before the next round — so a SQL oracle unrolling
   * the same `iters` rounds reproduces every component bit-for-bit. The
   * sign is pinned by the deterministic start.
   *
   * @param cov upper-triangle covariance (i, j, cov) from
   *            [[covarianceMatrix]] (mirrored internally)
   * @return (d, comp) — the unit top eigenvector, comp rounded to 6
   */
  def powerIteration(cov: DataFrame, dim: Int, iters: Int): DataFrame = {
    require(dim >= 1 && iters >= 1, s"powerIteration: dim=$dim iters=$iters")
    eigensolve(cov, None, dim, iters)
  }

  /**
   * Second principal component via DEFLATION: power iteration on the
   * implicitly-deflated operator `A − λ₁v₁v₁ᵀ` — the matrix is never
   * materialized; each round applies `y = A·x − λ₁·v₁·(v₁ᵀx)`, i.e. the
   * same sparse mat-vec as [[powerIteration]] plus one broadcast dot
   * product and a dim-row projection. Extending to component k repeats
   * the device with k−1 deflation terms (k stays small — this is the
   * top-few-components story, not full SVD).
   *
   * `comp1` is the PUBLISHED round-6 component — deflation runs against
   * the same numbers any external engine holds, so the recurrence is
   * engine-reproducible (the in-flight round-9 vector would be exacter
   * but private). Same DECIMAL-sum/round-9/checkpoint devices per round.
   *
   * @return (d, comp) — the second eigenvector, rounded to 6
   */
  def powerIterationDeflated(cov: DataFrame, comp1: DataFrame, dim: Int,
                             iters: Int): DataFrame = {
    require(dim >= 1 && iters >= 1, s"powerIterationDeflated: dim=$dim iters=$iters")
    eigensolve(cov, Some(comp1), dim, iters)
  }

  /** The one size gate of the eigensolve: at or below
    * [[DriverEigensolveMaxDim]] the recurrence runs in the driver JVM
    * ([[powerIterationLocal]]), above it as DataFrame rounds
    * ([[powerIterationDistributed]]). `comp1` = None is [[powerIteration]],
    * Some(v₁) is [[powerIterationDeflated]]. */
  private def eigensolve(cov: DataFrame, comp1: Option[DataFrame], dim: Int,
                         iters: Int): DataFrame =
    if (dim <= DriverEigensolveMaxDim) powerIterationLocal(cov, comp1, dim, iters)
    else powerIterationDistributed(cov, comp1, dim, iters)

  /** Above this dimension the covariance (≤ dim² rows) stops being
    * "vocabulary-sized" and the eigensolve stays distributed; at or below
    * it, [[powerIterationLocal]] collects the matrix once (≤ ~525k rows ≈
    * 20 MB at the gate) and iterates in-JVM — eliminating the 10-second
    * per-query floor of `iters` Spark job rounds over a 64×64 matrix
    * (BENCH_r11's recurring emb_pca2 suspect). Same precedent as BPE
    * training: corpus-sized work is distributed, model-sized work is
    * driver-side. */
  val DriverEigensolveMaxDim = 1024

  /** Spark round() on DOUBLE: shortest-decimal-repr BigDecimal, HALF_UP
    * — replicated exactly so the local path is bit-identical to the
    * published distributed recurrence. */
  private def roundHalfUp(v: Double, s: Int): Double =
    if (v.isNaN || v.isInfinite) v
    else java.math.BigDecimal.valueOf(v).setScale(s, java.math.RoundingMode.HALF_UP)
      .doubleValue

  /** Spark `CAST(x AS DECIMAL(38,12))` under this repo's ANSI session:
    * NaN/Infinity cast to NULL (measured — ANSI does not error the
    * non-finite case), a value too wide for precision 38 THROWS
    * (ANSI NUMERIC_VALUE_OUT_OF_RANGE), finite in-range values take the
    * valueOf repr HALF_UP to scale 12 — the recurrence's exact-sum
    * device, null-faithful so degenerate inputs behave like the
    * distributed recurrence instead of crashing in BigDecimal.valueOf. */
  private def dec12(v: Double): java.math.BigDecimal =
    if (v.isNaN || v.isInfinite) null
    else {
      val bd = java.math.BigDecimal.valueOf(v).setScale(12, java.math.RoundingMode.HALF_UP)
      if (bd.precision - bd.scale > 26) throw new ArithmeticException(
        s"powerIteration: $v cannot be represented as DECIMAL(38,12) — " +
          "matches the distributed path's ANSI NUMERIC_VALUE_OUT_OF_RANGE")
      bd
    }

  /** Collect the upper-triangle covariance and mirror it to an entry
    * list, tracking which row indices exist at all (an index with no
    * entries produces NO output row in the distributed group-by — the
    * local path replicates that, not a dense zero). A null cov cell
    * (non-finite input element, see [[covarianceMatrix]]) stays null —
    * the SQL recurrence's sums skip it, so the local one must too. */
  private def collectEntries(cov: DataFrame): Array[(Int, Int, java.lang.Double)] = {
    val tri = cov.select(col("i").cast("int"), col("j").cast("int"),
      col("cov").cast("double")).collect()
    val buf = new scala.collection.mutable.ArrayBuffer[(Int, Int, java.lang.Double)](tri.length * 2)
    tri.foreach { r =>
      val i = r.getInt(0); val j = r.getInt(1)
      val c: java.lang.Double = if (r.isNullAt(2)) null else Double.box(r.getDouble(2))
      buf += ((i, j, c)); if (i != j) buf += ((j, i, c))
    }
    buf.toArray
  }

  /** In-JVM replay of [[powerIterationDistributed]]'s EXACT recurrence —
    * decimal(38,12) product sums, sqrt-of-decimal norm, per-round
    * round-9, final round-6, and with `comp1` the deflation term in the
    * same expression order (`ay − λ·v₁·dp`, left-associated) —
    * bit-for-bit identical output (spec-pinned against the distributed
    * path), minus the per-round Spark job floor.
    *
    * Degenerate-input semantics mirror the SQL plan under ANSI: a vector
    * element is either absent (no row: the SQL joins drop it, and a
    * deflation term exists only where BOTH the mat-vec row and v₁ have the
    * index) or present with a null value (null cov cells / null comps
    * propagate as SQL nulls, skipped by the decimal sums, nulling the
    * quotient), and a ZERO norm throws — the distributed division
    * `__y / 0.0` is an ANSI DIVIDE_BY_ZERO error, not a NaN. */
  private[graft] def powerIterationLocal(cov: DataFrame, comp1: Option[DataFrame],
                                         dim: Int, iters: Int): DataFrame = {
    val spark = cov.sparkSession
    val entries = collectEntries(cov)
    // A·v over a vector with a presence mask: row i exists when an entry
    // (i, j) meets a present j, even when every product is null
    def matvec(v: Array[java.lang.Double], vp: Array[Boolean])
        : (Array[java.lang.Double], Array[Boolean]) = {
      val sums = new Array[java.math.BigDecimal](dim) // null ≡ SQL null sum
      val hit = new Array[Boolean](dim)
      entries.foreach { case (i, j, c) =>
        if (vp(j)) {
          hit(i) = true
          val xj = v(j)
          if (c != null && xj != null) {
            val p = dec12(c.doubleValue * xj.doubleValue)
            if (p != null) sums(i) = if (sums(i) == null) p else sums(i).add(p)
          }
        }
      }
      (Array.tabulate(dim)(i =>
        if (hit(i) && sums(i) != null) Double.box(sums(i).doubleValue) else null), hit)
    }
    // a null-skipping decimal dot product over indices where both sides
    // have rows — SQL `sum((a*b)::decimal)`: null over no non-null terms
    def dot(a: Array[java.lang.Double], b: Array[java.lang.Double],
            idx: Int => Boolean): java.lang.Double = {
      var s: java.math.BigDecimal = null
      for (d <- 0 until dim if idx(d) && a(d) != null && b(d) != null) {
        val p = dec12(a(d).doubleValue * b(d).doubleValue)
        if (p != null) s = if (s == null) p else s.add(p)
      }
      if (s == null) null else Double.box(s.doubleValue)
    }
    // deflation state: v₁ (null ≡ SQL NULL comp), hasV1 ("comp1 has row
    // d" — the null-vs-absent split the SQL joins make) and λ₁ = v₁ᵀ·A·v₁
    val deflation = comp1.map { c =>
      val v1 = new Array[java.lang.Double](dim)
      val hasV1 = new Array[Boolean](dim)
      c.select(col("d").cast("int"), col("comp").cast("double")).collect()
        .foreach { r =>
          val d = r.getInt(0); hasV1(d) = true
          v1(d) = if (r.isNullAt(1)) null else Double.box(r.getDouble(1))
        }
      val (av1, av1Hit) = matvec(v1, hasV1)
      (v1, hasV1, dot(v1, av1, d => av1Hit(d) && hasV1(d)))
    }
    // x(d) = null ≡ SQL NULL; present(d) = "row d exists in the vector"
    var x: Array[java.lang.Double] =
      Array.fill(dim)(Double.box(roundHalfUp(1.0 / math.sqrt(dim.toDouble), 9)))
    var present = Array.fill(dim)(true)
    for (_ <- 1 to iters) {
      val (ax, axHit) = matvec(x, present)
      val (y, hit) = deflation match {
        case None => (ax, axHit)
        case Some((v1, hasV1, lam)) =>
          val dp = dot(v1, x, d => present(d) && hasV1(d))
          val bHit = Array.tabulate(dim)(d => axHit(d) && hasV1(d))
          // y = __ay − __l·comp·__dp, null-propagating like the SQL expression
          (Array.tabulate[java.lang.Double](dim) { d =>
            if (!bHit(d) || ax(d) == null || lam == null || v1(d) == null || dp == null) null
            else Double.box(
              ax(d).doubleValue - lam.doubleValue * v1(d).doubleValue * dp.doubleValue)
          }, bHit)
      }
      val nsum = dot(y, y, hit)
      val norm: java.lang.Double =
        if (nsum == null) null else Double.box(math.sqrt(nsum.doubleValue))
      if (norm != null && norm.doubleValue == 0.0) throw new ArithmeticException(
        (if (comp1.isEmpty) "powerIteration: zero norm (degenerate covariance spectrum)"
         else "powerIterationDeflated: zero norm (degenerate deflated spectrum)") +
          " — matches the distributed path's ANSI DIVIDE_BY_ZERO")
      x = Array.tabulate(dim) { d =>
        if (!hit(d) || y(d) == null || norm == null) null
        else Double.box(roundHalfUp(y(d).doubleValue / norm.doubleValue, 9))
      }
      present = hit
    }
    val out = (0 until dim).filter(present)
      .map(d => (d, Option(x(d)).map(v => roundHalfUp(v.doubleValue, 6))))
    import spark.implicits._
    out.toDF("d", "comp")
  }

  /** The published recurrence as DataFrame rounds; with `comp1`, each
    * round subtracts the deflation term `λ₁·v₁·(v₁ᵀx)` from the mat-vec on
    * the indices v₁ has. */
  private[graft] def powerIterationDistributed(cov: DataFrame, comp1: Option[DataFrame],
                                               dim: Int, iters: Int): DataFrame = {
    val spark = cov.sparkSession
    val full = cov.select(col("i"), col("j"), col("cov"))
      .unionByName(cov.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("cov")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def matvec(v: DataFrame): DataFrame =
      full.join(broadcast(v), full("j") === v("d"))
        .groupBy(col("i").as("d"))
        .agg(sum((col("cov") * col("x")).cast("decimal(38,12)"))
          .cast("double").as("__ay"))
    // deflation state: v₁ and the one-row λ₁ = v₁ᵀ·A·v₁
    val deflation = comp1.map { c =>
      val v1 = c.select(col("d"), col("comp"))
      val lam = matvec(v1.select(col("d"), col("comp").as("x")))
        .join(broadcast(v1), Seq("d"))
        .agg(sum((col("comp") * col("__ay")).cast("decimal(38,12)"))
          .cast("double").as("__l"))
      (v1, lam)
    }
    val v0 = spark.range(dim).select(col("id").cast("int").as("d"),
      round(lit(1.0) / sqrt(lit(dim.toDouble)), 9).as("x"))
    val vFinal = (1 to iters).foldLeft(v0) { (v, _) =>
      val ax = matvec(v)
      val y = deflation match {
        case None => ax.select(col("d"), col("__ay").as("__y"))
        case Some((v1, lam)) =>
          val dp = v.join(broadcast(v1), Seq("d"))
            .agg(sum((col("comp") * col("x")).cast("decimal(38,12)"))
              .cast("double").as("__dp"))
          ax.join(broadcast(v1), Seq("d"))
            .crossJoin(broadcast(lam)).crossJoin(broadcast(dp))
            .select(col("d"), (col("__ay") - col("__l") * col("comp") * col("__dp")).as("__y"))
      }
      val norm = y.agg(
        sqrt(sum((col("__y") * col("__y")).cast("decimal(38,12)")).cast("double"))
          .as("__n"))
      // eager per-round checkpoint: the dim-row vector materializes NOW and
      // the next round's plan reads it instead of re-deriving every earlier
      // round inside its broadcast subtrees (measured: the nested lineage
      // re-executed the covariance input once per round — O(iters²) work)
      y.crossJoin(broadcast(norm))
        .select(col("d"), round(col("__y") / col("__n"), 9).as("x"))
        .localCheckpoint()
    }
    val out = vFinal.select(col("d"), round(col("x"), 6).as("comp"))
    graft.util.CacheLifecycle.releaseOnFirstAction(out, full)
  }

  /**
   * Project every corpus vector onto a component (e.g. [[powerIteration]]'s
   * top eigenvector): score = Σ xᵈ·compᵈ — the dimensionality-reduction /
   * concept-score step after PCA training. One posexplode inside the scan
   * stage, a broadcast join against the dim-row component, one combinable
   * per-vector sum in DECIMAL (exact, order-free) → deterministic scores.
   *
   * @param comp (d, comp) — one row per dimension
   * @return (vec_id, score) rounded to 6
   */
  def projectComponent(corpus: DataFrame, vecCol: String, comp: DataFrame,
                       dim: Int): DataFrame =
    corpus.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
      .select(col("vec_id"),
        posexplode(transform(col(vecCol), x => x.cast("double"))).as(Seq("d", "x")))
      .join(broadcast(comp), Seq("d"))
      .groupBy("vec_id")
      .agg(round(sum((col("x") * col("comp")).cast("decimal(38,10)")).cast("double"), 6)
        .as("score"))

  /**
   * Spherical k-means (Lloyd's iterations, cosine assignment): the trained
   * coarse quantizer that [[ivfKnn]] / [[semanticNearDup]] take as given —
   * run offline over the corpus, swap the resulting centroids in.
   *
   * Deterministic by construction, down to the floating point: init is the
   * md5-ordered sample ([[ivfCentroids]]); per-dimension means accumulate
   * in DECIMAL(28,12) (exact, order-insensitive — a double sum would vary
   * with partition order) and divide in double; assignment rounds cosine
   * to 6 places with id tie-breaks. Each iteration is one broadcast of the
   * k centroids against a corpus scan + two combinable aggregations (never
   * a corpus shuffle on anything but the k-sized cell key); empty cells
   * drop out, matching standard Lloyd behavior.
   *
   * @return (cell, c_emb ARRAY<DOUBLE>) after `iters` full iterations
   */
  def kmeansCentroids(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val c2 = corpus.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
    var cent = ivfCentroids(c2, k)
      .select(col("cell"), col("c_emb"))
    for (_ <- 0 until iters) {
      val w = Window.partitionBy("vec_id").orderBy(col("c_sim").desc, col("cell").asc)
      val assigned = c2.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("embedding"), col("cell"),
          round(cosine(col("embedding"), col("c_emb")), 6).as("c_sim"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("cell"), col("embedding"))
      cent = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("p", "x")))
        .groupBy(col("cell"), col("p"))
        .agg((sum(col("x").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("p"), col("m")))),
          s => s.getField("m")).as("c_emb"))
    }
    cent
  }

  /**
   * Semantic near-duplicate pairs, cluster-bucketed (the published
   * embedding-dedup recipe for web-scale corpora: cluster, then compare
   * only within clusters): every vector is assigned to its nearest coarse-
   * quantizer cell ([[ivfAssign]] — one broadcast pass over the corpus),
   * and exact cosine runs only on same-cell pairs via a cell-keyed
   * self-join. Cost is Θ(Σ |cell|²) ≈ |corpus|²/numCells at uniform
   * occupancy — the sub-quadratic approximate path that complements
   * [[nearDupPairs]]' exact-but-Θ(n²) contract; recall is high exactly in
   * the high-similarity regime dedup targets (near-identical vectors
   * quantize to the same cell) and the deterministic quantizer makes the
   * output SQL-oracle-expressible.
   */
  def semanticNearDup(corpus: DataFrame, threshold: Double, numCells: Int = 16): DataFrame = {
    val inv = ivfAssign(corpus, numCells)
    val a = inv.select(col("cell"), col("vec_id").as("a"), col("embedding").as("ea"))
    val b = inv.select(col("cell"), col("vec_id").as("b"), col("embedding").as("eb"))
    a.join(b, Seq("cell")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), round(cosine(col("ea"), col("eb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /**
   * LSH-bucketed ANN top-k: candidates restricted to vectors sharing any of
   * several hash-table buckets, then exact cosine rank within candidates.
   * Shuffle is by bucket key — no cross join, the 100 TB path.
   *
   * Sizing (MEASURED on a Gaussian-cluster corpus, n=40k, 64 centers,
   * spread 0.3 — the clustered regime real embeddings live in; see
   * NOTES_r13 §7): recall@10 falls 0.97 → 0.93 → 0.86 → 0.78 → 0.66 as
   * numBits goes 4→12 while candidate work falls geometrically —
   * `numBits ≈ log₂(n) − 7` holds
   * ~0.86 recall on plain LSH. Prefer [[lshMultiProbeKnn]] when recall
   * matters: it held 0.97-1.00 across the SAME sweep at identical index
   * size. (On near-uniform random vectors — the sf* synthetic tables —
   * absolute recall is data-limited and much lower; the clustered corpus
   * is the calibration anchor.)
   */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             dim: Int, numBits: Int = 12, tables: Int = 4): DataFrame =
    topKPerQuery(lshCandidates(corpus, queries, dim, numBits, tables, multiProbe = false),
      col("sim").desc, k)

  /** The LSH candidate generator of [[lshKnn]] and [[lshMultiProbeKnn]]:
    * query and corpus vectors meet on a shared (table, bucket) key, one
    * bucket row per (vector, table) on the corpus side; `multiProbe` adds
    * the `numBits` single-bit-flip buckets per table on the query side.
    * The bucket join and the distinct move IDS ONLY — carrying the two
    * embedding arrays through them multiplies the shuffle by the vector
    * width (measured 3x wall on the corpus-vs-corpus join); the vectors
    * join back by id exactly once each for the scoring pass, the same
    * render-late discipline as the pattern engine's MatrixTuples.
    * @return (q_id, vec_id, sim) — every candidate, scored */
  private def lshCandidates(corpus: DataFrame, queries: DataFrame, dim: Int,
                            numBits: Int, tables: Int, multiProbe: Boolean): DataFrame = {
    def withBuckets(df: DataFrame, idAs: String): DataFrame =
      df.select(col("vec_id").as(idAs),
        posexplode(array((0 until tables).map(t =>
          lshBucket(col("embedding"), dim, numBits, seed = t)): _*))
          .as(Seq("table", "bucket")))
    val qb = withBuckets(queries, "q_id")
    val probes = if (!multiProbe) qb else qb.select(col("q_id"), col("table"),
      explode(array(col("bucket") +: (0 until numBits).map(b =>
        col("bucket").bitwiseXOR(lit(1L << b))): _*)).as("bucket"))
    probes.join(withBuckets(corpus, "vec_id"), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
      .join(corpus.select(col("vec_id"), col("embedding").as("emb")), Seq("vec_id"))
      .join(queryVectors(queries), Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("emb")), 6).as("sim"))
  }

  /**
   * Multi-probe LSH top-k: each query probes its own bucket PLUS the
   * `numBits` single-bit-flip neighbors in every table — the recall lever
   * that costs ZERO index growth (more tables multiply the stored index;
   * more probes only multiply the query side's bucket keys). Bit-flip
   * probing is the deterministic variant of query-directed multi-probe
   * (flipping the lowest-margin bits first); flipping ALL single bits
   * dominates any margin ordering of the same depth, at numBits+1 probes
   * per table. Candidates move as IDS ONLY (the [[lshKnn]] render-late
   * shape); the corpus side stays one bucket row per (vector, table).
   *
   * Measured operating point (clustered corpus, NOTES_r13 §7): recall@10
   * ≥ 0.97 at every numBits in 4..12 (1.000 at ≤6, 0.985 at 10, 0.969 at
   * 12) — so size numBits for CANDIDATE BUDGET alone (`≈ log₂(n) − 4`
   * keeps expected bucket occupancy ~16) and let multi-probe carry the
   * recall; this is the recommended production default of the LSH family.
   *
   * @return (q_id, vec_id, sim, rank ≤ k)
   */
  def lshMultiProbeKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                       dim: Int, numBits: Int = 12, tables: Int = 4): DataFrame =
    topKPerQuery(lshCandidates(corpus, queries, dim, numBits, tables, multiProbe = true),
      col("sim").desc, k)

  // --- product quantization (PQ): the embedding MEMORY story at 100 TB ---
  // A 768-dim float32 vector is 3 KB; its m PQ codes are m bytes. Encoding
  // turns the corpus scan of an ANN query into code-table lookups against a
  // broadcast per-query distance table (asymmetric distance computation);
  // raw vectors are only touched by an optional final rerank. Everything
  // here is deterministic (md5-ordered init, DECIMAL-exact means, integer-
  // micros distances) so a SQL oracle reproduces train/encode/search
  // bit-for-bit — the same contract as the IVF/LSH/k-means family above.

  /** L2² distance as three sequential dot products — the formula (not a
    * fused subtraction loop) so any engine evaluating the same three dots
    * left-to-right reproduces the double bit-for-bit. */
  private def l2sq(a: Column, b: Column): Column =
    dot(a, a) + dot(b, b) - lit(2.0) * dot(a, b)

  /** One row per (vec_id, sub): the sub-th length-`d` slice, doubles. */
  private def subVectors(corpus: DataFrame, m: Int, d: Int): DataFrame =
    corpus.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(m - 1)),
        s => slice(transform(col("embedding"), x => x.cast("double")),
          s * d + 1, lit(d)))).as(Seq("sub", "v")))
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("v"))

  /**
   * Per-subspace codebooks: split `dim` into `m` subspaces of dim/m, run
   * `iters` rounds of deterministic k-means (ksub centroids) in EVERY
   * subspace simultaneously — one plan per round for all subspaces (the
   * per-round work is a broadcast argmin assignment + one combinable
   * (sub, cell, dim) mean, exactly the [[kmeansCentroids]] device keyed by
   * an extra `sub` column). Init = the md5-of-id-first `ksub` vectors'
   * slices (same ids for every subspace).
   *
   * @return (sub, cell, c_sub ARRAY<DOUBLE>)
   */
  def pqTrain(corpus: DataFrame, dim: Int, m: Int = 4, ksub: Int = 8,
              iters: Int = 2): DataFrame = {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val d = dim / m
    val sv = subVectors(corpus, m, d)
    var cent = md5First(corpus.select(col("vec_id")), ksub)
      .select(col("vec_id"), col("cell"))
      .join(sv, Seq("vec_id"))
      .select(col("sub"), col("cell"), col("v").as("c_sub"))
    for (_ <- 0 until iters) {
      val w = Window.partitionBy("vec_id", "sub")
        .orderBy(col("d2").asc, col("cell").asc)
      val assigned = sv.join(broadcast(cent), Seq("sub"))
        .select(col("vec_id"), col("sub"), col("v"), col("cell"),
          round(l2sq(col("v"), col("c_sub")), 6).as("d2"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("sub"), col("cell"), col("v"))
      cent = assigned
        .select(col("sub"), col("cell"), posexplode(col("v")).as(Seq("p", "x")))
        .groupBy(col("sub"), col("cell"), col("p"))
        .agg((sum(col("x").cast("decimal(28,12)")).cast("double") / count(lit(1))).as("mu"))
        .groupBy(col("sub"), col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("p"), col("mu")))),
          s => s.getField("mu")).as("c_sub"))
    }
    cent
  }

  /** Encode every vector: per (vec_id, sub), the argmin-L2² codebook cell.
    * Exploded (vec_id, sub, code) layout — hashes stably and is exactly the
    * shape the ADC join consumes; packing to m bytes is a storage detail. */
  def pqEncode(corpus: DataFrame, dim: Int, m: Int = 4, ksub: Int = 8,
               iters: Int = 2): DataFrame =
    pqEncodeWith(corpus, pqTrain(corpus, dim, m, ksub, iters), dim, m)

  /** [[pqEncode]] against an ALREADY-trained codebook — the overload that
    * lets a caller train once and reuse the (sub, cell, c_sub) table for
    * encoding AND query distance tables ([[pqKnn]] threads one codebook
    * through both instead of re-running the iters×window training twice). */
  def pqEncodeWith(corpus: DataFrame, cent: DataFrame, dim: Int, m: Int = 4): DataFrame = {
    val sv = subVectors(corpus, m, dim / m)
    val w = Window.partitionBy("vec_id", "sub").orderBy(col("d2").asc, col("cell").asc)
    sv.join(broadcast(cent), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("cell"),
        round(l2sq(col("v"), col("c_sub")), 6).as("d2"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .select(col("vec_id"), col("sub"), col("cell").as("code"))
  }

  /**
   * Asymmetric-distance top-k: per query, a distance TABLE (query subvector
   * vs every codebook centroid — |queries|·m·ksub rows, broadcast) joins
   * the code table on (sub, code); the per-pair score is the SUM of m
   * table entries. Distances are integer MICROS (round(d2·10⁶)) so the
   * m-term sum is exact integer arithmetic — no cross-engine float-sum
   * order to match. The corpus is scanned once as codes; raw vectors never
   * join. Queries are a bounded set (the broadcast contract shared with
   * [[bruteForceKnn]]).
   *
   * @return (q_id, vec_id, d2_micros, rank)
   */
  def pqKnn(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
            m: Int = 4, ksub: Int = 8, iters: Int = 2): DataFrame = {
    // ONE training run serves both consumers: the codebook (m·ksub rows) is
    // persisted so the code table and the query distance table share one
    // evaluation of the iters×window-heavy training subtree, released after
    // the result's first action (bounded memory in a long session)
    val cent = pqTrain(corpus, dim, m, ksub, iters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val result = adcTopK(pqEncodeWith(corpus, cent, dim, m), queries, cent, k, dim, m)
    graft.util.CacheLifecycle.releaseOnFirstAction(result, cent)
  }

  /** The ADC scorer of [[pqKnn]] and [[ivfPqKnn]]: the per-query distance
    * table (each query subvector against every codebook centroid, L2² in
    * integer micros) is broadcast against the candidate codes on (sub,
    * code), and also on q_id when the candidates already carry one; each
    * (q_id, vec_id) pair scores the exact integer sum of its m entries and
    * ranks ascending.
    * @param cands (vec_id, sub, code[, q_id, …]) candidate code rows */
  private def adcTopK(cands: DataFrame, queries: DataFrame, cent: DataFrame,
                      k: Int, dim: Int, m: Int): DataFrame = {
    val distTable = subVectors(queries.select(col("vec_id"), col("embedding")), m, dim / m)
      .select(col("vec_id").as("q_id"), col("sub"), col("v"))
      .join(broadcast(cent), Seq("sub"))
      .select(col("q_id"), col("sub"), col("cell").as("code"),
        round(l2sq(col("v"), col("c_sub")) * 1e6).cast("long").as("dm"))
    val scored = cands
      .join(broadcast(distTable), Seq("q_id", "sub", "code").filter(cands.columns.contains))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("dm")).as("d2_micros"))
    topKPerQuery(scored, col("d2_micros").asc, k)
  }

  /**
   * IVF + PQ (the FAISS IVFADC index shape): a coarse quantizer routes
   * every corpus vector into one of `numCells` inverted lists
   * ([[ivfAssign]]); the fine index stores only the m-byte PQ codes
   * ([[pqEncodeWith]]); a query probes its `nprobe` nearest coarse cells
   * and ADC-scores ONLY the codes in those cells — the two scale levers
   * composed: candidate count drops by ~nprobe/numCells AND the candidate
   * scan touches codes, never raw vectors. Same integer-micros ADC
   * arithmetic as [[pqKnn]], so with nprobe = numCells the result is
   * exactly pqKnn (the property the spec pins).
   *
   * Scale shape: the probe table (|queries|·nprobe) and the distance table
   * (|queries|·m·ksub) are broadcast (bounded-query contract shared with
   * [[bruteForceKnn]]); the code table is scanned once, pre-filtered by the
   * broadcast probe join before any per-query work — no shuffle of the
   * corpus, no raw-vector join. PQ codebooks are non-residual (trained on
   * the full vectors, not cell residuals) so training stays ONE shared
   * subtree and the oracle stays expressible; residual PQ buys recall at
   * small nprobe but costs numCells× training — documented trade, not a gap.
   *
   * Sizing (MEASURED on the clustered calibration corpus, NOTES_r13 §7):
   * the defaults (m=4, ksub=8 → 12 code bits/vector) are for ORACLE
   * DETERMINISM, not production — on clustered data every same-cluster
   * vector quantizes to the same code, ADC ties, and recall@10 collapses
   * to ~k/|cluster| (measured 0.03) while plain [[ivfKnn]] on the SAME
   * cells reads 0.99-1.00. Recall recovers monotonically with code
   * resolution (m·log₂ksub: 12→0.03, 80→0.08, 128→0.23, 192→0.39) — size
   * code bits to INTRA-cluster resolution (≥ 2·log₂ of expected cluster
   * occupancy as a floor), or drop PQ and use [[ivfKnn]] when candidate
   * lists fit the raw-vector scan budget.
   *
   * @return (q_id, vec_id, d2_micros, rank ≤ k within probed cells)
   */
  def ivfPqKnn(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
               numCells: Int = 16, nprobe: Int = 4,
               m: Int = 4, ksub: Int = 8, iters: Int = 2): DataFrame = {
    val cent = pqTrain(corpus, dim, m, ksub, iters)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // one persisted coarse-centroid table serves the corpus assignment AND
    // the query probe ranking — un-shared, the corpus-scan TakeOrdered
    // centroid derivation sat in the plan twice (r15)
    val coarseCent = ivfCentroids(corpus, numCells)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val coarse = ivfAssignWith(corpus, coarseCent).select(col("vec_id"), col("cell"))
    val probed = probeCells(queryVectors(queries), coarseCent, nprobe).select("q_id", "cell")
    val cands = pqEncodeWith(corpus, cent, dim, m).join(coarse, Seq("vec_id"))
      .join(broadcast(probed), Seq("cell"))
    val result = adcTopK(cands, queries, cent, k, dim, m)
    graft.util.CacheLifecycle.releaseOnFirstAction(result, cent, coarseCent)
  }
}
