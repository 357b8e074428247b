package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.TpchGraph
import graft.kernel._
import graft.algorithms.Algorithms

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: 2-hop Cypher pattern over the TPC-H-derived property graph. */
  def entry(spark: SparkSession): DataFrame =
    queries("cy_2hop")(spark, "/root/testdata/sf0.001")

  /** One resident GraphDB per data directory: graph DataFrames cached,
    * stats computed once — the "load once, query many" posture of the
    * reference's in-memory graph (its stats are maintained online per
    * insert; ours snapshot at first query). */
  private val dbCache = scala.collection.concurrent.TrieMap.empty[String, GraphDB]
  private def db(spark: SparkSession, dir: String): GraphDB =
    dbCache.getOrElseUpdate(dir, new GraphDB(TpchGraph(spark, dir).cache()))

  /** The TPC-H typed graph is a DAG, so directed cycles never match on it;
    * the part ORDER-SEQUENCE graph (consecutive lineitems of an order
    * connect their parts) has real directed triangles — the resident
    * GraphDB that pins the planner's cycle-closing edge predicate
    * (Planner cycle close) end-to-end against a DuckDB oracle. */
  private val partSeqDbCache = scala.collection.concurrent.TrieMap.empty[String, GraphDB]
  private def partSeqDb(s: SparkSession, dir: String): GraphDB =
    partSeqDbCache.getOrElseUpdate(dir, {
      val parts = t(s, dir, "part").select(col("p_partkey").cast("long").as("id"),
        lit("part").as("label"), col("p_name").cast("string").as("name"),
        col("p_retailprice").cast("double").as("value"))
      val edges = partSeqEdges(s, dir, mod = 2)
        .select(col("src").cast("long"), col("dst").cast("long"),
          lit("NEXT").as("etype"), lit(null).cast("double").as("weight"))
      new GraphDB(graft.graph.PropertyGraph(parts, edges, edgesDistinct = true).cache())
    })

  private def graph(spark: SparkSession, dir: String) = db(spark, dir).graph

  /** Materialize the resident graph + stats for a data dir (load phase —
    * not attributable to any single query; Bench calls this before timing
    * and again after each query's cache reset). `.cache()` is re-applied
    * because `spark.catalog.clearCache()` drops the registration, not just
    * the data — re-warming must re-mark AND re-materialize. */
  def warm(spark: SparkSession, dir: String): Unit = {
    val d = db(spark, dir)
    d.stats
    d.graph.nodes.cache().count()
    d.graph.edges.cache().count()
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Conductance replay over the LPA partition: per-community cut/vol
    * integer aggregates, one double division per row. */
  /** Shared by ev_funnel (per-stage min-agg fold) and stream_funnel
    * (stateful sequential scan): both compute the first-occurrence chain. */
  private val funnelOracleSql: String =
    "WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events " +
    "WHERE event_type = 'view' GROUP BY 1), " +
    "s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id) " +
    "WHERE event_type = 'click' AND ts > t1 GROUP BY 1), " +
    "s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id) " +
    "WHERE event_type = 'purchase' AND ts > t2 GROUP BY 1) " +
    "SELECT u.user_id, CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 " +
    "WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage " +
    "FROM (SELECT DISTINCT user_id FROM events) u " +
    "LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"

  /** Shared by sketch_hll_sliding (batch per-slide register merge) and
    * stream_hll_sliding (one sliding streaming aggregate): identical
    * registers, identical estimate expression. */
  private val hllSlidingOracleSql: String =
    "WITH h AS (SELECT (epoch(ts)::BIGINT // 21600) AS b, " +
       "('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT % 512 AS idx, " +
       "CASE WHEN ('0x'||substr(md5(CAST(user_id AS VARCHAR)),9,8))::BIGINT = 0 THEN 33 " +
       "ELSE 33 - len(bin(('0x'||substr(md5(CAST(user_id AS VARCHAR)),9,8))::BIGINT)) END AS r " +
       "FROM events WHERE user_id IS NOT NULL), " +
       "regs AS (SELECT b, idx, max(r) AS r FROM h GROUP BY 1, 2), " +
       "w AS (SELECT (b - o.o) * 21600 AS w_start, idx, max(r) AS r FROM regs, " +
       "(SELECT unnest(generate_series(0, 3)) AS o) o GROUP BY 1, 2), " +
       "agg AS (SELECT w_start, count(*) AS nz, sum(power(2.0, -r)) AS hs FROM w GROUP BY 1) " +
       "SELECT w_start, round(CASE WHEN raw <= 1280.0 AND zeros > 0 " +
       "THEN 512.0 * ln(512.0 / zeros) ELSE raw END, 4) AS est FROM " +
       "(SELECT w_start, (0.7213/(1.0+1.079/512.0))*512.0*512.0/((512.0-nz)+hs) AS raw, " +
       "512.0 - nz AS zeros FROM agg)"

  /** Shared by ev_ewma (window expression) and stream_ewma (stateful fold):
    * both engines sum the same 8 lag terms in the same left-to-right order
    * with exact 2^-k weight literals, so values are bit-identical before
    * the final round(6). */
  private val ewmaOracleSql: String = {
    val lags = (0 until 8).map(k => s"lag(value, $k) OVER w AS l$k").mkString(", ")
    val num = (0 until 8).map(k =>
      s"CASE WHEN l$k IS NOT NULL THEN ${math.pow(0.5, k)} * l$k ELSE 0 END").mkString(" + ")
    val den = (0 until 8).map(k =>
      s"CASE WHEN l$k IS NOT NULL THEN ${math.pow(0.5, k)} ELSE 0 END").mkString(" + ")
    s"WITH l AS (SELECT event_id, user_id, $lags FROM events " +
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) " +
    "SELECT event_id, user_id, round(CASE WHEN den > 0 THEN num / den END, 6) AS ewma " +
    s"FROM (SELECT event_id, user_id, $num AS num, $den AS den FROM l)"
  }

  private def conductanceOracle(stages: Int): String =
    lpaCte(stages) +
      ", und AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b " +
      "FROM e0 WHERE a <> b), " +
      "deg AS (SELECT id, count(*) AS k FROM (SELECT a AS id FROM und " +
      "UNION ALL SELECT b AS id FROM und) GROUP BY 1), " +
      s"tg AS (SELECT la.lab AS ca, lb.lab AS cb FROM und " +
      s"JOIN l$stages la ON und.a = la.id JOIN l$stages lb ON und.b = lb.id), " +
      "ct AS (SELECT community, count(*)::BIGINT AS cut FROM " +
      "(SELECT ca AS community FROM tg WHERE ca <> cb " +
      "UNION ALL SELECT cb FROM tg WHERE ca <> cb) GROUP BY 1), " +
      s"vl AS (SELECT l.lab AS community, sum(k)::BIGINT AS vol " +
      s"FROM l$stages l JOIN deg USING (id) GROUP BY 1), " +
      "mm AS (SELECT count(*)::BIGINT AS m FROM und) " +
      "SELECT vl.community, vl.vol, coalesce(ct.cut, 0)::BIGINT AS cut, " +
      "round(CASE WHEN least(vl.vol, 2 * mm.m - vl.vol) > 0 " +
      "THEN coalesce(ct.cut, 0) / least(vl.vol, 2 * mm.m - vl.vol)::DOUBLE END, 6) AS phi " +
      "FROM vl LEFT JOIN ct ON vl.community = ct.community, mm"

  /** Oracle-side mirror of [[graft.sources.Layout.zValue]]: the explicit
    * bit-interleave expression over two integer SQL expressions. */
  private def zOracleExpr(x: String, y: String, bits: Int): String =
    (0 until bits).map(k =>
      s"((($x >> $k) & 1) << ${2 * k}) | ((($y >> $k) & 1) << ${2 * k + 1})")
      .mkString(" | ")

  /** Covariance-matrix CTE prelude ending at `cv(i, j, n, cov)` — shared
    * by the emb_covariance oracle and the PCA power-iteration oracle. */
  private def covCte(dim: Int): String =
    "WITH e AS (SELECT vec_id, unnest(range(len(embedding)))::INT AS i, " +
      "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings " +
      s"WHERE embedding IS NOT NULL AND len(embedding) = $dim), " +
      "p AS (SELECT a.i AS i, b.i AS j, " +
      "sum(CAST(a.x * b.x AS DECIMAL(28,12))) AS sxy, count(*)::BIGINT AS n " +
      "FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i GROUP BY 1, 2), " +
      "d AS (SELECT i, sum(CAST(x AS DECIMAL(28,12))) AS sx FROM e GROUP BY 1), " +
      "cv AS (SELECT p.i, p.j, p.n, round((CAST(sxy AS DOUBLE) - " +
      "CAST(di.sx AS DOUBLE) * CAST(dj.sx AS DOUBLE) / p.n) / p.n, 6) AS cov " +
      "FROM p JOIN d di ON p.i = di.i JOIN d dj ON p.j = dj.i)"

  /** Power-iteration CTE prelude ending at `v<iters>(d, x)`: mirror cv to
    * the full matrix, then `iters` unrolled rounds of decimal
    * matrix-vector sums + per-round 9-place rounding — the Spark side's
    * exactness device, so every component matches bit-for-bit. */
  private def pcaCte(dim: Int, iters: Int): String = {
    val sb = new StringBuilder(covCte(dim) +
      ", f AS (SELECT i, j, cov AS c FROM cv " +
      "UNION ALL SELECT j, i, cov FROM cv WHERE i <> j), " +
      s"v0 AS (SELECT unnest(range($dim))::INT AS d, " +
      s"round(1.0/sqrt($dim.0), 9) AS x)")
    for (t <- 1 to iters) {
      sb.append(s", a$t AS (SELECT f.i AS d, " +
        "(sum((f.c * v.x)::DECIMAL(38,12)))::DOUBLE AS y " +
        s"FROM f JOIN v${t - 1} v ON f.j = v.d GROUP BY 1)")
      sb.append(s", n$t AS (SELECT sqrt((sum((y*y)::DECIMAL(38,12)))::DOUBLE) " +
        s"AS nm FROM a$t)")
      sb.append(s", v$t AS (SELECT d, round(y / nm, 9) AS x FROM a$t, n$t)")
    }
    sb.toString
  }

  private def pcaOracle(dim: Int, iters: Int): String =
    pcaCte(dim, iters) + s" SELECT d, round(x, 6) AS comp FROM v$iters"

  /** Deflated second-component replay: λ₁ and the per-round projection are
    * computed against the PUBLISHED round-6 v₁ with the same DECIMAL sums
    * and the same `y − (λ·v)·dp` expression order as the Spark side. */
  private def pca2Oracle(dim: Int, iters: Int): String = {
    val sb = new StringBuilder(pcaCte(dim, iters))
    sb.append(s", p1 AS MATERIALIZED (SELECT d, round(x, 6) AS x FROM v$iters)")
    sb.append(", fm AS MATERIALIZED (SELECT i, j, c FROM f)")
    sb.append(", av1 AS (SELECT f.i AS d, (sum((f.c * v.x)::DECIMAL(38,12)))::DOUBLE AS y " +
      "FROM fm f JOIN p1 v ON f.j = v.d GROUP BY 1)")
    sb.append(", lam AS MATERIALIZED (SELECT (sum((v.x * a.y)::DECIMAL(38,12)))::DOUBLE AS l " +
      "FROM p1 v JOIN av1 a ON v.d = a.d)")
    sb.append(s", w0 AS (SELECT unnest(range($dim))::INT AS d, " +
      s"round(1.0/sqrt($dim.0), 9) AS x)")
    for (t <- 1 to iters) {
      sb.append(s", aw$t AS (SELECT f.i AS d, (sum((f.c * w.x)::DECIMAL(38,12)))::DOUBLE AS y " +
        s"FROM fm f JOIN w${t - 1} w ON f.j = w.d GROUP BY 1)")
      sb.append(s", dp$t AS (SELECT (sum((v.x * w.x)::DECIMAL(38,12)))::DOUBLE AS dp " +
        s"FROM p1 v JOIN w${t - 1} w ON v.d = w.d)")
      sb.append(s", b$t AS (SELECT a.d, a.y - lam.l * v.x * dp$t.dp AS y " +
        s"FROM aw$t a JOIN p1 v ON a.d = v.d, lam, dp$t)")
      sb.append(s", m$t AS (SELECT sqrt((sum((y*y)::DECIMAL(38,12)))::DOUBLE) AS nm FROM b$t)")
      sb.append(s", w$t AS (SELECT d, round(y / nm, 9) AS x FROM b$t, m$t)")
    }
    sb.toString + s" SELECT d, round(x, 6) AS comp FROM w$iters"
  }

  /** Oracle-side mirror of [[cosupplyEdges]]: the strong co-supply edge set
    * as a shared CTE prelude (canonical a < b orientation). */
  private def cosupplyCte(frac: Double): String =
    "WITH sp AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem), " +
    "shared AS (SELECT a.s AS a, b.s AS b, count(*) AS c FROM sp a " +
    "JOIN sp b ON a.p = b.p AND a.s < b.s GROUP BY 1, 2), " +
    s"e AS (SELECT a, b FROM shared WHERE c >= $frac * (SELECT max(c) FROM shared))"

  /** Strong co-supply graph: supplier pairs sharing ≥ frac of the maximum
    * shared-part count. One distinct projection, one part-keyed self-join
    * (never supplier×supplier), one broadcast threshold scalar.
    *
    * The explicit repartition on `p` is load-bearing: HashPartitioning(p)
    * satisfies the distinct's ClusteredDistribution(s,p) AND both sides of
    * the part-keyed self-join, so dedup + join ride ONE exchange (the two
    * join branches dedupe via ReuseExchange). The remaining big shuffle —
    * the pair-count aggregation (8.7M wedge pairs → 499.5k supplier pairs
    * at sf0.1) — is the inherent cost of pair counting. */
  private def cosupplyEdges(s: SparkSession, dir: String, frac: Double = 0.6): DataFrame = {
    val sp = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
      .repartition(col("p")).distinct()
    // persist the pair-count table: the threshold scalar is max() OVER
    // shared itself, so an uncached plan runs the 8.7M-wedge aggregation
    // TWICE (once under the broadcast max, once for the rows) — every
    // co-supply consumer (kcore/mis/triangle/link predictors/degree hist)
    // paid both. One cached copy serves the max and the filter; released
    // by the caller's FIRST action — callers that act on the result more
    // than once should persist the RETURNED frame themselves (as
    // graph_degree_hist does), or later actions recompute the wedge agg
    // twice again (single-action assumption, r14 advisory).
    val shared = sp.as("a").join(sp.as("b"), col("a.p") === col("b.p") && col("a.s") < col("b.s"))
      .groupBy(col("a.s").as("src"), col("b.s").as("dst")).agg(count(lit(1)).as("c"))
      .persist()
    graft.util.CacheLifecycle.releaseOnFirstAction(
      shared.crossJoin(broadcast(shared.agg(max("c").as("mx"))))
        .filter(col("c") >= lit(frac) * col("mx"))
        .select("src", "dst"), shared)
  }

  /** Directed part→part ORDER-SEQUENCE edges: consecutive lineitems of an
    * order (by l_linenumber) connect their parts, deduped. `mod` induces
    * the subgraph on partkey % mod = 0 — the filter applies per join SIDE,
    * so it pushes into both lineitem scans without changing the adjacency
    * definition (pairs are keyed by linenumber, not by surviving rows).
    * mod = 10 keeps the SCC census mixed; mod = 1 is the full graph. */
  private def partSeqEdges(s: SparkSession, dir: String, mod: Int = 10): DataFrame = {
    // A lead()-window formulation would save one scan + the join shuffle,
    // but the fixture carries DUPLICATE (l_orderkey, l_linenumber) pairs
    // (11,785 at sf0.01) and the join fans out across all of them — a
    // window's single successor can't express that, so the equi-join IS
    // the semantics. The mod filter applies per join SIDE (pairing is
    // keyed by linenumber, not by surviving rows), so it pushes into both
    // lineitem scans.
    val li0 = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
    val li = if (mod == 1) li0 else li0.filter(col("l_partkey") % mod === 0)
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("b.l_linenumber") === col("a.l_linenumber") + 1)
      .filter(col("a.l_partkey") =!= col("b.l_partkey"))
      .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst")).distinct()
  }

  /** Weighted variant of [[partSeqEdges]]: (src, dst, w = pair
    * multiplicity across all orders) — the co-occurrence weight. */
  private def partSeqWeighted(s: SparkSession, dir: String, mod: Int): DataFrame = {
    val li0 = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
    val li = if (mod == 1) li0 else li0.filter(col("l_partkey") % mod === 0)
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("b.l_linenumber") === col("a.l_linenumber") + 1)
      .filter(col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** SQL twin of [[partSeqEdges]]: CTE `e(src, dst)`. */
  private def partSeqCte(mod: Int): String = {
    val filt = if (mod == 1) "" else s" AND a.l_partkey % $mod = 0 AND b.l_partkey % $mod = 0"
    "e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst " +
      "FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey " +
      "AND b.l_linenumber = a.l_linenumber + 1 " +
      "WHERE a.l_partkey <> b.l_partkey" + filt + ")"
  }

  /** HITS unrolled to `iters` fixed auth/hub half-steps (same device as
    * [[pagerankOracle]]): each half-step is one join-aggregate plus an L1
    * normalizer subquery, mirroring the Spark side's broadcast singleton. */
  private def hitsOracle(iters: Int): String = {
    val sb = new StringBuilder(
      "WITH e AS (SELECT DISTINCT o_custkey + 3000000000 AS src, " +
        "l_partkey + 5000000000 AS dst FROM orders " +
        "JOIN lineitem ON o_orderkey = l_orderkey), " +
        "n AS (SELECT src AS id FROM e UNION SELECT dst FROM e), " +
        "h0 AS (SELECT id, 1.0::DOUBLE AS hub FROM n)")
    for (i <- 1 to iters) {
      sb.append(s", a${i}r AS (SELECT e.dst AS id, sum(h${i - 1}.hub) AS a FROM e " +
        s"JOIN h${i - 1} ON e.src = h${i - 1}.id GROUP BY e.dst)")
      sb.append(s", a$i AS (SELECT n.id, coalesce(a${i}r.a, 0) / " +
        s"(SELECT sum(a) FROM a${i}r) AS auth FROM n LEFT JOIN a${i}r USING (id))")
      sb.append(s", h${i}r AS (SELECT e.src AS id, sum(a$i.auth) AS h FROM e " +
        s"JOIN a$i ON e.dst = a$i.id GROUP BY e.src)")
      sb.append(s", h$i AS (SELECT n.id, coalesce(h${i}r.h, 0) / " +
        s"(SELECT sum(h) FROM h${i}r) AS hub FROM n LEFT JOIN h${i}r USING (id))")
    }
    sb.append(s" SELECT n.id, round(h$iters.hub, 6) AS hub, round(a$iters.auth, 6) AS auth " +
      s"FROM n JOIN h$iters USING (id) JOIN a$iters USING (id)")
    sb.toString
  }

  /** Deterministic random walks unrolled to `steps` fixed CTE hops: each
    * hop is the same md5-argmin pick the Spark side computes — min_by over
    * md5('walkId:step:candidate') — so both engines replay identical walks. */
  private def walksOracle(steps: Int, seeds: Int): String = {
    val sb = new StringBuilder(
      "WITH " + partSeqCte(10) +
        ", v AS (SELECT DISTINCT src AS id FROM e UNION SELECT DISTINCT dst FROM e), " +
        s"seeds AS (SELECT id FROM v ORDER BY md5(id::VARCHAR), id LIMIT $seeds), " +
        "w0 AS (SELECT id AS walk_id, id AS node FROM seeds)")
    for (s <- 1 to steps)
      sb.append(s", w$s AS (SELECT walk_id, min_by(e.dst, " +
        s"md5(walk_id::VARCHAR || ':$s:' || e.dst::VARCHAR)) AS node " +
        s"FROM w${s - 1} JOIN e ON w${s - 1}.node = e.src GROUP BY walk_id)")
    sb.append(" SELECT walk_id, 0 AS step, node FROM w0")
    for (s <- 1 to steps)
      sb.append(s" UNION ALL SELECT walk_id, $s AS step, node FROM w$s")
    sb.toString
  }

  /** Weighted variant of [[pagerankOracle]] over the weighted part
    * sequence graph: per-term contribution rank·w/wsum (left-associated
    * in both engines), counts-as-weights so wsum is exact. */
  private def wpagerankOracle(iters: Int, damping: Double, mod: Int): String = {
    val d = damping.toString
    val omd = (1 - damping).toString
    val base =
      "WITH e AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst, " +
      "count(*)::DOUBLE AS w FROM lineitem a JOIN lineitem b " +
      "ON a.l_orderkey = b.l_orderkey AND b.l_linenumber = a.l_linenumber + 1 " +
      s"WHERE a.l_partkey <> b.l_partkey AND a.l_partkey % $mod = 0 " +
      s"AND b.l_partkey % $mod = 0 GROUP BY 1, 2), " +
      "v AS MATERIALIZED (SELECT DISTINCT id FROM " +
      "(SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)), " +
      "ws AS MATERIALIZED (SELECT src AS id, sum(w) AS wsum FROM e GROUP BY 1), " +
      "nv AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM v), " +
      "r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS rank FROM v), "
    val stages = (0 until iters).map { i =>
      s"c$i AS MATERIALIZED (SELECT e.dst AS id, sum(r.rank * e.w / ws.wsum) AS contrib " +
      s"FROM e JOIN r$i r ON e.src = r.id JOIN ws ON e.src = ws.id GROUP BY 1), " +
      s"d$i AS MATERIALIZED (SELECT (SELECT n FROM nv) - coalesce(sum(rank), 0) AS dm " +
      s"FROM r$i WHERE id IN (SELECT id FROM ws)), " +
      s"r${i + 1} AS MATERIALIZED (SELECT v.id, $omd + $d * (coalesce(c.contrib, 0) " +
      s"+ (SELECT dm FROM d$i) / (SELECT n FROM nv)) AS rank " +
      s"FROM v LEFT JOIN c$i c ON v.id = c.id)"
    }.mkString(", ")
    base + stages + s" SELECT id, round(rank, 6) AS rank FROM r$iters"
  }

  /** Luby MIS unrolled to `rounds` fixed CTE rounds (the kcore device):
    * correct whenever the Spark loop converges within the unroll — the
    * co-supply quasi-cliques resolve in 1-3 rounds against 6 here (a
    * non-empty a6 would hash-mismatch loudly, never silently pass). The
    * per-round priority key replays the Spark side byte-for-byte:
    * md5('round:id') ++ zero-padded id. */
  private def misOracle(frac: Double, rounds: Int): String = {
    val sb = new StringBuilder(cosupplyCte(frac))
    sb.append(", es AS MATERIALIZED (SELECT a AS src, b AS dst FROM e " +
      "UNION ALL SELECT b AS src, a AS dst FROM e)")
    sb.append(", a0 AS (SELECT s_suppkey AS id FROM supplier)")
    for (k <- 1 to rounds) {
      sb.append(s", h$k AS MATERIALIZED (SELECT id, " +
        s"md5('$k:' || id::VARCHAR) || printf('%020d', id) AS kk FROM a${k - 1})")
      sb.append(s", w$k AS MATERIALIZED (SELECT h.id FROM h$k h LEFT JOIN (" +
        s"SELECT es.src AS id, min(n.kk) AS nmin FROM es " +
        s"JOIN h$k n ON es.dst = n.id JOIN h$k s2 ON es.src = s2.id " +
        "GROUP BY es.src) m ON h.id = m.id " +
        "WHERE m.nmin IS NULL OR h.kk < m.nmin)")
      sb.append(s", a$k AS MATERIALIZED (SELECT id FROM a${k - 1} " +
        s"EXCEPT SELECT id FROM w$k " +
        s"EXCEPT SELECT es.dst FROM es JOIN w$k w ON es.src = w.id)")
    }
    sb.append(" SELECT v.id, (m.id IS NOT NULL) AS in_mis FROM a0 v LEFT JOIN (" +
      (1 to rounds).map(k => s"SELECT id FROM w$k").mkString(" UNION ALL ") +
      ") m ON v.id = m.id")
    sb.toString
  }

  /** The k-core peel unrolled to `stages` fixed CTE rounds (same device as
    * [[pagerankOracle]]); correct whenever the peel converges within the
    * unroll depth — 3 rounds at sf0.01 against 8 stages here. */
  private def kcoreOracle(frac: Double, k: Int, stages: Int): String = {
    // MATERIALIZED: DuckDB inlines plain CTEs, and each stage references its
    // predecessor several times — unmaterialized this repo-scans the parquet
    // O(4^stages) times (observed as a file-handle explosion)
    val sb = new StringBuilder(cosupplyCte(frac))
    sb.append(", e0 AS MATERIALIZED (SELECT a, b FROM e)")
    for (i <- 0 until stages) {
      sb.append(s", a${i + 1} AS MATERIALIZED (SELECT id FROM (SELECT a AS id FROM e$i " +
        s"UNION ALL SELECT b AS id FROM e$i) GROUP BY id HAVING count(*) >= $k)")
      sb.append(s", e${i + 1} AS MATERIALIZED (SELECT a, b FROM e$i " +
        s"WHERE a IN (SELECT id FROM a${i + 1}) AND b IN (SELECT id FROM a${i + 1}))")
    }
    sb.append(s" SELECT DISTINCT id FROM (SELECT a AS id FROM e$stages " +
      s"UNION ALL SELECT b AS id FROM e$stages)")
    sb.toString
  }

  /** The k-truss peel unrolled to `stages` fixed MATERIALIZED CTE rounds
    * (same device as [[kcoreOracle]]) over the frequent part co-purchase
    * graph (pairs sharing >= 2 orders): per round, per-edge triangle
    * support via the common-neighbor join, edges under k-2 dropped
    * (zero-support edges produce no support row and drop implicitly).
    * Correct whenever the peel converges within the unroll depth. */
  private def ktrussOracle(k: Int, stages: Int): String = {
    val sb = new StringBuilder(
      "WITH pp AS (SELECT l1.l_partkey AS a, l2.l_partkey AS b " +
      "FROM lineitem l1 JOIN lineitem l2 " +
      "ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey " +
      "GROUP BY 1, 2 HAVING count(*) >= 2), " +
      "t0 AS MATERIALIZED (SELECT a, b FROM pp)")
    for (i <- 0 until stages) {
      sb.append(s", n$i AS MATERIALIZED (SELECT a AS v, b AS n FROM t$i " +
        s"UNION ALL SELECT b, a FROM t$i)")
      sb.append(s", t${i + 1} AS MATERIALIZED (SELECT e.a, e.b FROM t$i e " +
        s"JOIN n$i x ON x.v = e.a JOIN n$i y ON y.v = e.b AND y.n = x.n " +
        s"GROUP BY e.a, e.b HAVING count(*) >= ${k - 2})")
    }
    sb.append(s" SELECT a, b FROM t$stages")
    sb.toString
  }

  /** Synchronous label propagation unrolled to `stages` fixed CTE rounds
    * (same device as [[kcoreOracle]]) over the symmetrized membership
    * hierarchy: per round, each vertex takes the most frequent neighbor
    * label (ties → smallest), exactly the argmax the Spark operator's
    * `max_by` computes. */
  /** The LPA fixed-point as a CTE prelude ending at `l<stages>` (id, lab) —
    * shared by the lpa oracle and the modularity oracle. */
  private def lpaCte(stages: Int): String = {
    val sb = new StringBuilder(
      "WITH e0 AS (" +
      "SELECT n_nationkey + 2000000000 AS a, n_regionkey + 1000000000 AS b FROM nation " +
      "UNION ALL SELECT c_custkey + 3000000000, c_nationkey + 2000000000 FROM customer " +
      "UNION ALL SELECT s_suppkey + 4000000000, s_nationkey + 2000000000 FROM supplier), " +
      "e AS MATERIALIZED (SELECT a AS id, b AS nb FROM e0 UNION SELECT b, a FROM e0), " +
      "l0 AS MATERIALIZED (SELECT DISTINCT id, id AS lab FROM e)")
    for (i <- 1 to stages) {
      sb.append(s", c$i AS MATERIALIZED (SELECT e.id, l.lab, count(*) AS c " +
        s"FROM e JOIN l${i - 1} l ON e.nb = l.id GROUP BY 1, 2)")
      sb.append(s", l$i AS MATERIALIZED (SELECT id, lab FROM (SELECT id, lab, " +
        "row_number() OVER (PARTITION BY id ORDER BY c DESC, lab ASC) AS rn " +
        s"FROM c$i) WHERE rn = 1)")
    }
    sb.toString
  }

  private def lpaOracle(stages: Int): String =
    lpaCte(stages) + s" SELECT id, lab AS community FROM l$stages"

  /** SCD2 replay over the full event log — shared by `scd2_history` (the
    * direct build) and `scd2_apply` (history from the first half of the
    * log + the second half folded in: the merge invariant says both equal
    * the full rebuild). Change rows survive when the lagged attr differs
    * null-safely (row 1 always a change), then lead() closes each range;
    * IS DISTINCT FROM + the rn=1 guard mirrors the Spark side's
    * lag-over-struct <=> comparison exactly. */
  private val scd2OracleSql: String =
    "WITH g AS (SELECT user_id, ts, event_type, event_id, " +
      "lag(event_type) OVER w AS prev, row_number() OVER w AS rn " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
      "c AS (SELECT user_id, event_type, epoch_ms(ts)::BIGINT AS valid_from_ms, " +
      "event_id FROM g WHERE rn = 1 OR prev IS DISTINCT FROM event_type), " +
      "v AS (SELECT user_id, event_type, valid_from_ms, " +
      "lead(valid_from_ms) OVER w2 AS valid_to_ms, " +
      "row_number() OVER w2 AS version FROM c " +
      "WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from_ms, event_id)) " +
      "SELECT user_id, event_type, valid_from_ms, valid_to_ms, " +
      "valid_to_ms IS NULL AS is_current, version::BIGINT AS version FROM v"

  /** Modularity replay over the LPA partition: integer m / within-edge /
    * Σvol² aggregates, ONE double expression at the end (same exactness
    * device as the Spark side — Q is deterministic to the bit). */
  private def modularityOracle(stages: Int): String =
    lpaCte(stages) +
      ", und AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b " +
      "FROM e0 WHERE a <> b), " +
      "deg AS (SELECT id, count(*) AS k FROM (SELECT a AS id FROM und " +
      "UNION ALL SELECT b AS id FROM und) GROUP BY 1), " +
      "mm AS (SELECT count(*)::BIGINT AS m FROM und), " +
      s"wc AS (SELECT count(*)::BIGINT AS within_edges FROM und " +
      s"JOIN l$stages la ON und.a = la.id JOIN l$stages lb ON und.b = lb.id " +
      "WHERE la.lab = lb.lab), " +
      s"ss AS (SELECT sum(v * v)::BIGINT AS s FROM (SELECT l.lab, sum(k) AS v " +
      s"FROM l$stages l JOIN deg USING (id) GROUP BY 1)) " +
      "SELECT m, within_edges, round(within_edges::DOUBLE / m " +
      "- s::DOUBLE / (4.0 * m * m), 6) AS q FROM mm, wc, ss"

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- Cypher pattern matching (reference's core surface) ---
    "cy_expand_1hop" -> ((s, dir) =>
      db(s, dir).query("MATCH (c:customer)-[:IN_NATION]->(n:nation) RETURN n")),
    "cy_2hop" -> ((s, dir) =>
      db(s, dir).query("MATCH (c:customer)-[:IN_NATION]->(n:nation)-[:IN_REGION]->(r:region) RETURN c, r")),
    "cy_incoming" -> ((s, dir) =>
      db(s, dir).query("MATCH (n:nation)<-[:IN_NATION]-(s:supplier) RETURN n")),
    "cy_fork_middle" -> ((s, dir) =>
      db(s, dir).query("MATCH (c:customer)-[:IN_NATION]->(n:nation)<-[:IN_NATION]-(su:supplier) RETURN n")),
    "cy_multi_return" -> ((s, dir) =>
      db(s, dir).query("MATCH (su:supplier)-[:SUPPLIES]->(p:part)<-[:CONTAINS]-(o:order) RETURN su, o")),
    // bounded variable-length path (walk semantics; beyond the reference,
    // which consumes fixed chains only — optim/QueryGraph.scala:54-67):
    // customers to everything 1-2 hops out over the membership edges
    "cy_varlen" -> ((s, dir) =>
      db(s, dir).query("MATCH (c:customer)-[:IN_NATION|IN_REGION*1..2]->(x) RETURN c, x")),
    // directed 3-cycle: the pattern's last hop closes back onto the FIRST
    // binding, exercising the planner's cycle-closing edge predicate
    // end-to-end (in-JVM goldens existed since r3; this pins it against
    // DuckDB's explicit three-way self-join). Runs on the part-sequence
    // graph — the typed TPC-H graph is a DAG and can never match a cycle.
    "cy_triangle" -> ((s, dir) =>
      partSeqDb(s, dir).query(
        "MATCH (a:part)-[:NEXT]->(b:part)-[:NEXT]->(c:part)-[:NEXT]->(a) RETURN a, b, c")),
    // the StatsStore surface as a query: label/type cardinalities (what the
    // cost-based planner consumes), oracled independently from the base
    // tables rather than through the graph derivation it describes
    "graph_summary" -> ((s, dir) => {
      val g = graph(s, dir)
      g.nodes.groupBy("label").agg(count(lit(1)).as("n"))
        .select(lit("node").as("kind"), col("label").as("key"), col("n"))
        .unionByName(g.edges.groupBy("etype").agg(count(lit(1)).as("n"))
          .select(lit("edge").as("kind"), col("etype").as("key"), col("n")))
    }),
    // shortestPath: per-source BFS, min level per endpoint pair — the
    // unlabeled source mixes depths (nations reach regions at 1, customers
    // and suppliers at 2), so the min-length semantics are actually exercised
    "cy_shortest" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH p = shortestPath((n)-[:IN_REGION|IN_NATION*]->(r:region)) " +
        "RETURN n, r, length(p)")),
    // count() aggregation (set semantics: distinct matches per group)
    "cy_count" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) RETURN n, count(c) ORDER BY n")),
    // AS aliases rename output columns; ORDER BY refers to the alias
    "cy_alias" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
        "RETURN n AS nation_id, count(c) AS customers ORDER BY customers DESC, nation_id LIMIT 10")),
    // the Cypher WRITE surface (reference mutation API §2.5): CREATE a
    // literal hub node into a TEMP GraphDB (the resident graph is shared —
    // execute() returns a NEW GraphDB and never mutates the receiver), wire
    // every nation to it per-match-row, read the result back through the
    // standard read path
    "cy_create" -> ((s, dir) =>
      db(s, dir)
        .execute("CREATE (h:hub {id: 9000000000, name: 'hub0'})")
        .execute("MATCH (n:nation), (h:hub) CREATE (n)-[:IN_HUB {w: 7}]->(h)")
        .query("MATCH (n:nation)-[r:IN_HUB]->(h:hub) " +
               "RETURN n, h.name AS hub, r.w AS w ORDER BY n")),
    // MERGE is the idempotent write: every statement runs TWICE and the
    // raw edge table (not the set-semantics read path, which would mask
    // duplicates) must still hold exactly one edge per nation
    "cy_merge" -> ((s, dir) => {
      def wire(d: GraphDB): GraphDB = d
        .execute("MERGE (h:hub {id: 9000000000, name: 'hub0'})")
        .execute("MATCH (n:nation), (h:hub) MERGE (n)-[:IN_HUB]->(h)")
      wire(wire(db(s, dir))).graph.edges.filter(col("etype") === "IN_HUB")
        .groupBy(col("src").as("n")).agg(count(lit(1)).as("n_edges"))
    }),
    // the canonical upsert: MERGE runs three times — created once (ON
    // CREATE seeds seen=1), matched twice (ON MATCH increments) — and the
    // read-back pins the branch taken each time
    "cy_upsert" -> ((s, dir) => {
      val up = "MERGE (h:hub {id: 9100000000, name: 'uhub'}) " +
        "ON CREATE SET h.seen = 1 ON MATCH SET h.seen = h.seen + 1"
      db(s, dir).execute(up).execute(up).execute(up)
        .query("MATCH (h:hub) RETURN h, h.name AS nm, h.seen AS seen")
    }),
    // SET: distributed per-match column rewrite, read back through a WHERE
    // over the freshly-written property
    "cy_set" -> ((s, dir) =>
      db(s, dir)
        .execute("MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
                 "WHERE n.name = 'NATION_7' SET c.tier = 'n7', c.value = c.value + 1000")
        .query("MATCH (c:customer) WHERE c.tier = 'n7' " +
               "RETURN c, round(c.value) AS v ORDER BY c")),
    // DETACH DELETE: remove one nation's customers (and their incident
    // edges); the per-nation counts read back without the deleted group
    "cy_delete" -> ((s, dir) =>
      db(s, dir)
        .execute("MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
                 "WHERE n.name = 'NATION_3' DETACH DELETE c")
        .query("MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
               "RETURN n, count(c) AS nc ORDER BY n")),
    // ORDER BY + LIMIT through the Cypher surface (TakeOrderedAndProject —
    // the sort never materializes globally)
    "cy_orderby" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) RETURN c, n ORDER BY c DESC, n LIMIT 20")),
    // ORDER BY a non-returned property of a returned binding: the sort
    // column joins in post-projection and drops after the take
    "cy_orderby_prop" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
        "RETURN c, n ORDER BY c.name DESC LIMIT 20")),
    // SKIP pages past the first 10 rows of the same sorted result — Spark
    // plans offset+limit as one global take, no full sort materialization
    "cy_skip" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) RETURN c, n ORDER BY c DESC, n SKIP 10 LIMIT 20")),
    // render path: returned binding joined back to node properties
    // (reference MatrixTuples + DataStore.getVs, Operator.scala:377-399)
    "cy_props" -> ((s, dir) =>
      db(s, dir).queryNodes("MATCH (n:nation)-[:IN_REGION]->(r:region) RETURN r")
        .select(col("r"), col("r_label"), col("r_name"))),
    // property projection in RETURN (`c.name`) — values joined per distinct
    // match AFTER the set-semantics dedup, one broadcastable join per binding
    "cy_return_props" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) WHERE c.value > 9000 " +
        "RETURN c.name, n.name ORDER BY c.name LIMIT 50")),
    // property aggregates over distinct matches: count/sum/max per group —
    // one combinable groupBy after the match dedup
    "cy_agg_props" -> ((s, dir) =>
      // round the float sum on both sides: double summation is order-
      // nondeterministic in the last bits; inputs are 2-decimal money, so
      // round(·, 2) restores the exact value deterministically
      db(s, dir).query(
        "MATCH (n:nation)<-[:IN_NATION]-(c:customer)-[:PLACED]->(o:order) " +
        "RETURN n.name, count(c), sum(o.value), max(o.value) ORDER BY n.name")
        .withColumn("sum_o_value", round(col("sum_o_value"), 2))),
    // OPTIONAL MATCH: required match left-joined to the optional fragment —
    // customers with zero orders keep their row (count 0)
    "cy_optional" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer) OPTIONAL MATCH (c)-[:PLACED]->(o:order) " +
        "RETURN c, count(o)")),
    // optional + property projection: unmatched side renders null props
    "cy_optional_props" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation) OPTIONAL MATCH (n)<-[:IN_NATION]-(s:supplier) " +
        "RETURN n.name, count(s), max(s.value) ORDER BY n.name")),
    // WHERE conjunctions across bindings: each conjunct compiles to its own
    // PropFilter semi-join at the binding's expansion point
    "cy_where_and" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
        "WHERE c.value > 5000 AND n.name = 'NATION_3' RETURN c, n")),
    // edge-property predicate on a relationship variable: the filter rides
    // the edge scan (pushed into the parquet read next to the type filter)
    "cy_edge_prop" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (o:order)-[r:CONTAINS]->(p:part) WHERE r.weight >= 45 RETURN o, p")),
    // keys() on relationships: per matched edge's present property keys —
    // IN_NATION edges carry no weight (empty list), PLACED edges do
    "cy_rel_keys" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[r:IN_NATION|PLACED]->(x) " +
        "RETURN c, x, join(keys(r), ',') AS ks")),
    // relationship property inside an OR residual (mixed with a node prop):
    // the edge value joins back on the endpoint pair post-match
    "cy_edge_prop_or" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (o:order)-[r:CONTAINS]->(p:part) " +
        "WHERE r.weight >= 48 OR p.value > 1900 RETURN o, p")),
    // relationship property in RETURN (projection + aggregate): rendered by
    // the endpoint-pair join-back; double sums rounded on both sides
    "cy_ret_edge_prop" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[r:PLACED]->(o:order) " +
        "RETURN c, count(o), sum(r.weight)")
        .withColumn("sum_r_weight", round(col("sum_r_weight"), 2))),
    // sequential MATCH clauses with per-clause WHERE: pattern conjunction
    // over the shared binding scope (customers x suppliers via NATION_3)
    "cy_multi_match" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) WHERE n.name = 'NATION_3' " +
        "MATCH (su:supplier)-[:IN_NATION]->(n) RETURN c, su")),
    // IN list membership as a bare conjunct: rides the pushdown path to the
    // node scan (isin — parquet PushedFilters when uncached, in-memory
    // batch-stats pruning on the resident cached graph)
    "cy_in_list" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
        "WHERE n.name IN ['NATION_3', 'NATION_5'] RETURN c, n")),
    // RETURN *: every user-named binding, in first-appearance order
    "cy_return_star" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation)-[:IN_REGION]->(r:region) RETURN * ORDER BY n, r")),
    // WHERE disjunction across bindings — not pushable to either scan, so it
    // compiles to a residual filter over the matched rows with both property
    // columns joined back
    "cy_where_or" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
        "WHERE c.value > 9900 OR n.name = 'NATION_3' RETURN c, n")),
    // NOT over a disjunction on a binding that is NOT returned: the match
    // carries the extra binding for the filter, then restores the returned
    // set-semantics granularity (distinct nations)
    "cy_where_not" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation)<-[:IN_NATION]-(c:customer) " +
        "WHERE NOT (c.value < 9000 OR c.name ENDS WITH '7') RETURN n ORDER BY n")),
    // string predicates as bare conjuncts ride the pushdown path (filters
    // reach the node parquet scan); IS NULL inside a disjunction is residual
    "cy_string_ops" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer) WHERE c.name STARTS WITH 'Customer#0000001' " +
        "AND c.name ENDS WITH '9' RETURN c.name ORDER BY c.name")),
    "cy_isnull_or" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation) WHERE n.name IS NULL OR n.name STARTS WITH 'NATION_1' " +
        "RETURN n.name ORDER BY n.name")),
    // WITH pipeline: aggregate per nation, HAVING-filter on the aggregate,
    // return the surviving groups
    "cy_with_having" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation)<-[:IN_NATION]-(c:customer) " +
        "WITH n.name AS nation, count(c) AS n_cust WHERE n_cust >= 60 " +
        "RETURN nation, n_cust ORDER BY nation")),
    // WITH then a second aggregation stage over the piped columns
    "cy_with_agg" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation)<-[:IN_NATION]-(c:customer) " +
        "WITH n, count(c) AS n_cust " +
        "RETURN min(n_cust), max(n_cust), sum(n_cust), count(n)")),
    // WITH-stage ORDER BY/LIMIT (top-k-then-continue): the 5 biggest
    // nations by customer count survive the pipe, then re-sorted by name
    "cy_with_topk" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation)<-[:IN_NATION]-(c:customer) " +
        "WITH n.name AS nation, count(c) AS n_cust " +
        "ORDER BY n_cust DESC, nation LIMIT 5 " +
        "RETURN nation, n_cust ORDER BY nation")),
    // chained WITH: per-nation distinct-order counts, then a second
    // aggregation stage grouping nations BY that count — the whole pipeline
    // stays one Catalyst plan (two aggregate blocks, no materialization)
    "cy_with_chain" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation)<-[:IN_NATION]-(c:customer)-[:PLACED]->(o:order) " +
        "WITH n, count(o) AS n_orders " +
        "WITH n_orders, count(n) AS n_nations " +
        "RETURN n_orders, n_nations ORDER BY n_orders")),
    // count(*) after WITH: post-WITH rows are plain rows, so count(*) is the
    // openCypher row count of the piped stage
    "cy_with_count_star" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation)<-[:IN_NATION]-(c:customer) " +
        "WITH n, count(c) AS n_cust " +
        "RETURN count(*) AS groups, sum(n_cust) AS total")),
    // agg(DISTINCT …) after WITH: distinct customers vs distinct (c, o) rows
    "cy_with_count_distinct" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:PLACED]->(o:order) WITH c, o " +
        "RETURN count(DISTINCT c) AS buyers, count(o) AS n_orders")),
    // pattern predicate as a bare conjunct: compiled to a LEFT SEMI join
    // against the existential sub-pattern (customers who placed an order —
    // ~1/3 of TPC-H customers have none, so the filter is selective)
    "cy_exists" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer) WHERE (c)-[:PLACED]->(:order) RETURN c")),
    // NOT <pattern> compiles to a LEFT ANTI join: customers with no orders
    "cy_not_exists" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer) WHERE NOT (c)-[:PLACED]->(:order) RETURN c")),
    // pattern predicate nested under OR: the exists-flag left join (distinct
    // anchor keys, 1:1) composes with the property disjunct
    "cy_exists_or" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
        "WHERE c.value > 9900 OR NOT ((c)-[:PLACED]->(:order)) RETURN c, n")),
    // multi-hop existential through an anonymous middle node: nations with
    // a customer that placed an order
    "cy_exists_2hop" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation) WHERE (n)<-[:IN_NATION]-()-[:PLACED]->(:order) RETURN n")),
    // collect(): distinct matches fold into a sorted array (rendered as a
    // joined string on both sides — array hashing is driver-hostile)
    "cy_collect" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation)-[:IN_REGION]->(r:region) " +
        "RETURN r, collect(n.name) AS nations ORDER BY r")
        .withColumn("nations", concat_ws(",", col("nations")))),
    // collect() after WITH over the piped rows
    "cy_with_collect" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
        "WITH n.name AS nation, count(c) AS n_cust WHERE n_cust >= 60 " +
        "RETURN collect(nation) AS big_nations")
        .withColumn("big_nations", concat_ws(",", col("big_nations")))),
    // type(r): the matched relationship's type over a multi-type pattern —
    // rendered from the edge-identity join-back, grouping the aggregation
    "cy_type" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[r:IN_NATION|PLACED]->(x) " +
        "RETURN type(r), count(x) ORDER BY type_r")),
    // id(n): the node binding's id as a value column
    "cy_id" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation)-[:IN_REGION]->(r:region) RETURN id(n) AS nid, r ORDER BY nid")),
    // value functions over properties (string + math), per-row in the
    // projection — all stay inside whole-stage codegen
    "cy_fn_string" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer) WHERE c.name ENDS WITH '1' " +
        "RETURN toUpper(c.name) AS uname, size(c.name) AS len ORDER BY uname LIMIT 20")),
    "cy_fn_math" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer) " +
        "RETURN c, abs(c.value) AS mag, floor(c.value) AS fl ORDER BY c LIMIT 30")),
    // UNWIND range(): the DISTRIBUTED numeric row source (spark.range —
    // never a driver-side list), with a WITH-stage filter and aggregation
    "cy_unwind_range" -> ((s, dir) =>
      db(s, dir).query(
        "UNWIND range(1, 200, 3) AS x WITH x WHERE x % 2 = 0 " +
        "RETURN count(x) AS n, sum(x) AS s, min(x) AS lo, max(x) AS hi")),
    // split() (literal delimiter) + list accessors over its result; size()
    // counts ELEMENTS over a statically-list-valued expression
    "cy_fn_split" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (p:part) RETURN p AS pid, size(split(p.name, ' ')) AS words, " +
        "head(split(p.name, ' ')) AS first ORDER BY pid LIMIT 40")),
    // the round-8 scalar additions: ltrim/rtrim, exp/log/log10, toBoolean
    "cy_fn_scalar2" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer) WHERE c.value > 9990 " +
        "RETURN c AS cid, ltrim(rtrim(c.name)) AS nm, floor(log10(c.value)) AS mag, " +
        "round(exp(0)) AS one, toBoolean('true') AS tb ORDER BY cid")),
    // list predicates over collected values — any/all/single compile to
    // Spark's built-in exists/forall/filter higher-order functions (no
    // UDF; lambdas are interpreted by design — CodegenFallback)
    "cy_list_pred" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) WITH n, collect(c.value) AS vs " +
        "RETURN n, any(x IN vs WHERE x > 9990) AS has_rich, " +
        "all(x IN vs WHERE x > -1000) AS all_ok, " +
        "single(x IN vs WHERE x > 9995) AS one_top ORDER BY n")),
    // comprehension + reduce over a collected range — filter/transform/
    // aggregate; no explode, no UDF. The list-valued result renders through
    // join(list, sep): the driver's oracle comparer can't sort/hash array
    // cells, so list outputs are canonically stringified on BOTH engines.
    "cy_list_comp" -> ((s, dir) =>
      db(s, dir).query(
        "UNWIND range(1, 12) AS x WITH collect(x) AS xs " +
        "RETURN size([y IN xs WHERE y % 3 = 0 | y * y]) AS n, " +
        "reduce(s = 0, y IN xs | s + y) AS total, " +
        "join([y IN xs WHERE y > 9], ',') AS big")),
    // per-row reduce over a DATA-DEPENDENT range (list differs per row —
    // the fold runs inside the row expression, no explode)
    "cy_reduce_row" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation) " +
        "RETURN n, reduce(acc = 0, x IN range(1, size(n.name) % 5 + 1) | acc + x * x) AS ss " +
        "ORDER BY n")),
    // a bare list predicate standing alone as a WITH-stage WHERE conjunct
    "cy_list_where" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) WITH n, collect(c.value) AS vs " +
        "WHERE any(x IN vs WHERE x > 9995) RETURN n ORDER BY n")),
    // startNode/endNode on a matched relationship: endpoint ids in STORAGE
    // orientation (openCypher — an undirected match never reorients)
    "cy_startend" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[r:IN_NATION]->(n:nation) WHERE c.value > 9990 " +
        "RETURN startNode(r) AS sn, endNode(r) AS en, type(r) AS t ORDER BY sn")),
    // keys(n): present (non-null) property keys per node — regions carry
    // only `name`, customers `name` + `value`; exercised across a UNION ALL.
    // Rendered via join(keys(n), ',') — keys() in an EXPRESSION position —
    // so the oracle comparer (which can't hash array cells) sees a string.
    "cy_keys" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (r:region) RETURN r AS id, join(keys(r), ',') AS ks " +
        "UNION ALL MATCH (c:customer) WHERE c.value > 9990 " +
        "RETURN c AS id, join(keys(c), ',') AS ks")),
    // allShortestPaths: EVERY minimal path per endpoint pair over the
    // bounded varlen union — the per-pair min-length window drops the
    // c–n–c'–n backtrack walks whose pair already matched at length 1
    "cy_allshortest" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH p = allShortestPaths((c:customer)-[:IN_NATION*1..3]-(x)) " +
        "WHERE c.value > 9900 RETURN c, x, length(p) AS len")),
    // size(pattern): per-row distinct-match counts — degree expressions
    // without fanning the match out (each compiles to one grouped sub-match
    // joined back 1:1 on its anchor)
    "cy_pat_size" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation) RETURN n, size((c:customer)-[:IN_NATION]->(n)) AS n_cust, " +
        "size((s:supplier)-[:IN_NATION]->(n)) AS n_supp")),
    // pattern comprehension: the per-row value list of a sub-match,
    // rendered deterministically (sorted) and stringified for the oracle
    "cy_pat_comp" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (r:region) RETURN r, " +
        "join([(n:nation)-[:IN_REGION]->(r) | n.name], ',') AS names")),
    // modern COUNT { } subquery syntax — desugars to the same pattern-count
    "cy_count_sub" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation) RETURN n, " +
        "COUNT { MATCH (c:customer)-[:IN_NATION]->(n) } AS n_cust")),
    // `=~` regex predicate: openCypher FULL-string match semantics (the
    // pattern is anchored — a partial match does not qualify)
    "cy_regex" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
        "WHERE c.name =~ 'Customer#0+1[0-2]' RETURN c, n ORDER BY c")),
    // a value function as the grouping key of an aggregation
    "cy_fn_group" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
        "RETURN toLower(n.name) AS nat, count(c) ORDER BY nat")),
    // general value expressions in RETURN: arithmetic over properties with
    // precedence; one codegen'd Column, no UDF
    "cy_expr_arith" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer) RETURN c, c.value * 2 + 1 AS v ORDER BY c LIMIT 50")),
    // searched CASE as a grouping key + count per bucket
    "cy_expr_case" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer) RETURN CASE WHEN c.value < 0 THEN 'neg' " +
        "WHEN c.value < 5000 THEN 'mid' ELSE 'high' END AS bucket, count(c) AS n " +
        "ORDER BY bucket")),
    // coalesce over an OPTIONAL MATCH null (customers with no order → -1)
    "cy_expr_coalesce" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer) OPTIONAL MATCH (c)-[:PLACED]->(o:order) " +
        "WITH c, max(o.value) AS m RETURN c, coalesce(m, -1) AS mv " +
        "ORDER BY c LIMIT 100")),
    // property-to-property comparison (residual join-back of both columns)
    "cy_expr_propcmp" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation)<-[:IN_NATION]-(s:supplier) " +
        "WHERE c.value > s.value RETURN n, count(c) ORDER BY n")),
    // aggregate over an expression (evaluated per distinct match, folded)
    "cy_expr_agg" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
        "RETURN n, sum(c.value * 2 - 1) AS s2 ORDER BY n")),
    // list functions over a collect()ed column: size counts elements
    // (schema-aware — strings still count characters), head/last are the
    // ends of the SORTED collection (deterministic ⇒ min/max twins)
    "cy_list_fns" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) WITH n, collect(c) AS cs " +
        "RETURN n, size(cs) AS sz, head(cs) AS h, last(cs) AS t ORDER BY n")),
    // parameterized query: $params resolve at parse, so ref-vs-$param
    // conjuncts keep their pushdown classification
    "cy_params" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation {name: $nat}) " +
        "WHERE c.value > $min RETURN n, count(c) AS k",
        Map("nat" -> "GERMANY", "min" -> 0))),
    // WITH *: carry the whole scope + extras through the pipeline
    "cy_with_star" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) WITH *, c.value AS v " +
        "WITH n, v WHERE v > 5000 RETURN n, count(*) AS k ORDER BY n")),
    // bucketed graph store roundtrip: nodes by id, edges by src + a
    // dst-bucketed identical-row copy (the reference's transpose matrices
    // as storage layout); the incoming traversal reads the dst copy and
    // the expand's edge side skips its exchange (BucketingSpec asserts the
    // plan shape; this query gates the results)
    "graph_bucketed" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-gbucket").toString
      // the hierarchy slice is enough to exercise the layout roundtrip —
      // writing the full lineitem-derived edge family would just time the
      // save I/O (BucketingSpec covers the plan shape on the full graph)
      val g = graph(s, dir)
      val sub = graft.graph.PropertyGraph(
        g.nodes.filter(col("label").isin("customer", "nation", "region")),
        g.edges.filter(col("etype").isin("IN_NATION", "IN_REGION")),
        edgesDistinct = true)
      graft.sources.GraphStore.saveBucketed(sub, "gq", out, 8)
      val b = graft.sources.GraphStore.loadBucketed(s, "gq", edgesDistinct = true)
      new GraphDB(b).query(
        "MATCH (n:nation)<-[:IN_NATION]-(c:customer) RETURN n, count(c) ORDER BY n")
    }),
    // OPTIONAL MATCH … WHERE: the filter applies INSIDE the left join
    // (openCypher attachment) — customers with no qualifying order count 0
    "cy_optional_where" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer) OPTIONAL MATCH (c)-[:PLACED]->(o:order) " +
        "WHERE o.value > 200000 RETURN c, count(o) AS k ORDER BY c LIMIT 50")),
    // property map inside OPTIONAL MATCH — same inside-the-join filter
    "cy_optional_map" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation) OPTIONAL MATCH (n)<-[:IN_NATION]-" +
        "(su:supplier {name: 'Supplier#000000001'}) " +
        "RETURN n, count(su) AS k ORDER BY n")),
    // labels(n) scalar (single-label model → 1-element list, stringified
    // for the compare like collect()) + property-existence exists()
    "cy_labels" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) WHERE exists(c.value) " +
        "RETURN labels(n) AS ls, count(c) AS k")
        .withColumn("ls", concat_ws(",", col("ls")))),
    // general path variables: nodes(p)/relationships(p)/length(p) over a
    // fixed 2-hop chain; list outputs render canonically (comma-joined) for
    // the hash compare, same contract as cy_labels
    "cy_path_fns" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH p = (c:customer)-[:IN_NATION]->(n:nation)-[:IN_REGION]->(r:region) " +
        "RETURN c, nodes(p) AS ns, relationships(p) AS rs, length(p) AS ln")
        .withColumn("ns", concat_ws(",", col("ns")))
        .withColumn("rs", concat_ws(",", col("rs")))),
    // bounded varlen NAMED path: one fixed-length branch per length with
    // enumerable nodes(p) (union of 1-hop customer→nation and 2-hop
    // customer→nation→region paths here)
    "cy_path_varlen" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH p = (c:customer)-[:IN_NATION|IN_REGION*1..2]->(x) " +
        "RETURN c, nodes(p) AS ns, length(p) AS ln")
        .withColumn("ns", concat_ws(",", col("ns")))),
    // length(p) in WHERE: the constant substitutes per branch, so the
    // filter keeps exactly the 2-hop branch (the 1-hop branch folds to
    // constant false and prunes to an empty relation)
    "cy_path_varlen_len" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH p = (c:customer)-[:IN_NATION|IN_REGION*1..2]->(x) " +
        "WHERE length(p) = 2 RETURN c, x, length(p) AS ln")),
    // WITH-stage path functions: nodes(p)/length(p) decay to value columns
    // at the stage boundary; the pipeline then filters and aggregates them
    // as plain rows (count paths per nation)
    "cy_with_path" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH p = (c:customer)-[:IN_NATION]->(n:nation)-[:IN_REGION]->(r:region) " +
        "WITH n AS n2, nodes(p) AS ns, length(p) AS ln WHERE ln = 2 " +
        "RETURN n2, count(*) AS paths")),
    // the rest of the openCypher aggregate set: stDev/stDevP per group.
    // Rounded to 6 decimals on BOTH engines: stddev's partial-merge order is
    // partition-dependent, so the last ULP is run-to-run noise
    "cy_agg_stats" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
        "RETURN n, stDev(c.value) AS sd, stDevP(c.value) AS sp ORDER BY n")
        .withColumn("sd", round(col("sd"), 6))
        .withColumn("sp", round(col("sp"), 6))),
    // exact interpolated + discrete percentiles (global)
    "cy_agg_percentile" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer) RETURN percentileCont(c.value, 0.5) AS med, " +
        "percentileCont(c.value, 0.9) AS p90, percentileDisc(c.value, 0.5) AS dmed")),
    // multi-arg string functions (substring is 0-based per openCypher)
    "cy_fn_substr" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (n:nation) RETURN n, substring(n.name, 0, 3) AS pre, " +
        "left(n.name, 2) AS l2, right(n.name, 2) AS r2, reverse(n.name) AS rev, " +
        "replace(n.name, 'A', '_') AS rep ORDER BY n")),
    // UNWIND: literal-list row source piped through the bare-column pipeline
    "cy_unwind" -> ((s, dir) =>
      db(s, dir).query(
        "UNWIND [3, 1, 2, 2, 5] AS x WITH x WHERE x < 5 " +
        "RETURN DISTINCT x * 10 AS t ORDER BY t")),
    // UNWIND as collect()'s inverse: fold per nation, explode back, count
    "cy_unwind_collect" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) " +
        "WITH n, collect(c) AS cs UNWIND cs AS cid " +
        "RETURN n, count(cid) AS k ORDER BY n")),
    // UNION dedups across branches (query-surface eWiseAdd over sets):
    // nations with a customer ∪ nations with a supplier
    "cy_union" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) RETURN n " +
        "UNION MATCH (su:supplier)-[:IN_NATION]->(n:nation) RETURN n")),
    // UNION ALL keeps each branch's rows (each branch is still internally
    // set-semantics distinct) — nations in both branches appear twice
    "cy_union_all" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) RETURN n " +
        "UNION ALL MATCH (su:supplier)-[:IN_NATION]->(n:nation) RETURN n")),
    // trailing ORDER BY/LIMIT after the last branch applies to the WHOLE
    // union (openCypher), not the branch
    "cy_union_orderby" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (c:customer)-[:IN_NATION]->(n:nation) RETURN n AS id " +
        "UNION MATCH (su:supplier)-[:IN_NATION]->(n:nation) RETURN n AS id " +
        "ORDER BY id DESC LIMIT 10")),
    // pattern property maps (node + relationship) desugar to the same
    // pushdown equality conjuncts explicit WHERE compiles to
    "cy_prop_map" -> ((s, dir) =>
      db(s, dir).query(
        "MATCH (su:supplier)-[:IN_NATION]->(n:nation {name: 'NATION_24'}), " +
        "(su)-[r:SUPPLIES {weight: 45}]->(p:part) RETURN su, p")),

    // --- kernel: semiring matrix algebra (SURVEY §2.3) ---
    // Boolean mxm over ANY_PAIR: (customer|supplier)→nation · nation→region
    "mxm_anypair" -> ((s, dir) => {
      val g = graph(s, dir)
      val a = GrMatrix(g.edgesByType(Seq("IN_NATION")).select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      val b = GrMatrix(g.edgesByType(Seq("IN_REGION")).select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      GrOps.mxm(Ops.anyPair)(a, b).df.select("i", "j")
    }),
    // weighted mxm over (min, plus): order→part min-qty · part→supplier min-qty.
    // Both operands are built over ONE shuffle of lineitem on the contraction
    // key (l_partkey): HashPartitioning(partkey) satisfies the clustering for
    // both groupBys AND both sides of mxm's join on aj = bi, and the two
    // branches' identical exchange is deduplicated by ReuseExchange — so the
    // whole contraction runs scan → 1 shuffle → aggs + join → final (i,j)
    // agg, instead of round 2's five exchanges (2 groupBy + 2 join re-
    // partitions + final agg).
    "mxm_minplus" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity")
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("l_partkey"))
      val a = GrMatrix(li.groupBy(col("l_orderkey").as("i"), col("l_partkey").as("j"))
        .agg(min("l_quantity").as("v")))
      val b = GrMatrix(li.groupBy(col("l_partkey").as("i"), col("l_suppkey").as("j"))
        .agg(min("l_quantity").as("v")))
      GrOps.mxm(Ops.minPlus)(a, b).df
    }),
    // eWiseAdd (plus) of click-counts and purchase-counts per (user, day)
    "ewise_union" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      def m(tp: String) = GrMatrix(ev.filter(col("event_type") === tp)
        .groupBy(col("user_id").as("i"), datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("j"))
        .agg(count(lit(1)).as("v")))
      GrOps.eWiseAdd(Ops.plus)(m("click"), m("purchase")).df
    }),
    "ewise_intersect" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      def m(tp: String) = GrMatrix(ev.filter(col("event_type") === tp)
        .groupBy(col("user_id").as("i"), datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("j"))
        .agg(count(lit(1)).as("v")))
      GrOps.eWiseMult(Ops.plus)(m("click"), m("purchase")).df
    }),
    // per-row reduction: CONTAINS out-degree per order (distinct parts)
    "reduce_rows" -> ((s, dir) => {
      val g = graph(s, dir)
      val m = GrMatrix(g.edgesByType(Seq("CONTAINS")).select(col("src").as("i"), col("dst").as("j"), lit(1L).as("v")))
      GrOps.reduceRows(Ops.plusM)(m).df
    }),
    // per-column reduction: CONTAINS in-degree per part (distinct orders) —
    // reference reduceColumns via Input0=Transpose descriptor
    "reduce_cols" -> ((s, dir) => {
      val g = graph(s, dir)
      val m = GrMatrix(g.edgesByType(Seq("CONTAINS")).select(col("src").as("i"), col("dst").as("j"), lit(1L).as("v")))
      GrOps.reduceCols(Ops.plusM)(m).df
    }),
    // transpose + submatrix extract: nation←holder adjacency restricted to customers
    "kernel_transpose_extract" -> ((s, dir) => {
      val g = graph(s, dir)
      val m = GrMatrix(g.edgesByType(Seq("IN_NATION"))
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      GrOps.extract(m.transpose, All,
        Span(TpchGraph.CustomerOff, TpchGraph.CustomerOff + 999999999L)).df
    }),
    // whole-matrix fold to a scalar (reference reduceAll)
    "kernel_reduce_all" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val m = GrMatrix(li.groupBy(col("l_orderkey").as("i"), col("l_partkey").as("j"))
        .agg(count(lit(1)).as("v")))
      GrOps.reduceAll(Ops.plusM)(m)
    }),
    // frontier-vector × matrix over ANY_PAIR: one BFS step (reference vxm)
    "kernel_vxm" -> ((s, dir) => {
      val g = graph(s, dir)
      val frontier = GrVector(t(s, dir, "customer").filter(col("c_custkey") < 100)
        .select((col("c_custkey") + TpchGraph.CustomerOff).as("i"), lit(true).as("v")))
      val m = GrMatrix(g.edgesByType(Seq("IN_NATION"))
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      GrOps.vxm(Ops.anyPair)(frontier, m).df
    }),
    // mxm with a structural mask: 2-hop reach intersected with a predicate matrix
    "kernel_mxm_masked" -> ((s, dir) => {
      val g = graph(s, dir)
      val a = GrMatrix(g.edgesByType(Seq("IN_NATION"))
        .filter(col("src") >= TpchGraph.CustomerOff && col("src") < TpchGraph.SupplierOff)
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      val b = GrMatrix(g.edgesByType(Seq("IN_REGION"))
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      val mask = GrMatrix(t(s, dir, "customer")
        .select((col("c_custkey") + TpchGraph.CustomerOff).as("i"),
          (col("c_custkey") % 5 + TpchGraph.RegionOff).as("j"), lit(true).as("v")))
      GrOps.mxm(Ops.anyPair)(a, b, mask = Some(mask)).df
    }),
    // mxm with a COMPLEMENT mask: 2-hop reach minus the predicate matrix
    // (reference descriptor complement-mask → left-anti join)
    "kernel_mask_complement" -> ((s, dir) => {
      val g = graph(s, dir)
      val a = GrMatrix(g.edgesByType(Seq("IN_NATION"))
        .filter(col("src") >= TpchGraph.CustomerOff && col("src") < TpchGraph.SupplierOff)
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      val b = GrMatrix(g.edgesByType(Seq("IN_REGION"))
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      val mask = GrMatrix(t(s, dir, "customer")
        .select((col("c_custkey") + TpchGraph.CustomerOff).as("i"),
          (col("c_custkey") % 5 + TpchGraph.RegionOff).as("j"), lit(true).as("v")))
      GrOps.mxm(Ops.anyPair)(a, b, mask = Some(mask), complement = true).df
    }),
    // mxm with an accumulator: C = prev ⊕ A·B (reference accum arg threaded
    // through every op → eWiseAdd with the prior output)
    "kernel_mxm_accum" -> ((s, dir) => {
      val g = graph(s, dir)
      val a = GrMatrix(g.edgesByType(Seq("IN_NATION"))
        .filter(col("src") >= TpchGraph.CustomerOff && col("src") < TpchGraph.SupplierOff)
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      val b = GrMatrix(g.edgesByType(Seq("IN_REGION"))
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      val prev = GrMatrix(t(s, dir, "customer")
        .select((col("c_custkey") + TpchGraph.CustomerOff).as("i"),
          (col("c_custkey") % 5 + TpchGraph.RegionOff).as("j"), lit(true).as("v")))
      GrOps.mxm(Ops.anyPair)(a, b, accum = Some(Ops.lor), previous = Some(prev)).df
    }),
    // per-row reduction with the EXACT times monoid (typed Aggregator —
    // true product over the full domain, reference grb/GrBMonoid.scala:31-68).
    // Values 1..3 with ≤7 cells per row keep every product exact in double.
    "kernel_times_reduce" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val m = GrMatrix(li.groupBy(col("l_orderkey").as("i"), col("l_partkey").as("j"))
        .agg(min(col("l_partkey") % 3 + 1).as("v")))
      GrOps.reduceRows(Ops.timesM)(m).df
        .select((col("i") + TpchGraph.OrderOff).as("i"), col("v"))
    }),
    // element-level point ops: single-cell delete + upsert, immutably rebuilt
    // (reference grbv2/GrBMatrix.scala:32-46)
    "kernel_element_ops" -> ((s, dir) => {
      val g = graph(s, dir)
      val m = GrMatrix(g.edgesByType(Seq("IN_NATION"))
        .filter(col("src") >= TpchGraph.CustomerOff && col("src") < TpchGraph.SupplierOff)
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      GrOps.setElement(
        GrOps.removeElement(m, TpchGraph.CustomerOff + 1, TpchGraph.NationOff + 0),
        7L, 7L, true).df
    }),
    // vxm with a vector mask (finishVec path): BFS step restricted to a
    // node subset
    "kernel_vxm_masked" -> ((s, dir) => {
      val g = graph(s, dir)
      val frontier = GrVector(t(s, dir, "customer").filter(col("c_custkey") < 100)
        .select((col("c_custkey") + TpchGraph.CustomerOff).as("i"), lit(true).as("v")))
      val m = GrMatrix(g.edgesByType(Seq("IN_NATION"))
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      val mask = GrVector(t(s, dir, "nation").filter(col("n_nationkey") < 10)
        .select((col("n_nationkey") + TpchGraph.NationOff).as("i"), lit(true).as("v")))
      GrOps.vxm(Ops.anyPair)(frontier, m, mask = Some(mask)).df
    }),
    // vector → diagonal matrix (reference assignToDiag/Diag.diag)
    "kernel_diag" -> ((s, dir) => {
      val g = graph(s, dir)
      val m = GrMatrix(g.edgesByType(Seq("CONTAINS"))
        .select(col("src").as("i"), col("dst").as("j"), lit(1L).as("v")))
      GrOps.diag(GrOps.reduceRows(Ops.plusM)(m)).df
    }),
    // region assign: splice a replacement submatrix over a row span
    "kernel_assign" -> ((s, dir) => {
      val g = graph(s, dir)
      val target = GrMatrix(g.edgesByType(Seq("IN_NATION"))
        .filter(col("src") >= TpchGraph.CustomerOff && col("src") < TpchGraph.SupplierOff)
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      val from = GrMatrix(t(s, dir, "customer").filter(col("c_custkey") < 500)
        .select((col("c_custkey") + TpchGraph.CustomerOff).as("i"), lit(0L).as("j"), lit(true).as("v")))
      GrOps.assign(target, Span(TpchGraph.CustomerOff, TpchGraph.CustomerOff + 499L), All, from).df
    }),
    // extract with mask + accumulator threaded through the kernel's shared
    // finish path (reference extract takes both, grbv2/MatrixOps.scala:46-75):
    // customer rows of the nation adjacency, masked to even custkeys, lor-
    // accumulated onto the supplier rows as the previous output
    "kernel_extract_masked" -> ((s, dir) => {
      val g = graph(s, dir)
      val m = GrMatrix(g.edgesByType(Seq("IN_NATION"))
        .filter(col("src") >= TpchGraph.CustomerOff && col("src") < TpchGraph.SupplierOff)
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      val mask = GrMatrix(t(s, dir, "customer").filter(col("c_custkey") % 2 === 0)
        .select((col("c_custkey") + TpchGraph.CustomerOff).as("i"),
          (col("c_nationkey") + TpchGraph.NationOff).as("j"), lit(true).as("v")))
      val prev = GrMatrix(g.edgesByType(Seq("IN_NATION"))
        .filter(col("src") >= TpchGraph.SupplierOff)
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      GrOps.extract(m, Span(TpchGraph.CustomerOff, TpchGraph.CustomerOff + 999L), All,
        mask = Some(mask), accum = Some(Ops.lor), previous = Some(prev)).df
    }),
    // stride + backwards row selectors (reference GrBRange GxB_STRIDE /
    // GxB_BACKWARDS, grbv2/GrBRange.scala:7-45): every 7th customer row
    // forward from 0, every 3rd backwards from 999 — both pure arithmetic
    // predicates on the scan, no index list materialized
    "kernel_extract_stride" -> ((s, dir) => {
      val g = graph(s, dir)
      val m = GrMatrix(g.edgesByType(Seq("IN_NATION"))
        .filter(col("src") >= TpchGraph.CustomerOff && col("src") < TpchGraph.SupplierOff)
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      val fwd = GrOps.extract(m,
        Stride(TpchGraph.CustomerOff, TpchGraph.CustomerOff + 999L, 7L), All).df
        .withColumn("dir", lit("fwd"))
      val bwd = GrOps.extract(m,
        Stride(TpchGraph.CustomerOff + 999L, TpchGraph.CustomerOff, -3L), All).df
        .withColumn("dir", lit("bwd"))
      fwd.unionByName(bwd)
    }),
    // masked region assign (reference assign takes mask/accum too,
    // grbv2/MatrixOps.scala:78-105): even-custkey cells in the region are
    // overwritten by the splice, odd-custkey cells keep their old value
    "kernel_assign_masked" -> ((s, dir) => {
      val g = graph(s, dir)
      val target = GrMatrix(g.edgesByType(Seq("IN_NATION"))
        .filter(col("src") >= TpchGraph.CustomerOff && col("src") < TpchGraph.SupplierOff)
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      val from = GrMatrix(t(s, dir, "customer").filter(col("c_custkey") < 500)
        .select((col("c_custkey") + TpchGraph.CustomerOff).as("i"), lit(0L).as("j"), lit(true).as("v")))
      val even = t(s, dir, "customer").filter(col("c_custkey") % 2 === 0)
      val mask = GrMatrix(
        even.select((col("c_custkey") + TpchGraph.CustomerOff).as("i"),
            (col("c_nationkey") + TpchGraph.NationOff).as("j"), lit(true).as("v"))
          .unionByName(even.select((col("c_custkey") + TpchGraph.CustomerOff).as("i"),
            lit(0L).as("j"), lit(true).as("v"))))
      GrOps.assign(target, Span(TpchGraph.CustomerOff, TpchGraph.CustomerOff + 499L), All, from,
        mask = Some(mask)).df
    }),

    // isAll structural equality (reference grbv2/MatrixOps.scala:108-160) —
    // a driver-valued Boolean op, surfaced as a 1-row scalar query:
    // transpose∘transpose is the identity; a row-restricted extract is not.
    "kernel_isall" -> ((s, dir) => {
      val g = graph(s, dir)
      // cache(): isAll runs two exceptAll actions plus the nvals count over
      // the same operand — one scan job, three probe reuses
      val m = GrMatrix(g.edgesByType(Seq("IN_REGION"))
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v"))).cache()
      val eqFull = GrOps.isAll(m, m.transpose.transpose)
      val eqSub = GrOps.isAll(m, GrOps.extract(m, Indices(Seq(TpchGraph.NationOff)), All))
      val out = s.range(1).select(lit(eqFull).as("eq_full"), lit(eqSub).as("eq_sub"),
        lit(m.nvals).as("nvals"))
      m.df.unpersist()
      out
    }),
    // getElement point probe (reference grbv2/GrBMatrix.scala:32-38) — the one
    // intentionally driver-side read, surfaced as a 1-row scalar query: probe
    // the CONTAINS out-degree diagonal at the smallest order id.
    "kernel_get_element" -> ((s, dir) => {
      val g = graph(s, dir)
      val m = GrOps.diag(GrOps.reduceRows(Ops.plusM)(GrMatrix(
        g.edgesByType(Seq("CONTAINS"))
          .select(col("src").as("i"), col("dst").as("j"), lit(1L).as("v")))))
      val k = t(s, dir, "lineitem").agg(min("l_orderkey")).first()
        .getAs[Number](0).longValue() + TpchGraph.OrderOff
      val hit = GrOps.getElement(m, k, k).get.asInstanceOf[Number].longValue()
      val miss = GrOps.getElement(m, -1L, -1L) // outside every id range
      s.range(1).select(lit(hit).as("v"), lit(miss.isEmpty).as("miss_empty"))
    }),
    // lifecycle: clear drops every cell, duplicate shares (reference
    // grbv2/GrBMatrixOps.scala:19-155) — 1-row scalar query over nvals
    "kernel_lifecycle" -> ((s, dir) => {
      val g = graph(s, dir)
      val m = GrMatrix(g.edgesByType(Seq("CONTAINS"))
        .select(col("src").as("i"), col("dst").as("j"), lit(true).as("v")))
      s.range(1).select(lit(m.clear.nvals).as("clear_nvals"),
        lit(m.duplicate.nvals).as("dup_nvals"))
    }),

    // --- algorithms (SURVEY §2.6) ---
    "bfs_levels" -> ((s, dir) => {
      val g = graph(s, dir)
      Algorithms.bfs(
        g.edgesByType(Seq("IN_NATION", "IN_REGION")).select("src", "dst"),
        g.nodesByLabel("customer").select("id"))
    }),
    "sssp_minplus" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sp = li.groupBy((col("l_suppkey") + TpchGraph.SupplierOff).as("src"),
        (col("l_partkey") + TpchGraph.PartOff).as("dst")).agg(min("l_quantity").as("w"))
      val po = li.groupBy((col("l_partkey") + TpchGraph.PartOff).as("src"),
        (col("l_orderkey") + TpchGraph.OrderOff).as("dst")).agg(min("l_quantity").as("w"))
      val suppliers = t(s, dir, "supplier")
        .select((col("s_suppkey") + TpchGraph.SupplierOff).as("id"))
      Algorithms.sssp(sp.unionByName(po), suppliers)
    }),
    "wcc" -> ((s, dir) => {
      val g = graph(s, dir)
      val vs = g.nodes.filter(col("label").isin("nation", "region")).select("id")
      Algorithms.connectedComponents(vs, g.edgesByType(Seq("IN_REGION")))
    }),
    // incremental WCC: nation-components built from IN_NATION edges, the
    // IN_REGION delta folded in — delta-sized work, must equal the full
    // rebuild (min-id label composition)
    "wcc_apply" -> ((s, dir) => {
      val g = graph(s, dir)
      val eOld = g.edgesByType(Seq("IN_NATION")).select("src", "dst")
      val vsOld = eOld.select(col("src").as("id"))
        .unionByName(eOld.select(col("dst").as("id"))).distinct()
      Algorithms.connectedComponentsApply(
        Algorithms.connectedComponents(vsOld, eOld),
        g.edgesByType(Seq("IN_REGION")).select("src", "dst"))
    }),
    "pagerank" -> ((s, dir) => {
      val g = graph(s, dir)
      val vs = g.nodes.filter(col("label").isin("nation", "region")).select("id")
      Algorithms.pageRank(vs, g.edgesByType(Seq("IN_REGION")), iters = 10)
        .select(col("id"), round(col("rank"), 6).as("rank"))
    }),
    // personalized PageRank: walks restart at region 0's nations, so ranks
    // measure proximity to that seed set (dangling regions hand their mass
    // back to the seeds)
    "ppr" -> ((s, dir) => {
      val g = graph(s, dir)
      val vs = g.nodes.filter(col("label").isin("nation", "region")).select("id")
      val seeds = t(s, dir, "nation").filter(col("n_regionkey") === 0)
        .select((col("n_nationkey") + TpchGraph.NationOff).as("id"))
      Algorithms.personalizedPageRank(vs, g.edgesByType(Seq("IN_REGION")), seeds, iters = 10)
        .select(col("id"), round(col("rank"), 6).as("rank"))
    }),
    // harmonic centrality over the geography DAG — per-source BFS + one agg
    "harmonic" -> ((s, dir) => {
      val g = graph(s, dir)
      val vs = g.nodes
        .filter(col("label").isin("customer", "supplier", "nation", "region"))
        .select("id")
      val e = g.edgesByType(Seq("IN_NATION", "IN_REGION")).select("src", "dst")
      Algorithms.harmonicCentrality(vs, e)
        .select(col("id"), round(col("harmonic"), 6).as("harmonic"))
    }),
    // landmark-sampled harmonic centrality — the 100×-scale default for the
    // family: k=8 md5-ordered landmarks, ONE reversed per-source BFS with
    // O(k · reachability) state, unbiased n/k scaling (exact `harmonic`
    // above is the opt-in for graphs that can afford all-sources state)
    "harmonic_landmark" -> ((s, dir) => {
      val g = graph(s, dir)
      val vs = g.nodes
        .filter(col("label").isin("customer", "supplier", "nation", "region"))
        .select("id")
      val e = g.edgesByType(Seq("IN_NATION", "IN_REGION")).select("src", "dst")
      Algorithms.harmonicLandmark(vs, e, k = 8)
        .select(col("id"), round(col("harmonic"), 6).as("harmonic"))
    }),
    // landmark-sampled betweenness (Brandes-Pich) over the same hierarchy:
    // nations are the interior of every customer/supplier -> region path
    "betweenness_landmark" -> ((s, dir) => {
      val g = graph(s, dir)
      val vs = g.nodes
        .filter(col("label").isin("customer", "supplier", "nation", "region"))
        .select("id")
      val e = g.edgesByType(Seq("IN_NATION", "IN_REGION")).select("src", "dst")
      Algorithms.betweennessLandmark(vs, e, k = 8)
        .select(col("id"), round(col("betweenness"), 6).as("betweenness"))
    }),
    // triangle count / clustering coefficient / Adamic-Adar over the strong
    // co-supply graph (suppliers sharing ≥ 60% of the max shared-part count —
    // the bipartite projection + strong-edge threshold every recommender
    // pipeline builds). The threshold scalar is broadcast into the plan.
    "triangle_count" -> ((s, dir) =>
      Algorithms.triangleCount(
        t(s, dir, "supplier").select(col("s_suppkey").as("id")), cosupplyEdges(s, dir))),
    "clustering_coeff" -> ((s, dir) =>
      Algorithms.clusteringCoefficient(
        t(s, dir, "supplier").select(col("s_suppkey").as("id")), cosupplyEdges(s, dir))
        .select(col("id"), col("degree"), round(col("lcc"), 6).as("lcc"))),
    // k-truss over the FREQUENT part co-purchase graph (pairs sharing >= 2
    // orders — the threshold keeps signal edges and holds the graph near-
    // constant as SF grows, the right 100x posture; the raw pair graph
    // balloons ~linearly and the strong co-supply graph is a quasi-clique
    // with an all-or-nothing peel). Edges in < k-2 triangles peel until
    // stable. The order-keyed repartition lets both sides of the
    // pair-building self-join ride ONE exchange (ReuseExchange).
    "ktruss" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("l_orderkey"))
      val pp = li.as("l1").join(li.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_partkey") < col("l2.l_partkey"))
        .groupBy(col("l1.l_partkey").as("src"), col("l2.l_partkey").as("dst"))
        .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
        .select("src", "dst")
      Algorithms.kTruss(pp, k = 3)
    }),
    "adamic_adar" -> ((s, dir) =>
      Algorithms.adamicAdar(cosupplyEdges(s, dir))
        .select(col("u"), col("v"), round(col("score"), 6).as("score"))),
    "neighbor_jaccard" -> ((s, dir) =>
      Algorithms.neighborhoodJaccard(cosupplyEdges(s, dir))
        .select(col("u"), col("v"), round(col("score"), 6).as("score"))),
    // k-core membership by synchronous peeling (sparser 0.85-threshold
    // graph so the peel actually cascades — 3 rounds at sf0.01)
    "kcore" -> ((s, dir) =>
      Algorithms.kCore(cosupplyEdges(s, dir, 0.85), k = 10)),
    // synchronous fixed-round label propagation over the symmetrized
    // membership hierarchy (vertices = the edge endpoints, so the oracle
    // derives the identical vertex set; isolated-vertex semantics are
    // pinned in AlgorithmsSpec instead)
    "lpa" -> ((s, dir) => {
      val g = graph(s, dir)
      val e = g.edgesByType(Seq("IN_REGION", "IN_NATION")).select("src", "dst")
      val vs = e.select(col("src").as("id")).unionByName(e.select(col("dst").as("id")))
      Algorithms.labelPropagation(vs, e, iters = 3)
    }),
    // Newman modularity of the LPA partition — the community-quality score;
    // exact integer aggregates, one double expression, one output row
    "graph_modularity" -> ((s, dir) => {
      val g = graph(s, dir)
      val e = g.edgesByType(Seq("IN_REGION", "IN_NATION")).select("src", "dst")
      val vs = e.select(col("src").as("id")).unionByName(e.select(col("dst").as("id")))
      Algorithms.modularity(Algorithms.labelPropagation(vs, e, iters = 3), e)
    }),
    // per-community conductance — the breakdown modularity aggregates away
    "graph_conductance" -> ((s, dir) => {
      val g = graph(s, dir)
      val e = g.edgesByType(Seq("IN_REGION", "IN_NATION")).select("src", "dst")
      val vs = e.select(col("src").as("id")).unionByName(e.select(col("dst").as("id")))
      Algorithms.conductance(Algorithms.labelPropagation(vs, e, iters = 3), e)
    }),
    // strongly connected components over the part ORDER-SEQUENCE graph
    // (consecutive lineitems of an order → directed part→part hop). The
    // mod-5 induced subgraph keeps a mixed census (one core + singleton
    // periphery) while staying DENSE enough that its diameter — which
    // bounds the trim/color/sweep round counts — stays low (~4 trim
    // passes, ecc ≈ 14 at sf0.1; the sparser mod-10 slice ran a 16-layer
    // periphery and 29-hop eccentricity: 3x the rounds on half the data).
    // mutual-vs-hierarchical scalar over the cyclic order-sequence graph
    "graph_reciprocity" -> ((s, dir) =>
      Algorithms.reciprocity(partSeqEdges(s, dir, mod = 2))),
    "scc" -> ((s, dir) => {
      // persist the sequence graph ONCE: the vertex derivation and the
      // algorithm otherwise each rebuild the 600k-row lineitem self-join
      // (cache substitution only matches the identical projection)
      val e = partSeqEdges(s, dir, mod = 5).persist()
      val vs = e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
      graft.util.CacheLifecycle.releaseOnFirstAction(
        Algorithms.stronglyConnectedComponents(vs, e), e)
    }),
    // closeness centrality (reachable-set normalized) over the same
    // geography DAG as `harmonic` — the other classical distance centrality
    "closeness" -> ((s, dir) => {
      val g = graph(s, dir)
      val vs = g.nodes
        .filter(col("label").isin("customer", "supplier", "nation", "region"))
        .select("id")
      val e = g.edgesByType(Seq("IN_NATION", "IN_REGION")).select("src", "dst")
      Algorithms.closenessCentrality(vs, e)
        .select(col("id"), round(col("closeness"), 6).as("closeness"))
    }),
    // HITS hubs/authorities over the customer→part purchase bipartite graph:
    // hub = breadth of a customer's basket, authority = how hub-heavy a
    // part's buyers are. 2 L1-normalized iterations (fixed → unrolled oracle)
    "hits" -> ((s, dir) => {
      val e = t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") + TpchGraph.CustomerOff).as("src"),
          (col("l_partkey") + TpchGraph.PartOff).as("dst"))
      Algorithms.hits(e, iters = 2)
        .select(col("id"), round(col("hub"), 6).as("hub"), round(col("auth"), 6).as("auth"))
    }),
    // deterministic random-walk corpus over the part sequence graph — the
    // graph-embedding training input (DeepWalk-style), seeded at the 16
    // md5-order parts; next hop = md5-argmin neighbor, so an external
    // engine replays the exact walks
    "graph_walks" -> ((s, dir) => {
      val e = partSeqEdges(s, dir).persist() // see scc: one build, not two
      val vs = e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
      val seeds = vs
        .select(col("id"), md5(col("id").cast("string").cast("binary")).as("h"))
        .orderBy(col("h"), col("id")).limit(16).select("id")
      graft.util.CacheLifecycle.releaseOnFirstAction(
        Algorithms.randomWalks(e, seeds, steps = 6), e)
    }),
    // degree assortativity of the FULL part sequence graph (one-row summary:
    // do high-fanout parts chain into high-fanin parts?)
    "graph_assortativity" -> ((s, dir) =>
      Algorithms.degreeAssortativity(partSeqEdges(s, dir, mod = 1))
        .select(round(col("assortativity"), 6).as("assortativity"))),
    // shortest-path counts (Brandes' σ table as a first-class operator):
    // distance + number of distinct shortest paths, from 4 md5-order seeds
    // over the cyclic part sequence graph. mod-2 is the DENSEST slice —
    // seed eccentricity 8 at sf0.1 (vs 14 on mod-5), and the BFS round
    // count, not row volume, is what this query pays for
    "graph_sigma" -> ((s, dir) => {
      val e = partSeqEdges(s, dir, mod = 2).persist() // see scc: one build
      val vs = e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
      val seeds = vs
        .select(col("id"), md5(col("id").cast("string").cast("binary")).as("h"))
        .orderBy(col("h"), col("id")).limit(4).select("id")
      graft.util.CacheLifecycle.releaseOnFirstAction(
        Algorithms.shortestPathCounts(e, seeds), e)
    }),
    // edge-weighted PageRank over the WEIGHTED part sequence graph (weight
    // = co-occurrence multiplicity): the 50×-seen pair carries 50× the
    // mass of a singleton; degenerates to plain pagerank on unit weights
    "pagerank_weighted" -> ((s, dir) => {
      val e = partSeqWeighted(s, dir, mod = 5).persist()
      val vs = e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
      graft.util.CacheLifecycle.releaseOnFirstAction(
        Algorithms.pageRankWeighted(vs, e, iters = 10)
          .select(col("id"), round(col("rank"), 6).as("rank")), e)
    }),
    // maximal independent set (Luby, deterministic md5 priorities) over
    // the strong co-supply graph — the classic symmetry-breaking
    // primitive; quasi-clique components resolve in 1-3 rounds
    "mis" -> ((s, dir) =>
      Algorithms.maximalIndependentSet(
        t(s, dir, "supplier").select(col("s_suppkey").as("id")),
        cosupplyEdges(s, dir, 0.85))),
    // exact diameter + 90th-percentile effective diameter over finite
    // geography-DAG distances — one bfsPerSource pass, two aggregates
    "graph_diameter" -> ((s, dir) => {
      val g = graph(s, dir)
      val e = g.edgesByType(Seq("IN_NATION", "IN_REGION")).select("src", "dst")
      val seeds = e.select(col("src").as("id")).distinct()
      Algorithms.bfsPerSource(e, seeds).filter(col("level") > 0)
        .agg(max(col("level")).as("diameter"),
          round(expr("percentile(level, 0.9)"), 6).as("p90"))
    }),

    // --- text analysis / dedup (training-data pipeline ops) ---
    "text_token_counts" -> ((s, dir) =>
      graft.text.TextOps.tokenCounts(t(s, dir, "documents"), "doc_id", "text")),
    "text_quality" -> ((s, dir) =>
      graft.text.TextOps.qualityScore(t(s, dir, "documents"), "doc_id", "text")),
    "text_langid" -> ((s, dir) =>
      graft.text.TextOps.langId(t(s, dir, "documents"), "doc_id", "text")),
    "text_fingerprint" -> ((s, dir) =>
      graft.text.TextOps.fingerprint(t(s, dir, "documents"), "doc_id", "text")),
    "text_repetition" -> ((s, dir) =>
      graft.text.TextOps.repetitionStats(t(s, dir, "documents"), "doc_id", "text")),
    "text_gopher_filter" -> ((s, dir) =>
      graft.text.TextOps.gopherFilter(t(s, dir, "documents"), "doc_id", "text")),
    "corpus_stats" -> ((s, dir) =>
      graft.text.TextOps.corpusStats(t(s, dir, "documents"), "source", "doc_id", "text", "lang")),
    // pairwise source vocabulary overlap: mixture-design / contamination
    // triage at the source granularity; fan-out bounded by (sources choose 2)
    "text_source_overlap" -> ((s, dir) =>
      graft.text.TextOps.sourceOverlap(t(s, dir, "documents"), "source", "text")),
    "text_vocab" -> ((s, dir) =>
      graft.text.TextOps.vocabulary(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("tf").desc, col("tok").asc).limit(100)),
    // PII scrub: the synthetic corpus carries no natural PII, so the query
    // injects a deterministic email/IP/phone per doc (same expression in the
    // oracle) and redacts it — exercising the real regex catalog end-to-end
    "text_pii_redact" -> ((s, dir) => {
      val doctored = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact u"), col("doc_id"), lit("@example.com ip 10.0."),
          pmod(col("doc_id"), lit(256)), lit(".9 tel 555-867-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text"))
      graft.text.TextOps.redactPii(doctored, "doc_id", "text")
    }),
    "text_tfidf" -> ((s, dir) =>
      graft.text.TextOps.tfIdfTopTerms(t(s, dir, "documents"), "doc_id", "text", 3)),
    // Zipf slope over the top-1000 vocabulary — the one-number corpus
    // health check (natural text ≈ −1)
    "text_zipf" -> ((s, dir) =>
      graft.text.TextOps.zipfFit(t(s, dir, "documents"), "text", vocabSize = 1000)),
    // top PMI collocations: doc-level co-occurrence vs marginal df, the
    // df band caps the per-doc quadratic fan-out
    "text_pmi" -> ((s, dir) =>
      graft.text.TextOps.pmiPairs(t(s, dir, "documents"), "doc_id", "text",
        minDf = 5, maxDf = 100, k = 50)),
    // sparse TF-IDF cosine pairs through the inverted index (df-capped) —
    // the sparse sibling of emb_neardup
    "text_tfidf_sim" -> ((s, dir) =>
      graft.text.TextOps.tfIdfSimilarPairs(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5, maxDf = 100L)),
    "sample_stratified" -> ((s, dir) =>
      graft.text.TextOps.sampleStratified(t(s, dir, "documents"), "doc_id", "source",
        SampleRates, SampleDefaultRate).select("doc_id", "source")),
    // per-row weighted Bernoulli sampling: keep probability scales with the
    // document's length signal (longer docs likelier kept, capped at 1) —
    // the deterministic md5-threshold device with a PER-ROW threshold
    "sample_weighted" -> ((s, dir) =>
      graft.text.TextOps.sampleWeighted(t(s, dir, "documents"), "doc_id",
        col("n_chars") / lit(400.0))
        .select("doc_id", "source", "n_chars")),
    // fixed-BUDGET weighted sampling without replacement (A-ES): exactly
    // the 100 documents winning the largest ln(u)/w draw keys, w = n_chars
    // — sample-k-proportional-to-quality, as a projection + global top-k
    // (TakeOrderedAndProject: per-partition heaps, no sort shuffle)
    "sample_weighted_k" -> ((s, dir) =>
      graft.text.TextOps.sampleWeightedK(t(s, dir, "documents"), "doc_id",
        col("n_chars"), 100, "7").select("doc_id", "source", "n_chars")),
    // one-pass column profiling (ingest QA): row/null/distinct/min/max per
    // column from a single Expand+partial-agg read of the table
    "profile_docs" -> ((s, dir) =>
      graft.sources.Profiler.profile(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))),
    // the 100 TB profiler: HLL NDV per column (state = cols × 2^p, not
    // cardinality) + exact cheap stats — no multi-count-distinct Expand
    "profile_sketch" -> ((s, dir) =>
      graft.sources.Profiler.profileSketch(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"), p = 12)),
    // entity resolution: blocked candidate pairs + levenshtein verify.
    // The corpus plants one typo variant ('Custoner', one substitution,
    // digits preserved) per custkey % 7 == 0 — the same deterministic
    // fixture-doctoring device as text_pii_redact; the digit-suffix block
    // key keeps every block at 1-2 rows, so candidates = planted dups
    "er_pairs" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val dirty = c.filter(col("id") % 7 === 0)
        .select((col("id") + 10000000L).as("id"),
          concat(lit("Custoner"), expr("substring(name, 9)")).as("name"))
      graft.er.EntityResolution.candidatePairs(
        c.unionByName(dirty), "id", "name", expr("right(name, 6)"), maxDist = 2)
    }),
    // ER pairs → clusters → canonical survivor: the same transitive-drop
    // resolution the near-dup pipeline runs (dedupClusters' WCC), applied
    // to the record-linkage pairs — each planted variant clusters with its
    // original, the original (min id) survives
    "er_clusters" -> ((s, dir) => {
      val c = t(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_name").as("name"))
      val dirty = c.filter(col("id") % 7 === 0)
        .select((col("id") + 10000000L).as("id"),
          concat(lit("Custoner"), expr("substring(name, 9)")).as("name"))
      val all = c.unionByName(dirty)
      val pairs = graft.er.EntityResolution.candidatePairs(
        all, "id", "name", expr("right(name, 6)"), maxDist = 2)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      graft.text.TextOps.dedupClusters(all, "id", pairs)
    }),
    // KMV distinct sketch: per-source distinct-token estimate with k=64
    // bounded state — the deterministic, oracle-reproducible sibling of
    // approx_count_distinct (exact when a source has < 64 distinct tokens)
    "sketch_distinct" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("source"), explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
      graft.sketch.Sketches.kmvDistinct(toks, "source", col("tok"), k = 64)
    }),
    // HyperLogLog registers→estimate, p=9 (512 registers): distinct users
    // per event type lands in the linear-counting branch (150 « 2.5·m),
    // distinct event ids (~2000) in the raw-estimate branch — one query
    // exercises both correction regimes of the estimator
    "sketch_hll" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val users = graft.sketch.Sketches
        .hllDistinct(ev, Seq("event_type"), col("user_id"), p = 9)
        .withColumnRenamed("est", "est_users")
      val ids = graft.sketch.Sketches
        .hllDistinct(ev, Seq("event_type"), col("event_id"), p = 9)
        .withColumnRenamed("est", "est_events")
      users.join(ids, "event_type")
    }),
    // sliding-window distinct users from per-6h HLL registers: sketch the
    // stream once per slide, answer every 24 h window by register merge
    "sketch_hll_sliding" -> ((s, dir) =>
      graft.sketch.Sketches.hllSlidingDistinct(
        t(s, dir, "events"), col("ts"), col("user_id"),
        slideSec = 21600L, slides = 4, p = 9)),
    // deterministic bottom-k quantile sketch: per event type, the k=256
    // smallest-md5(event_id) rows are a uniform sample; quantiles are the
    // ceil(q*n)-th smallest sampled values — mergeable, O(k) state
    "sketch_quantiles" -> ((s, dir) =>
      graft.sketch.Sketches.quantileSketch(t(s, dir, "events"),
        Seq("event_type"), col("event_id"), col("value"),
        Seq(0.5, 0.9, 0.99), k = 256)),
    // KMV set-operation estimates: click-users ∩ purchase-users via
    // coordinated bottom-k samples — the theta-sketch workflow
    "sketch_intersect" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      graft.sketch.Sketches.kmvIntersect(
        ev.filter(col("event_type") === "click"), col("user_id"),
        ev.filter(col("event_type") === "purchase"), col("user_id"), k = 64)
    }),
    // Wide-frame (48-bit rank) HLL on a synthetic 4M-distinct column — the
    // GLOBAL-corpus-count variant whose rank frame doesn't saturate near
    // 2^32 like the 32-bit one; distributed range source, no driver list
    "sketch_hll_big" -> ((s, dir) => {
      val vals = s.range(4000000L).select(lit("all").as("g"), col("id"))
      graft.sketch.Sketches.hllDistinctWide(vals, Seq("g"), col("id"), p = 12)
    }),
    // EXACT heavy hitters: users with strictly more than N/120 of all
    // events. Misra-Gries bounded-state candidates (s=120 counters vs 150
    // distinct users, so the decrement path is live) → broadcast the ≤ s
    // candidates back and count them exactly — the final output is exact
    // and partitioning-independent even though the MG candidate set isn't
    "sketch_topk" -> ((s, dir) =>
      graft.sketch.Sketches.heavyHitters(
        t(s, dir, "events"), col("user_id"), 120, "user_id")),
    // Count-Min heavy hitters: words with estimated frequency ≥ 200 over
    // the document corpus (d=4 rows × w=1024 buckets; estimates only ever
    // overcount, so no true heavy hitter is missed)
    "sketch_cms" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(graft.text.TextOps.tokens(col("text"))).as("word"))
      graft.sketch.Sketches.cmsHeavyHitters(
        words, col("word"), "word", d = 4, w = 1024, minCount = 200L)
    }),
    // Bloom-filter membership: which customers MIGHT have an urgent order —
    // the compact bit-position set broadcasts, the probe side never
    // shuffles (false positives possible, false negatives impossible)
    "sketch_bloom" -> ((s, dir) => {
      val bits = graft.sketch.Sketches.bloomBits(
        t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT"),
        col("o_custkey"), k = 5, mBits = 4096)
      graft.sketch.Sketches.bloomMightContain(
        bits, t(s, dir, "customer").select(col("c_custkey")), "c_custkey",
        k = 5, mBits = 4096)
    }),
    "pack_sequences" -> ((s, dir) =>
      graft.text.TextOps.packSequences(t(s, dir, "documents"), "doc_id", "text", 2048)),
    // deterministic training-shard shuffle: seeded-md5 shard split + within-
    // shard md5-order positions — parallelism = numShards, no global sort
    "shard_assign" -> ((s, dir) =>
      graft.text.TextOps.shuffleShards(t(s, dir, "documents"), "doc_id", 16, "s")),
    // per-shard doc/token/char totals — the epoch-planning manifest
    "shard_manifest" -> ((s, dir) =>
      graft.text.TextOps.shardManifest(t(s, dir, "documents"), "doc_id", "text", 16, "s")),
    // fixed-size character chunks with overlap (RAG splitter) — pure
    // per-row projection, runs inside the scan stage
    "chunk_docs" -> ((s, dir) =>
      graft.text.TextOps.chunk(t(s, dir, "documents"), "doc_id", "text", 200, 50)
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_text"))),
    "decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.TextOps.contamination(
        docs.filter(col("source") =!= "src0"), docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3, minShared = 3)
    }),
    "dedup_exact" -> ((s, dir) =>
      graft.text.TextOps.dedupExact(t(s, dir, "documents"), "doc_id", "text")),
    // formatting-variant duplicates under the canonical form — still a
    // pure hash groupBy
    "dedup_normalized" -> ((s, dir) =>
      graft.text.TextOps.dedupNormalized(t(s, dir, "documents"), "doc_id", "text")),
    // DAU + trailing-7-day active users: distinct FIRST, then window fan-out
    "ev_active_users" -> ((s, dir) =>
      graft.events.EventOps.activeUsers(
        graft.sources.Tables.events(s, dir), "user_id", "ts", windowDays = 7)),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      graft.text.TextOps.jaccardPairs(t(s, dir, "documents"), "doc_id", "text", 5, 0.5)),
    // span-level exact-substring dedup (Lee et al. 2022): maximal token
    // spans covered by 8-grams shared across >= 2 distinct docs, and the
    // cleaned corpus with those spans cut out
    "dedup_spans" -> ((s, dir) =>
      graft.text.TextOps.duplicateSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 8, minDocs = 2)),
    "dedup_span_clean" -> ((s, dir) =>
      graft.text.TextOps.removeDuplicateSpans(t(s, dir, "documents"), "doc_id", "text",
        k = 8, minDocs = 2)
        .select(col("doc_id"), col("kept_tokens"), col("removed_tokens"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))),
    // BPE tokenizer training (8 greedy merges over the corpus word-frequency
    // table; deterministic count-desc/pair-asc selection) and corpus
    // encoding with the trained rules — the trainer's only corpus-scale job
    // is the word count, every merge round runs on the vocabulary table
    "bpe_merges" -> ((s, dir) =>
      graft.text.TextOps.bpeMerges(t(s, dir, "documents"), "text", 8)),
    "bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.TextOps.bpeTrain(docs, "text", 8)
      graft.text.TextOps.bpeEncode(
        docs.filter(col("doc_id") < 40), "doc_id", "text", merges)
    }),
    "dedup_minhash" -> ((s, dir) =>
      graft.text.TextOps.minhashDedup(t(s, dir, "documents"), "doc_id", "text").select("a", "b")),
    "dedup_simhash" -> ((s, dir) =>
      graft.text.TextOps.simhashDedup(t(s, dir, "documents"), "doc_id", "text").select("a", "b")),
    // pairs → connected components → one canonical doc per cluster: the
    // drop decision every dedup pipeline actually ships (non-transitive
    // similarity, transitive drop)
    "dedup_clusters" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.text.TextOps.minhashDedup(docs, "doc_id", "text").select("a", "b")
      graft.text.TextOps.dedupClusters(docs, "doc_id", pairs)
    }),
    // incremental dedup: yesterday's cluster labeling + today's delta
    // pairs fold through connectedComponentsApply — must equal the full
    // rebuild (LSH bands are per-doc, so restricting the corpus restricts
    // the pair set exactly; labels are min-ids, so composition is exact)
    "dedup_apply" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val isOld = col("a") % 2 === 0 && col("b") % 2 === 0
      val pairsAll = graft.text.TextOps.minhashDedup(docs, "doc_id", "text")
        .select("a", "b").persist()
      val oldClusters = graft.text.TextOps.dedupClusters(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", pairsAll.filter(isOld))
      val merged = Algorithms.connectedComponentsApply(
        oldClusters.select(col("doc_id").as("id"), col("canonical").as("component")),
        pairsAll.filter(!isOld).select(col("a").as("src"), col("b").as("dst")))
      val out = docs.select("doc_id")
        .join(merged.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("canonical"))
        .withColumn("keep", col("doc_id") === col("canonical"))
      graft.util.CacheLifecycle.releaseOnFirstAction(out, pairsAll)
    }),
    // keep policy: best copy per cluster (longest text, tie lowest id) —
    // same clusters, production keep semantics
    "dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val pairs = graft.text.TextOps.minhashDedup(docs, "doc_id", "text").select("a", "b")
      graft.text.TextOps.dedupClustersBy(docs, "doc_id", pairs, col("n_chars"))
    }),
    // verbatim 8-grams shared across docs + per-doc boilerplate fraction
    "text_boilerplate" -> ((s, dir) =>
      graft.text.TextOps.boilerplateStats(t(s, dir, "documents"), "doc_id", "text",
        n = 8, minDocs = 2)),
    // perplexity-style quality filter: mean ln P(token) under the corpus's
    // own unigram distribution
    "text_unigram_lm" -> ((s, dir) =>
      graft.text.TextOps.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")),
    // cross-corpus LM score (CCNet setup): LM trained on the src0-3
    // reference slice, every doc scored against it; n_oov separates
    // out-of-domain vocabulary from in-domain rarity
    "text_lm_xscore" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.text.TextOps.lmCrossScore(
        docs.filter(col("source").isin("src0", "src1", "src2", "src3")),
        docs, "doc_id", "text")
    }),
    // bigram LM: transition-probability quality filter (word salad scores
    // low even when its unigrams are common)
    "text_bigram_lm" -> ((s, dir) =>
      graft.text.TextOps.bigramLogProb(t(s, dir, "documents"), "doc_id", "text")),
    // tokenize -> vocab-id encode (the step before pack_sequences)
    "text_encode" -> ((s, dir) =>
      graft.text.TextOps.encodeDocs(t(s, dir, "documents"), "doc_id", "text", 512)),
    // per-source quota: top 25 docs per source by quality score
    // epoch-mix upsampling: src0 runs 2.5 epochs, src1 half an epoch,
    // everything else once — the deterministic training-mix resampler
    "mix_epochs" -> ((s, dir) =>
      graft.text.TextOps.epochMix(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.5), defaultEpochs = 1.0)
        .select("doc_id", "source", "epoch")),
    // deterministic train/val/test assignment: pure per-row projection,
    // stable across reruns/layouts — a doc never migrates between splits
    "sample_split" -> ((s, dir) =>
      graft.text.TextOps.assignSplits(t(s, dir, "documents"), "doc_id", "sp",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),
    "sample_quota" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("source"))
        .join(graft.text.TextOps.qualityScore(docs, "doc_id", "text")
          .select(col("doc_id"), col("score")), Seq("doc_id"))
      graft.text.TextOps.quotaPerGroup(scored, "source", 25,
        col("score").desc, col("doc_id").asc)
    }),

    // --- embedding similarity ---
    "emb_neardup" -> ((s, dir) =>
      graft.ml.Similarity.nearDupPairs(t(s, dir, "embeddings"), 0.4)),
    "knn_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ml.Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 10), 5)
    }),
    "knn_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ml.Similarity.lshKnn(emb, emb.filter(col("vec_id") < 10), 5,
        dim = 64, numBits = 4, tables = 16)
    }),
    // multi-probe LSH: original bucket + all single-bit flips per table —
    // recall without index growth (half the tables of knn_lsh)
    "knn_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ml.Similarity.lshMultiProbeKnn(emb, emb.filter(col("vec_id") < 10), 5,
        dim = 64, numBits = 8, tables = 2)
    }),
    // corpus-vs-corpus ALL-kNN join — the one ANN shape with NO bounded-
    // query broadcast contract: both sides bucket (shuffle join on
    // (table, bucket)), per-query top-k window. The "link every doc to its
    // neighbors" primitive at corpus scale.
    "knn_join" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ml.Similarity.lshKnn(emb, emb, 3, dim = 64, numBits = 6, tables = 4)
    }),
    "knn_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ml.Similarity.ivfKnn(emb, emb.filter(col("vec_id") < 10), 5,
        numCells = 16, nprobe = 4)
    }),
    // IVF + PQ composed (the FAISS IVFADC shape): coarse cells prune the
    // candidate set, ADC scores only the probed cells' codes — raw vectors
    // never join at query time
    "knn_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ml.Similarity.ivfPqKnn(emb, emb.filter(col("vec_id") < 10), k = 5,
        dim = 64, numCells = 16, nprobe = 4)
    }),
    // radius query: everything within cosine >= 0.3 of each query vector
    "knn_range" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.ml.Similarity.rangeSearch(emb, emb.filter(col("vec_id") < 10), 0.3)
    }),
    // ANN evaluation: recall@5 of the LSH index vs exact brute force
    "knn_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 10)
      graft.ml.Similarity.recallAtK(
        graft.ml.Similarity.lshKnn(emb, qs, 5, dim = 64, numBits = 4, tables = 16),
        graft.ml.Similarity.bruteForceKnn(emb, qs, 5), 5)
    }),
    // cluster-bucketed semantic dedup (the sub-quadratic approximate
    // complement to emb_neardup's exact triangle join)
    "emb_semantic_dedup" -> ((s, dir) =>
      graft.ml.Similarity.semanticNearDup(t(s, dir, "embeddings"), 0.4, numCells = 16)),
    // spherical k-means training (the offline quantizer for IVF/semantic
    // dedup); long-form (cell, dim, mean) output so the hash compare sees
    // scalars, not engine-specific array renderings
    "kmeans_train" -> ((s, dir) =>
      graft.ml.Similarity.kmeansCentroids(t(s, dir, "embeddings"), 8, 2)
        .select(col("cell"), posexplode(col("c_emb")).as(Seq("p", "m")))
        .select(col("cell"), col("p").cast("long").as("p"), round(col("m"), 6).as("m"))),
    // product quantization: per-subspace codebooks (train), m-byte codes
    // (encode), asymmetric-distance top-k over the codes alone (search) —
    // the embedding-compression scale path (a 768-dim vector is 3 KB raw,
    // m bytes coded; the ANN scan touches only codes + a broadcast table)
    "pq_train" -> ((s, dir) =>
      graft.ml.Similarity.pqTrain(t(s, dir, "embeddings"), dim = 64)
        .select(col("sub"), col("cell"), posexplode(col("c_sub")).as(Seq("p", "mu")))
        .select(col("sub"), col("cell"), col("p").cast("long").as("p"),
          round(col("mu"), 6).as("mu"))),
    "pq_encode" -> ((s, dir) =>
      graft.ml.Similarity.pqEncode(t(s, dir, "embeddings"), dim = 64)),
    "pq_knn" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      graft.ml.Similarity.pqKnn(e, e.filter(col("vec_id") < 10), k = 5, dim = 64)
    }),
    // per-label centroids: one posexplode + one combinable (label, dim) agg
    "emb_centroids" -> ((s, dir) =>
      graft.ml.Similarity.labelCentroids(t(s, dir, "embeddings"), "label", "embedding")),
    // distribution drift monitor: L2 + cosine between two slices' published
    // centroid vectors (reproducible from the stored centroid table alone)
    "emb_drift" -> ((s, dir) =>
      graft.ml.Similarity.centroidDrift(t(s, dir, "embeddings"), "label", "embedding",
        labelA = 0, labelB = 1)),
    // embedding-quality gate: diagonal-Mahalanobis top-20 outliers against
    // the corpus distribution (published round-6 μ/σ² stats)
    "emb_outliers" -> ((s, dir) =>
      graft.ml.Similarity.mahalanobisOutliers(t(s, dir, "embeddings"), "embedding",
        dim = 64, k = 20)),
    // exact covariance matrix (PCA/whitening input): per-row upper-triangle
    // products inside the scan stage, one combinable (i, j) aggregation
    "emb_covariance" -> ((s, dir) =>
      graft.ml.Similarity.covarianceMatrix(t(s, dir, "embeddings"), "embedding", 64)),
    // first PCA component: 6 power-iteration rounds over the covariance —
    // distributed matrix-vector algebra with per-round decimal exactness
    "emb_pca" -> ((s, dir) =>
      graft.ml.Similarity.powerIteration(
        graft.ml.Similarity.covarianceMatrix(t(s, dir, "embeddings"), "embedding", 64),
        dim = 64, iters = 6)),
    // second PCA component via implicit deflation (A − λ₁v₁v₁ᵀ applied,
    // never materialized) — the top-k-components extension
    "emb_pca2" -> ((s, dir) => {
      val cov = graft.ml.Similarity.covarianceMatrix(
        t(s, dir, "embeddings"), "embedding", 64)
      val c1 = graft.ml.Similarity.powerIteration(cov, dim = 64, iters = 6)
      graft.ml.Similarity.powerIterationDeflated(cov, c1, dim = 64, iters = 6)
    }),
    // PCA projection: every vector's score along the trained component —
    // the dimensionality-reduction step (scan-stage explode + broadcast
    // component + combinable per-vector decimal sum)
    "emb_pca_project" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val comp = graft.ml.Similarity.powerIteration(
        graft.ml.Similarity.covarianceMatrix(emb, "embedding", 64), dim = 64, iters = 6)
      graft.ml.Similarity.projectComponent(emb, "embedding", comp, 64)
    }),
    // symmetric int8 quantization digest: integer code sums pin every code
    // exactly; recon_cos is the quality gate a pipeline checks before
    // swapping its ANN index to int8
    "emb_quantize" -> ((s, dir) =>
      graft.ml.Quantization.quantizeInt8(t(s, dir, "embeddings"), "vec_id", "embedding")
        .select(col("vec_id"), round(col("scale"), 6).as("scale"),
          aggregate(col("qvec"), lit(0L), (a, x) => a + x).as("q_sum"),
          aggregate(col("qvec"), lit(0L), (a, x) => a + x * x).as("q_norm2"),
          round(col("recon_cos"), 6).as("recon_cos"))),

    // --- structured streaming ops (batch path here; incremental path in
    //     StreamingSpec via MemoryStream — same code, same plans) ---
    "stream_window_agg" -> ((s, dir) =>
      graft.streaming.StreamOps.windowedAgg(graft.sources.Tables.events(s, dir))
        .select(col("w_start").cast("date").as("day"), col("event_type"),
          col("n"), col("sum_value"))),
    // SLIDING windows (1 day every 6 h): each event replicated into its 4
    // overlapping epoch-aligned windows before one combinable aggregate
    "stream_sliding" -> ((s, dir) =>
      graft.streaming.StreamOps.slidingWindowAgg(
        graft.sources.Tables.events(s, dir))),
    // streaming distinct-count sketch: per-(day, event_type) HLL register
    // maintenance as one streaming aggregate; estimate read-side
    "stream_hll" -> ((s, dir) =>
      graft.streaming.StreamOps.windowedHllDistinct(
        graft.sources.Tables.events(s, dir), Seq("event_type"), col("user_id"), p = 9)
        .select(col("w_start").cast("date").as("day"), col("event_type"), col("est"))),
    // SLIDING streaming HLL (1 day / 6 h): still ONE streaming aggregate;
    // agrees with the batch per-slide register merge (same oracle)
    "stream_hll_sliding" -> ((s, dir) =>
      graft.streaming.StreamOps.windowedHllDistinct(
        graft.sources.Tables.events(s, dir), Nil, col("user_id"), p = 9,
        slide = Some("6 hours"))
        .select(col("w_start").cast("long").as("w_start"), col("est"))),
    // streaming frequency sketch: per-day CMS count table maintained as
    // one summing streaming aggregate; point/heavy-hitter lookups read-side
    "stream_cms" -> ((s, dir) =>
      graft.streaming.StreamOps.windowedCmsTable(
        graft.sources.Tables.events(s, dir), col("user_id"), lit(1L), d = 4, w = 256)
        .select(col("w_start").cast("date").as("day"), col("j"), col("bucket"), col("c"))),
    // streaming quantile sketch: per-(day, event_type) bottom-k sample
    // maintained as one streaming aggregate; quantile read-out read-side
    "stream_quantiles" -> ((s, dir) =>
      graft.streaming.StreamOps.windowedQuantiles(
        graft.sources.Tables.events(s, dir), Seq("event_type"), col("event_id"),
        col("value"), Seq(0.5, 0.9), k = 128)
        .select(col("w_start").cast("date").as("day"), col("event_type"),
          col("q"), col("est"))),
    // streaming exact heavy hitters: the per-(day, key) count table is the
    // streaming aggregate; the integer threshold filter reads the sunk table
    "stream_topk" -> ((s, dir) =>
      graft.streaming.StreamOps.windowedHeavyHitters(
        graft.sources.Tables.events(s, dir), col("user_id"), s = 60,
        outName = "user_id")
        .select(col("w_start").cast("date").as("day"), col("user_id"), col("cnt"))),
    // streaming counting Bloom: the per-day (position, count) bit table as
    // one summing streaming aggregate; window slices probe read-side
    "stream_bloom" -> ((s, dir) =>
      graft.streaming.StreamOps.windowedBloomBits(
        graft.sources.Tables.events(s, dir), col("user_id"), k = 5, mBits = 2048)
        .select(col("w_start").cast("date").as("day"), col("pos"), col("n"))),
    // streaming regression state: per-(day, type) five-sum table as one
    // streaming aggregate; slope/intercept is a stateless read-out
    "stream_trend" -> ((s, dir) =>
      graft.streaming.StreamOps.windowedTrend(
        graft.sources.Tables.events(s, dir), Seq("event_type"),
        hour(col("ts")), col("value"))
        .select(col("w_start").cast("date").as("day"), col("event_type"),
          col("n"), col("slope"), col("intercept"))),
    // streaming SCD2 (CDC → dimension history): one open version per key in
    // flatMapGroupsWithState state; batch path ≡ EventOps.scd2 (the oracle)
    "stream_scd2" -> ((s, dir) => {
      val sp = s; import sp.implicits._
      graft.streaming.StreamOps.scd2Stream(
        graft.sources.Tables.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[graft.streaming.GEvent]).toDF()
    }),
    // stateful streaming funnel: two ints of state per key; batch path ≡
    // EventOps.funnel's first-occurrence chain (same oracle)
    "stream_funnel" -> ((s, dir) => {
      val sp = s; import sp.implicits._
      graft.streaming.StreamOps.funnelStateful(
        graft.sources.Tables.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[graft.streaming.GEvent],
        Seq("view", "click", "purchase")).toDF()
    }),
    // stateful streaming EWMA: per-event smoothing with O(lookback) state
    // per key; batch path ≡ EventOps.ewma (same oracle)
    "stream_ewma" -> ((s, dir) => {
      val sp = s; import sp.implicits._
      graft.streaming.StreamOps.ewmaStateful(
        graft.sources.Tables.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[graft.streaming.GEvent]).toDF()
    }),
    "stream_session_window" -> ((s, dir) =>
      graft.streaming.StreamOps.sessionWindowAgg(graft.sources.Tables.events(s, dir))
        .select(col("user_id"), unix_millis(col("session_start")).as("start_ms"),
          unix_millis(col("session_end")).as("end_ms"), col("n_events"), col("sum_value"))),
    "stream_dedup" -> ((s, dir) =>
      graft.streaming.StreamOps.dedupStream(
        graft.sources.Tables.events(s, dir), Seq("user_id", "event_type"))
        .select("user_id", "event_type")),
    // incremental-ingest dedup: src0's batch survives only where its
    // fingerprint is absent from the historical (non-src0) corpus
    "stream_corpus_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val incoming = graft.text.TextOps.fingerprint(
        docs.filter(col("source") === "src0"), "doc_id", "text")
      val corpus = graft.text.TextOps.fingerprint(
        docs.filter(col("source") =!= "src0"), "doc_id", "text")
      graft.streaming.StreamOps.dedupAgainstCorpus(incoming, corpus, Seq("fp"))
        .select("doc_id")
    }),
    // NEAR-dup dedup of an incoming slice against the historical corpus:
    // per-row md5-minhash band buckets + one stream-static anti join per
    // band (candidate-level LSH contract; identical code path on a stream)
    "stream_near_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.streaming.StreamOps.nearDedupAgainstCorpus(
        docs.filter(col("source") === "src0").select("doc_id", "text"),
        docs.filter(col("source") =!= "src0"), "doc_id", "text")
        .select("doc_id")
    }),
    "stream_stateful_sessions" -> ((s, dir) => {
      import s.implicits._
      val ev = graft.sources.Tables.events(s, dir).as[graft.streaming.GEvent]
      graft.streaming.StreamOps.sessionizeStateful(ev, 1800)
        .select(col("user_id"), unix_millis(col("session_start")).as("start_ms"),
          unix_millis(col("session_end")).as("end_ms"), col("n_events"))
    }),
    // stream-stream interval join (batch path; incremental path in
    // StreamingSpec): purchases joined to clicks in the preceding 30 min
    "stream_interval_join" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "ts", "user_id")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "ts", "user_id")
      graft.streaming.StreamOps.intervalJoin(purchases, clicks, "user_id", "ts", 1800)
        .select(col("event_id").as("p_event_id"), col("r_event_id").as("c_event_id"))
    }),

    // --- multimodal binary columns (decode stub = deterministic fake codec;
    //     plumbing real — see graft.multimodal.MultimodalOps scaladoc) ---
    "mm_decode_meta" -> ((s, dir) => {
      import graft.multimodal.MultimodalOps._
      decodeMeta(syntheticMedia(t(s, dir, "documents"), "doc_id", "video")).toDF()
        .select(col("id"), col("media_type"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"), col("duration_ms"),
          col("body_len").cast("long").as("body_len"))
    }),
    "mm_features" -> ((s, dir) => {
      import graft.multimodal.MultimodalOps._
      mediaFeatures(syntheticMedia(t(s, dir, "documents"), "doc_id", "image"), dim = 8).toDF()
        .select(col("id"), col("d").cast("long").as("d"), col("stripe_sum"), col("n"))
    }),
    "mm_frame_sample" -> ((s, dir) => {
      import graft.multimodal.MultimodalOps._
      frameSample(syntheticMedia(t(s, dir, "documents"), "doc_id", "video"), everyMs = 250).toDF()
        .select(col("id"), col("frame_idx").cast("long").as("frame_idx"), col("frame_ts_ms"))
    }),
    "mm_resize" -> ((s, dir) => {
      import graft.multimodal.MultimodalOps._
      resize(syntheticMedia(t(s, dir, "documents"), "doc_id", "image"), outW = 8, outH = 8).toDF()
        .select(col("id"), col("out_w").cast("long").as("out_w"),
          col("out_h").cast("long").as("out_h"),
          col("out_len").cast("long").as("out_len"), col("body_sum"))
    }),

    // --- temporal / event ops ---
    "ev_window_agg" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      // decimal partial sums → deterministic across partition orders; final
      // cast to double only after the exact aggregation
      ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          round((sum(col("value").cast("decimal(18,2)")) / count(lit(1))).cast("double"), 6)
            .as("avg_value"))
    }),
    "ev_sessionize" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      graft.events.EventOps.sessionize(ev, "user_id", "ts", 1800)
        .groupBy("user_id").agg(max("session_id").as("n_sessions"))
    }),
    // binned time-range join: error × purchase pairs of the same user
    // within 1 hour — an equi-join on (user, delta-width bin) with the
    // exact post-filter, never the per-key history cross product
    "ev_range_join" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      graft.events.EventOps.rangeJoin(
        ev.filter(col("event_type") === "error").select("user_id", "ts", "event_id"),
        ev.filter(col("event_type") === "purchase").select("user_id", "ts", "event_id"),
        "user_id", "ts", "ts", 3600000L, Seq("event_id"))
        .select(col("user_id"), col("event_id").as("l_id"),
          col("r_event_id").as("r_id"))
    }),
    // exact least-squares drift: slope/intercept of value over event day
    // from decimal-exact classical sums — one combinable aggregation
    "ev_trend" -> ((s, dir) =>
      graft.events.EventOps.trend(
        graft.sources.Tables.events(s, dir), Seq("event_type"),
        datediff(col("ts").cast("date"), to_date(lit("2024-01-01"))), col("value"))),
    // local maxima in the per-type daily series (strictly above both
    // neighbors; series edges excluded) — the alert a monitor raises
    "ev_peaks" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy("day")
      graft.sources.Tables.events(s, dir)
        .groupBy(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
        .select(col("event_type"), col("day"), col("n"),
          lag(col("n"), 1).over(w).as("__p"), lead(col("n"), 1).over(w).as("__x"))
        .filter(col("__p").isNotNull && col("__x").isNotNull &&
          col("n") > col("__p") && col("n") > col("__x"))
        .select("event_type", "day", "n")
    }),
    // equi-width value histogram per type (group min/max broadcast back)
    "ev_histogram" -> ((s, dir) =>
      graft.events.EventOps.histogram(
        graft.sources.Tables.events(s, dir), Seq("event_type"), col("value"),
        buckets = 10)),
    // degree distribution of the co-supply graph — the first thing anyone
    // plots about a graph
    "graph_degree_hist" -> ((s, dir) => {
      // persist the derivation: the src/dst degree union otherwise embeds
      // the UNCACHED co-supply subtree twice (16 lineitem scans in the
      // plan — the self-join + threshold-max sides, doubled by the union);
      // one cached copy serves both legs (measured r14: 4.2 → ~1 s)
      val e = cosupplyEdges(s, dir).persist()
      graft.util.CacheLifecycle.releaseOnFirstAction(
        e.select(col("src").as("id")).unionByName(e.select(col("dst").as("id")))
          .groupBy("id").agg(count(lit(1)).as("degree"))
          .groupBy("degree").agg(count(lit(1)).as("n_nodes")), e)
    }),
    // robust anomalies: median/MAD flags (outliers can't corrupt their own
    // detector the way they inflate a stddev)
    "ev_anomaly_robust" -> ((s, dir) =>
      graft.events.EventOps.robustAnomalies(
        graft.sources.Tables.events(s, dir).select("event_id", "event_type", "value"),
        Seq("event_type"), "value")
        .filter(col("is_anomaly"))
        .select(col("event_id"), col("event_type"), col("robust_z"))),
    // staircase-decayed "trending" counts: exact binary-fraction weights,
    // one combinable aggregate, reference instant broadcast
    "ev_trending" -> ((s, dir) =>
      graft.events.EventOps.decayedCounts(
        graft.sources.Tables.events(s, dir), Seq("event_type"), "ts",
        halfLifeSec = 86400L)),
    // CMS inner product = join-size estimate: two d·w tables meet, the
    // raw relations never do (the planner cardinality primitive)
    "sketch_join_size" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val orr = t(s, dir, "orders")
      val est = graft.sketch.Sketches.cmsInnerProduct(
        graft.sketch.Sketches.cmsTable(ev, col("user_id"), lit(1L), d = 4, w = 256),
        graft.sketch.Sketches.cmsTable(orr, col("o_custkey"), lit(1L), d = 4, w = 256))
      val exact = ev.groupBy(col("user_id").as("k")).agg(count(lit(1)).as("__n1"))
        .join(orr.groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("__n2")), Seq("k"))
        .agg(coalesce(sum(col("__n1") * col("__n2")), lit(0L)).as("exact"))
      exact.crossJoin(est)
    }),
    // user-journey transition matrix: per-user ordered type pairs →
    // counts + conditional probabilities (types² broadcast join-back)
    "ev_transitions" -> ((s, dir) =>
      graft.events.EventOps.transitionMatrix(
        graft.sources.Tables.events(s, dir), "user_id", "ts", "event_type", "event_id")),
    // one-pass Poisson bootstrap: 8 deterministic md5-Poisson(1) replicate
    // weights per row → per-replicate means; the spread IS the sampling
    // error, with zero data reshuffling
    "ev_bootstrap" -> ((s, dir) =>
      graft.events.EventOps.bootstrapMeans(
        graft.sources.Tables.events(s, dir), "event_id", col("value"),
        replicates = 8, Seq("event_type"))),
    // incremental aggregate maintenance: history state ⊎ delta state must
    // equal the full rebuild — the nightly-refresh primitive (the delta
    // never row-joins the history)
    "ev_agg_apply" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      val cut = to_timestamp(lit("2024-01-16 00:00:00"))
      val early = graft.events.EventOps.aggState(
        ev.filter(col("ts") < cut), Seq("event_type"), col("value"))
      val late = graft.events.EventOps.aggState(
        ev.filter(col("ts") >= cut), Seq("event_type"), col("value"))
      graft.events.EventOps.aggApply(early, late, Seq("event_type"))
        .select(col("event_type"), col("n"),
          round(col("sum_v").cast("double"), 6).as("sum_v"),
          round(col("min_v"), 6).as("min_v"), round(col("max_v"), 6).as("max_v"),
          round(col("sum_v").cast("double") / col("n"), 6).as("avg_v"))
    }),
    // bounded-lookback EWMA per user: 8 lag terms with exact 2^-k weights
    // inside one window pass — the smoothing signal a monitor reads
    "ev_ewma" -> ((s, dir) =>
      graft.events.EventOps.ewma(
        graft.sources.Tables.events(s, dir).select("event_id", "user_id", "ts", "value"),
        Seq("user_id"), Seq(col("ts").asc, col("event_id").asc), col("value"))
        .select(col("event_id"), col("user_id"), col("ewma"))),
    // SCD2 dimension build: each user's event_type change log collapsed to
    // versioned validity ranges — one key shuffle, two window passes
    "scd2_history" -> ((s, dir) =>
      graft.events.EventOps.scd2(
        graft.sources.Tables.events(s, dir)
          .select("user_id", "ts", "event_type", "event_id"),
        "user_id", "ts", Seq("event_type"), "event_id")),
    // point-in-time read over the history: one covering version per key
    // at 2024-01-16T00:00Z — a pure partition-prunable filter
    "scd2_asof" -> ((s, dir) =>
      graft.events.EventOps.scd2AsOf(
        graft.events.EventOps.scd2(
          graft.sources.Tables.events(s, dir)
            .select("user_id", "ts", "event_type", "event_id"),
          "user_id", "ts", Seq("event_type"), "event_id"),
        atMs = 1705363200000L)),
    // incremental SCD2: history built from the first half of the log, the
    // second half folded in by scd2Apply — the oracle is the FULL rebuild
    // (the merge invariant IS the correctness statement)
    "scd2_apply" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
        .select("user_id", "ts", "event_type", "event_id")
      val hist = graft.events.EventOps.scd2(
        ev.filter(col("ts") < "2024-01-16"), "user_id", "ts",
        Seq("event_type"), "event_id")
      graft.events.EventOps.scd2Apply(hist,
        ev.filter(col("ts") >= "2024-01-16"), "user_id", "ts",
        Seq("event_type"), "event_id")
    }),
    "ev_asof_join" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id", "value")
      graft.events.EventOps.asofJoin(purchases, clicks, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("asof_value"))
    }),
    // forward as-of with tolerance: each purchase's NEXT click within 10
    // minutes (same union-merge plan, reversed scan order + post-mask)
    "ev_asof_forward" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id", "value")
      graft.events.EventOps.asofJoin(purchases, clicks, "user_id", "ts", Seq("value"),
        forward = true, toleranceMillis = Some(600000L))
        .select(col("event_id"), col("asof_value"))
    }),
    "ev_json" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      ev.select(col("event_type"), get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type").agg(sum("k").as("sum_k"))
    }),
    // ordered funnel: view → click → purchase; one combinable min-agg per
    // step, stage i gated on strictly-after stage i−1
    "ev_funnel" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      graft.events.EventOps.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
        .select("user_id", "stage")
    }),
    // funnel with a CONVERSION WINDOW: each stage within 6 h of the
    // previous (first-occurrence-chain semantics, documented)
    "ev_funnel_window" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      graft.events.EventOps.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), maxGapMs = 6L * 3600 * 1000)
        .select("user_id", "stage")
    }),
    // cohort retention: first-activity-day cohorts, fraction active k days on
    "ev_retention" -> ((s, dir) =>
      graft.events.EventOps.retention(graft.sources.Tables.events(s, dir), "user_id", "ts")),

    // --- relational surface (free via Spark SQL; reference §2.7 absent ops) ---
    "q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("n"))),
    // skew-aware join: heavy-hitter detection + salted replication; the
    // threshold (40 rows/key) splits sf0.01's ~60-rows-per-supplier keys so
    // BOTH the hot (salted) and cold (plain) paths carry rows through the
    // correctness gate. Result ≡ plain inner join — the oracle is exactly that.
    "skew_join" -> ((s, dir) =>
      graft.operators.SkewJoin.saltedJoin(
        t(s, dir, "lineitem").select("l_suppkey", "l_quantity"),
        t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
        "l_suppkey", "s_suppkey", salts = 8, hotThreshold = 40)
        .groupBy("s_nationkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))),
    // bloom-pruned join: lineitem shrinks to might-match rows via k
    // broadcast semi joins on the urgent-orders bit set BEFORE the exact
    // join — result ≡ the plain inner join (no false negatives)
    "bloom_join" -> ((s, dir) =>
      graft.operators.JoinPruning.bloomPrunedJoin(
        t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey", "o_custkey"),
        t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice"),
        "o_orderkey", "l_orderkey", k = 5, mBits = 8192)
        .groupBy("o_orderkey")
        .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"))),
    // partitioned-parquet sink round trip: write documents hive-partitioned
    // by (lang, source) sorted by doc_id, read the layout back and project —
    // exercising the full sink path (partition-dir encoding, one file per
    // partition, in-file sort) against the identity oracle
    "sink_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
      graft.sources.Writer.writePartitioned(
        t(s, dir, "documents"), out, Seq("lang", "source"), sortCols = Seq("doc_id"))
      graft.sources.Writer.readPartitioned(s, out)
        .select("doc_id", "lang", "source", "n_chars")
    }),
    // JSONL round trip: the LLM-pipeline interchange format through the
    // bounded-file-count sink and the explicit-schema reader
    "jsonl_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
      val docs = t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars")
      graft.sources.Writer.writeJsonl(docs, out, numFiles = 4)
      graft.sources.Writer.readJsonl(s, out, docs.schema)
    }),
    // small-file compaction: a 64-file spray rewritten to a pruned
    // lang-partitioned layout in place (swap-based), data untouched
    "compact_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-compact")
      java.nio.file.Files.delete(out)
      val docs = t(s, dir, "documents").select("doc_id", "lang", "source", "n_chars")
      docs.repartition(64).write.parquet(out.toString)
      graft.sources.Writer.compact(s, out.toString, partitionCols = Seq("lang"),
        sortCols = Seq("doc_id"))
      graft.sources.Writer.readPartitioned(s, out.toString)
        .select("doc_id", "lang", "source", "n_chars")
    }),
    // CSV round trip: header + quoting through the same bounded-file-count
    // sink and explicit-schema reader (inference retypes at scale)
    "csv_roundtrip" -> ((s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft-csv").toString
      val docs = t(s, dir, "documents").select("doc_id", "text", "lang", "source")
      graft.sources.Writer.writeCsv(docs, out, numFiles = 4)
      graft.sources.Writer.readCsv(s, out, docs.schema)
    }),
    // Z-order (Morton) clustering key: the multi-dim layout device — the
    // write path range-partitions on this code (LayoutSpec proves the
    // disjoint-file-range property); the query pins the code bit-for-bit
    "zorder_layout" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_orderkey"),
        graft.sources.Layout.zValue(col("o_custkey") % 1024,
          col("o_orderkey") % 1024, 10).as("z"))),
    // ROLLUP hierarchy totals — one pass, partial-agg per grouping set
    "olap_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))),
    // CUBE: all 2^k grouping sets in the same single Expand+partial-agg pass
    "olap_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n"))),
    // pivot with an EXPLICIT value list — one partial-agg pass, no
    // distinct-values pre-job (the implicit form runs one); at scale the
    // wide row beats a (key, type) long table only when the type domain is
    // small and known, which is exactly the explicit-list contract
    "olap_pivot" -> ((s, dir) =>
      graft.sources.Tables.events(s, dir)
        .groupBy(to_date(col("ts")).as("day"))
        .pivot("event_type", Seq("view", "click", "purchase"))
        .agg(count(lit(1)))
        .select(col("day"), coalesce(col("view"), lit(0L)).as("n_view"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"))),
    // exact linear-interpolated quantiles per group (matches DuckDB
    // quantile_cont; `percentile` is Spark's exact implementation, fine at
    // any scale that can sort a group — for sketch-sized state use
    // percentile_approx instead)
    "ev_percentiles" -> ((s, dir) =>
      graft.sources.Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          round(expr("percentile(value, 0.25)"), 6).as("p25"),
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90"))),
    // running total per key — frame-bounded window agg, decimal accumulation
    // so the cumulative sum is partition-order independent
    "window_running" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      t(s, dir, "orders")
        .withColumn("running_total",
          sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double"))
        .select("o_custkey", "o_orderkey", "running_total")
    }),
    "window_topk" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    }),
    // OHLC bars: open/close via min_by/max_by over the (ts, event_id)
    // struct order (event_id breaks timestamp ties deterministically) —
    // one combinable groupBy, no window pass
    "ev_ohlc" -> ((s, dir) =>
      graft.sources.Tables.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          count(lit(1)).as("n"))),
    // explicit GROUPING SETS (the general form rollup/cube specialize):
    // still ONE Expand + partial-agg pass — no per-set rescan
    "olap_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("graft_gs_lineitem")
      s.sql(
        "SELECT l_returnflag, l_linestatus, " +
        "cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty, " +
        "count(1) AS n FROM graft_gs_lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())")
    }),
    // lag(): per-user inter-event gap in seconds (first event → NULL)
    "window_lag" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      graft.sources.Tables.events(s, dir)
        .withColumn("__prev", lag(col("ts"), 1).over(w))
        .select(col("event_id"),
          (col("ts").cast("long") - col("__prev").cast("long")).as("gap_s"))
    }),
    // quartile bucketing per event type (spend-tier segmentation device)
    "window_ntile" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("value"), col("event_id"))
      graft.sources.Tables.events(s, dir)
        .withColumn("q", ntile(4).over(w))
        .groupBy("event_type", "q").agg(count(lit(1)).as("n"),
          round(max(col("value")), 6).as("q_max"))
    }),
    // percent_rank / cume_dist — the remaining rank-family windows (ties
    // share a value by definition, so the value ordering alone is enough)
    "window_pct" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("value"))
      graft.sources.Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
    }),
    // per-type z-score outliers — the data-quality gate a training
    // pipeline runs over numeric telemetry: flag |z| > 2 against the
    // population mean/stddev of the event's own type. One combinable
    // aggregate joined back per row — no window, no second shuffle of the
    // fact side beyond the broadcastable per-type stats
    "ev_anomaly" -> ((s, dir) => {
      val ev = graft.sources.Tables.events(s, dir)
      val stats = ev.groupBy("event_type")
        .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
      ev.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", (col("value") - col("mu")) / col("sd"))
        .filter(abs(col("z")) > 2)
        .select(col("event_id"), col("event_type"), round(col("z"), 6).as("z"))
    }),
  )

  /** DuckDB twin of the BPE trainer's shared CTE chain: w0 = the wrapped
    * word-frequency table (symbols chr(1)/chr(2)-wrapped, space-joined —
    * the representation under which a literal `replace` IS the exact
    * left-to-right BPE merge, see TextOps.SymOpen), then per merge round i:
    * p{i} = weighted adjacent-pair counts, b{i} = the argmax pair (count
    * desc, pair asc — binary collation, identical to Spark) with its
    * replacement, w{i+1} = the merged table. chr(4) is an unmatchable
    * no-op pattern for rounds past exhaustion. Every CTE is MATERIALIZED:
    * each level is referenced several times (p_i and w_{i+1} both read w_i;
    * b_i is read three times), so DuckDB's default inlining re-evaluates
    * the chain ~3^k times — materialization makes it k linear passes. */
  private def bpeOracleWith(k: Int): String = {
    val sb = new StringBuilder
    sb ++= ("WITH w0 AS MATERIALIZED (SELECT array_to_string(list_transform(string_split(word, ''), " +
      "c -> chr(1)||c||chr(2)), ' ') AS seq, cnt FROM (" +
      "SELECT w AS word, count(*) AS cnt FROM (SELECT unnest(" +
      "regexp_split_to_array(lower(text), '[^a-z]+')) AS w FROM documents) " +
      "WHERE w <> '' GROUP BY w))")
    for (i <- 0 until k) {
      sb ++= (s", p$i AS MATERIALIZED (SELECT s[i]||' '||s[i+1] AS pair, sum(cnt) AS c FROM (" +
        s"SELECT cnt, s, unnest(range(1, len(s))) AS i FROM (" +
        s"SELECT cnt, string_split(seq, ' ') AS s FROM w$i)) GROUP BY 1)")
      sb ++= (s", b$i AS MATERIALIZED (SELECT pair, chr(1)||replace(replace(replace(pair, " +
        s"chr(1), ''), chr(2), ''), ' ', '')||chr(2) AS rep FROM p$i " +
        s"ORDER BY c DESC, pair ASC LIMIT 1)")
      sb ++= (s", w${i + 1} AS MATERIALIZED (SELECT replace(seq, " +
        s"coalesce((SELECT pair FROM b$i), chr(4)), " +
        s"coalesce((SELECT rep FROM b$i), chr(4))) AS seq, cnt FROM w$i)")
    }
    sb.toString
  }

  private def bpeMergesOracle(k: Int): String = {
    val rows = (0 until k).map { i =>
      s"SELECT CAST($i AS BIGINT) AS rank, " +
        "replace(replace(split_part(pair, ' ', 1), chr(1), ''), chr(2), '') AS \"left\", " +
        "replace(replace(split_part(pair, ' ', 2), chr(1), ''), chr(2), '') AS \"right\", " +
        s"replace(replace(replace(pair, chr(1), ''), chr(2), ''), ' ', '') AS merged FROM b$i"
    }.mkString(" UNION ALL ")
    bpeOracleWith(k) + " SELECT * FROM (" + rows + ") ORDER BY rank"
  }

  private def bpeEncodeOracle(k: Int): String = {
    val chain = (0 until k).foldLeft("seq")((acc, i) =>
      s"replace($acc, coalesce((SELECT pair FROM b$i), chr(4)), " +
        s"coalesce((SELECT rep FROM b$i), chr(4)))")
    bpeOracleWith(k) +
      ", enc AS (SELECT doc_id, array_to_string(list_transform(" +
      "list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> ''), " +
      "w -> array_to_string(list_transform(string_split(w, ''), " +
      "c -> chr(1)||c||chr(2)), ' ')), ' '||chr(3)||' ') AS seq " +
      "FROM documents WHERE doc_id < 40) " +
      "SELECT doc_id, tokens, CAST(CASE WHEN tokens = '' THEN 0 ELSE " +
      "len(string_split(tokens, ' ')) END AS BIGINT) AS n_tokens FROM (" +
      s"SELECT doc_id, replace(replace(replace($chain, ' '||chr(3)||' ', ' '), " +
      "chr(1), ''), chr(2), '') AS tokens FROM enc)"
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    *
    * [[Verify]] wraps each query's oracle in a `* REPLACE (c + 0)`
    * projection over the query result's DOUBLE columns and applies the same
    * `+ 0.0` Spark-side — canonicalizing −0.0 to +0.0 on both engines
    * before the driver's byte-hash compare (see [[graft.util.NegZero]]). */
  def oracleSql: Map[String, String] = Map(
    "bpe_merges" -> bpeMergesOracle(8),
    "bpe_encode" -> bpeEncodeOracle(8),
    "cy_expand_1hop" ->
      "SELECT DISTINCT c_nationkey + 2000000000 AS n FROM customer",
    "cy_2hop" ->
      ("SELECT DISTINCT c_custkey + 3000000000 AS c, n_regionkey + 1000000000 AS r " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey"),
    "cy_triangle" ->
      ("WITH " + partSeqCte(2) + " " +
       "SELECT DISTINCT CAST(e1.src AS BIGINT) AS a, CAST(e1.dst AS BIGINT) AS b, " +
       "CAST(e2.dst AS BIGINT) AS c FROM e e1 " +
       "JOIN e e2 ON e2.src = e1.dst " +
       "JOIN e e3 ON e3.src = e2.dst AND e3.dst = e1.src"),
    "cy_incoming" ->
      "SELECT DISTINCT s_nationkey + 2000000000 AS n FROM supplier",
    "cy_fork_middle" ->
      ("SELECT DISTINCT c_nationkey + 2000000000 AS n FROM customer " +
       "WHERE c_nationkey IN (SELECT s_nationkey FROM supplier)"),
    "cy_multi_return" ->
      ("SELECT DISTINCT l1.l_suppkey + 4000000000 AS su, l2.l_orderkey + 6000000000 AS o " +
       "FROM lineitem l1 JOIN lineitem l2 ON l1.l_partkey = l2.l_partkey"),
    "cy_create" ->
      ("SELECT n_nationkey + 2000000000 AS n, 'hub0' AS hub, 7 AS w " +
       "FROM nation ORDER BY n"),
    "cy_merge" ->
      ("SELECT n_nationkey + 2000000000 AS n, 1 AS n_edges FROM nation"),
    "cy_upsert" ->
      ("SELECT 9100000000 AS h, 'uhub' AS nm, 3 AS seen"),
    "cy_set" ->
      ("SELECT c_custkey + 3000000000 AS c, round(c_acctbal + 1000) AS v " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "WHERE n_name = 'NATION_7' ORDER BY c"),
    "cy_delete" ->
      ("SELECT n_nationkey + 2000000000 AS n, count(DISTINCT c_custkey) AS nc " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "WHERE n_name <> 'NATION_3' GROUP BY 1 ORDER BY n"),
    "cy_props" ->
      ("SELECT DISTINCT r_regionkey + 1000000000 AS r, 'region' AS r_label, " +
       "r_name AS r_name FROM region"),
    "cy_count" ->
      ("SELECT c_nationkey + 2000000000 AS n, count(DISTINCT c_custkey) AS count_c " +
       "FROM customer GROUP BY 1 ORDER BY n"),
    "cy_alias" ->
      ("SELECT c_nationkey + 2000000000 AS nation_id, " +
       "count(DISTINCT c_custkey) AS customers " +
       "FROM customer GROUP BY 1 ORDER BY customers DESC, nation_id LIMIT 10"),
    "cy_return_props" ->
      ("SELECT c_name AS c_name, n_name AS n_name FROM customer " +
       "JOIN nation ON c_nationkey = n_nationkey " +
       "WHERE c_acctbal > 9000 ORDER BY c_name LIMIT 50"),
    "cy_agg_props" ->
      ("SELECT n_name AS n_name, count(DISTINCT c_custkey) AS count_c, " +
       "round(sum(o_totalprice), 2) AS sum_o_value, max(o_totalprice) AS max_o_value " +
       "FROM nation JOIN customer ON c_nationkey = n_nationkey " +
       "JOIN orders ON o_custkey = c_custkey GROUP BY 1 ORDER BY n_name"),
    "cy_optional" ->
      ("SELECT c_custkey + 3000000000 AS c, count(DISTINCT o_orderkey) AS count_o " +
       "FROM customer LEFT JOIN orders ON o_custkey = c_custkey GROUP BY 1"),
    "cy_optional_props" ->
      ("SELECT n_name AS n_name, count(DISTINCT s_suppkey) AS count_s, " +
       "max(s_acctbal) AS max_s_value " +
       "FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey " +
       "GROUP BY 1 ORDER BY n_name"),
    "cy_where_and" ->
      ("SELECT c_custkey + 3000000000 AS c, c_nationkey + 2000000000 AS n " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "WHERE c_acctbal > 5000 AND n_name = 'NATION_3'"),
    "cy_edge_prop" ->
      ("SELECT l_orderkey + 6000000000 AS o, l_partkey + 5000000000 AS p " +
       "FROM lineitem GROUP BY 1, 2 HAVING min(l_quantity) >= 45"),
    // IN_NATION edges have a NULL weight (empty key list); PLACED edges
    // carry weight = o_totalprice
    "cy_rel_keys" ->
      ("SELECT c_custkey + 3000000000 AS c, c_nationkey + 2000000000 AS x, '' AS ks " +
       "FROM customer " +
       "UNION ALL " +
       "SELECT o_custkey + 3000000000, o_orderkey + 6000000000, 'weight' FROM orders"),
    "cy_edge_prop_or" ->
      ("SELECT li.o, li.p FROM (SELECT l_orderkey + 6000000000 AS o, " +
       "l_partkey + 5000000000 AS p, min(l_quantity) AS w FROM lineitem " +
       "GROUP BY 1, 2) li JOIN part ON p_partkey + 5000000000 = li.p " +
       "WHERE li.w >= 48 OR p_retailprice > 1900"),
    "cy_ret_edge_prop" ->
      ("SELECT c_custkey + 3000000000 AS c, count(DISTINCT o_orderkey) AS count_o, " +
       "round(sum(o_totalprice), 2) AS sum_r_weight " +
       "FROM customer JOIN orders ON o_custkey = c_custkey GROUP BY 1"),
    "cy_where_or" ->
      ("SELECT c_custkey + 3000000000 AS c, c_nationkey + 2000000000 AS n " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "WHERE c_acctbal > 9900 OR n_name = 'NATION_3'"),
    "cy_in_list" ->
      ("SELECT c_custkey + 3000000000 AS c, c_nationkey + 2000000000 AS n " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "WHERE n_name IN ('NATION_3', 'NATION_5')"),
    "cy_multi_match" ->
      ("SELECT DISTINCT c_custkey + 3000000000 AS c, s_suppkey + 4000000000 AS su " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey AND n_name = 'NATION_3' " +
       "JOIN supplier ON s_nationkey = n_nationkey"),
    "cy_return_star" ->
      ("SELECT DISTINCT n_nationkey + 2000000000 AS n, " +
       "n_regionkey + 1000000000 AS r FROM nation ORDER BY n, r"),
    "cy_where_not" ->
      ("SELECT DISTINCT c_nationkey + 2000000000 AS n FROM customer " +
       "WHERE NOT (c_acctbal < 9000 OR c_name LIKE '%7') ORDER BY n"),
    "cy_string_ops" ->
      ("SELECT c_name AS c_name FROM customer " +
       "WHERE c_name LIKE 'Customer#0000001%' AND c_name LIKE '%9' ORDER BY c_name"),
    "cy_isnull_or" ->
      ("SELECT n_name AS n_name FROM nation " +
       "WHERE n_name IS NULL OR n_name LIKE 'NATION_1%' ORDER BY n_name"),
    "cy_with_having" ->
      ("SELECT n_name AS nation, count(DISTINCT c_custkey)::BIGINT AS n_cust " +
       "FROM nation JOIN customer ON c_nationkey = n_nationkey " +
       "GROUP BY 1 HAVING count(DISTINCT c_custkey) >= 60 ORDER BY nation"),
    "cy_with_agg" ->
      ("WITH per AS (SELECT n_nationkey, count(DISTINCT c_custkey)::BIGINT AS n_cust " +
       "FROM nation JOIN customer ON c_nationkey = n_nationkey GROUP BY 1) " +
       "SELECT min(n_cust)::BIGINT AS min_n_cust, max(n_cust)::BIGINT AS max_n_cust, " +
       "sum(n_cust)::BIGINT AS sum_n_cust, count(*)::BIGINT AS count_n FROM per"),
    "cy_with_topk" ->
      ("SELECT nation, n_cust FROM (" +
       "SELECT n_name AS nation, count(DISTINCT c_custkey)::BIGINT AS n_cust " +
       "FROM nation JOIN customer ON c_nationkey = n_nationkey " +
       "GROUP BY 1 ORDER BY n_cust DESC, nation LIMIT 5) ORDER BY nation"),
    "cy_with_chain" ->
      ("WITH per AS (SELECT c_nationkey AS n, count(DISTINCT o_orderkey)::BIGINT AS n_orders " +
       "FROM customer JOIN orders ON o_custkey = c_custkey GROUP BY 1) " +
       "SELECT n_orders, count(*)::BIGINT AS n_nations FROM per " +
       "GROUP BY 1 ORDER BY n_orders"),
    "cy_with_count_star" ->
      ("WITH per AS (SELECT c_nationkey, count(DISTINCT c_custkey)::BIGINT AS n_cust " +
       "FROM customer GROUP BY 1) " +
       "SELECT count(*)::BIGINT AS groups, sum(n_cust)::BIGINT AS total FROM per"),
    "cy_with_count_distinct" ->
      ("SELECT count(DISTINCT o_custkey)::BIGINT AS buyers, " +
       "count(DISTINCT o_orderkey)::BIGINT AS n_orders " +
       "FROM orders JOIN customer ON c_custkey = o_custkey"),
    "cy_exists" ->
      ("SELECT c_custkey + 3000000000 AS c FROM customer " +
       "WHERE c_custkey IN (SELECT o_custkey FROM orders)"),
    "cy_not_exists" ->
      ("SELECT c_custkey + 3000000000 AS c FROM customer " +
       "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)"),
    "cy_exists_or" ->
      ("SELECT c_custkey + 3000000000 AS c, c_nationkey + 2000000000 AS n " +
       "FROM customer WHERE c_acctbal > 9900 " +
       "OR c_custkey NOT IN (SELECT o_custkey FROM orders)"),
    "cy_exists_2hop" ->
      ("SELECT DISTINCT c_nationkey + 2000000000 AS n FROM customer " +
       "WHERE c_custkey IN (SELECT o_custkey FROM orders)"),
    "cy_collect" ->
      ("SELECT n_regionkey + 1000000000 AS r, " +
       "array_to_string(list_sort(list(n_name)), ',') AS nations " +
       "FROM nation GROUP BY 1 ORDER BY r"),
    // coalesce: collect over zero rows is the EMPTY list (Spark collect_list
    // → [] → ''), while DuckDB's list() over zero rows is NULL
    "cy_with_collect" ->
      ("SELECT coalesce(array_to_string(list_sort(list(nation)), ','), '') " +
       "AS big_nations FROM (" +
       "SELECT n_name AS nation FROM nation JOIN customer ON c_nationkey = n_nationkey " +
       "GROUP BY 1 HAVING count(DISTINCT c_custkey) >= 60)"),
    "cy_type" ->
      ("SELECT * FROM (SELECT 'IN_NATION' AS type_r, " +
       "count(DISTINCT c_nationkey)::BIGINT AS count_x FROM customer " +
       "UNION ALL SELECT 'PLACED', count(DISTINCT o_orderkey)::BIGINT FROM orders) " +
       "ORDER BY type_r"),
    "cy_id" ->
      ("SELECT n_nationkey + 2000000000 AS nid, n_regionkey + 1000000000 AS r " +
       "FROM nation ORDER BY nid"),
    "cy_fn_string" ->
      ("SELECT upper(c_name) AS uname, length(c_name)::BIGINT AS len " +
       "FROM customer WHERE c_name LIKE '%1' ORDER BY uname LIMIT 20"),
    // floor casts to BIGINT on the oracle side: Spark's floor(double) is
    // LONG natively, DuckDB's is DOUBLE
    "cy_fn_math" ->
      ("SELECT c_custkey + 3000000000 AS c, abs(c_acctbal) AS mag, " +
       "floor(c_acctbal)::BIGINT AS fl FROM customer ORDER BY c LIMIT 30"),
    "cy_unwind_range" ->
      ("SELECT count(*) AS n, sum(x)::BIGINT AS s, min(x) AS lo, max(x) AS hi " +
       "FROM generate_series(1, 200, 3) t(x) WHERE x % 2 = 0"),
    "cy_fn_split" ->
      ("SELECT p_partkey + 5000000000 AS pid, " +
       "len(string_split(p_name, ' '))::BIGINT AS words, " +
       "string_split(p_name, ' ')[1] AS first " +
       "FROM part ORDER BY pid LIMIT 40"),
    // floor casts to BIGINT (Spark floor is LONG, DuckDB DOUBLE — the
    // cy_fn_math device); exp/round stay DOUBLE on both sides
    "cy_fn_scalar2" ->
      ("SELECT c_custkey + 3000000000 AS cid, ltrim(rtrim(c_name)) AS nm, " +
       "floor(log10(c_acctbal))::BIGINT AS mag, round(exp(0)) AS one, true AS tb " +
       "FROM customer WHERE c_acctbal > 9990 ORDER BY cid"),
    // list predicates replay as grouped boolean aggregates (no NULLs in
    // acctbal, so bool_or/bool_and ≡ exists/forall over the collected list)
    "cy_list_pred" ->
      ("SELECT c_nationkey + 2000000000 AS n, bool_or(c_acctbal > 9990) AS has_rich, " +
       "bool_and(c_acctbal > -1000) AS all_ok, " +
       "(count(*) FILTER (WHERE c_acctbal > 9995)) = 1 AS one_top " +
       "FROM customer GROUP BY 1 ORDER BY n"),
    "cy_list_comp" ->
      ("WITH xs AS (SELECT list(x ORDER BY x) AS l FROM generate_series(1, 12) t(x)) " +
       "SELECT len(list_filter(l, y -> y % 3 = 0))::BIGINT AS n, " +
       "list_aggregate(l, 'sum')::BIGINT AS total, " +
       "array_to_string(list_filter(l, y -> y > 9), ',') AS big FROM xs"),
    // per-row reduce replay: Σ x² for x in 1..k via the closed form
    "cy_reduce_row" ->
      ("SELECT n, CAST(k * (k + 1) * (2 * k + 1) / 6 AS BIGINT) AS ss " +
       "FROM (SELECT n_nationkey + 2000000000 AS n, " +
       "len(n_name) % 5 + 1 AS k FROM nation) ORDER BY n"),
    "cy_list_where" ->
      ("SELECT n FROM (SELECT c_nationkey + 2000000000 AS n, " +
       "bool_or(c_acctbal > 9995) AS f FROM customer GROUP BY 1) WHERE f ORDER BY n"),
    "cy_startend" ->
      ("SELECT c_custkey + 3000000000 AS sn, c_nationkey + 2000000000 AS en, " +
       "'IN_NATION' AS t FROM customer WHERE c_acctbal > 9990 ORDER BY sn"),
    "cy_keys" ->
      ("SELECT r_regionkey + 1000000000 AS id, 'name' AS ks FROM region " +
       "UNION ALL SELECT c_custkey + 3000000000, 'name,value' FROM customer " +
       "WHERE c_acctbal > 9990"),
    "cy_allshortest" ->
      ("WITH cn AS (SELECT c_custkey + 3000000000 AS c, " +
       "c_nationkey + 2000000000 AS n FROM customer), " +
       "sn AS (SELECT s_suppkey + 4000000000 AS s, " +
       "s_nationkey + 2000000000 AS n FROM supplier), " +
       "e0 AS (SELECT c AS a, n AS b FROM cn UNION SELECT s, n FROM sn), " +
       "e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0), " +
       "w1 AS (SELECT cn2.c, e.b AS x, 1 AS len FROM " +
       "(SELECT DISTINCT c_custkey + 3000000000 AS c FROM customer " +
       "WHERE c_acctbal > 9900) cn2 JOIN e ON e.a = cn2.c), " +
       "w2 AS (SELECT w1.c, e.b AS x, 2 AS len FROM w1 JOIN e ON e.a = w1.x), " +
       "w3 AS (SELECT w2.c, e.b AS x, 3 AS len FROM w2 JOIN e ON e.a = w2.x), " +
       "allw AS (SELECT DISTINCT c, x, len FROM (SELECT * FROM w1 " +
       "UNION ALL SELECT * FROM w2 UNION ALL SELECT * FROM w3)), " +
       "mn AS (SELECT c, x, min(len) AS ml FROM allw GROUP BY 1, 2) " +
       "SELECT a.c AS c, a.x AS x, a.len::BIGINT AS len FROM allw a " +
       "JOIN mn ON a.c = mn.c AND a.x = mn.x AND a.len = mn.ml"),
    "cy_pat_size" ->
      ("SELECT n_nationkey + 2000000000 AS n, " +
       "(SELECT count(DISTINCT c_custkey) FROM customer " +
       "WHERE c_nationkey = n_nationkey) AS n_cust, " +
       "(SELECT count(DISTINCT s_suppkey) FROM supplier " +
       "WHERE s_nationkey = n_nationkey) AS n_supp FROM nation"),
    "cy_pat_comp" ->
      ("SELECT r_regionkey + 1000000000 AS r, " +
       "string_agg(n_name, ',' ORDER BY n_name) AS names " +
       "FROM region JOIN nation ON n_regionkey = r_regionkey GROUP BY 1"),
    "cy_count_sub" ->
      ("SELECT n_nationkey + 2000000000 AS n, " +
       "(SELECT count(DISTINCT c_custkey) FROM customer " +
       "WHERE c_nationkey = n_nationkey) AS n_cust FROM nation"),
    "cy_regex" ->
      ("SELECT c_custkey + 3000000000 AS c, c_nationkey + 2000000000 AS n " +
       "FROM customer WHERE regexp_full_match(c_name, 'Customer#0+1[0-2]') ORDER BY c"),
    "cy_fn_group" ->
      ("SELECT lower(n_name) AS nat, count(DISTINCT c_custkey) AS count_c " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "GROUP BY 1 ORDER BY nat"),
    "cy_expr_arith" ->
      ("SELECT c_custkey + 3000000000 AS c, c_acctbal * 2 + 1 AS v " +
       "FROM customer ORDER BY c LIMIT 50"),
    "cy_expr_case" ->
      ("SELECT CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'mid' " +
       "ELSE 'high' END AS bucket, count(*) AS n FROM customer GROUP BY 1 ORDER BY bucket"),
    "cy_expr_coalesce" ->
      ("SELECT c, coalesce(m, -1) AS mv FROM (" +
       "SELECT c_custkey + 3000000000 AS c, max(o_totalprice) AS m " +
       "FROM customer LEFT JOIN orders ON o_custkey = c_custkey GROUP BY 1) " +
       "ORDER BY c LIMIT 100"),
    "cy_expr_propcmp" ->
      ("SELECT n_nationkey + 2000000000 AS n, " +
       "count(DISTINCT c_custkey + 3000000000) AS count_c " +
       "FROM customer, supplier, nation " +
       "WHERE c_nationkey = n_nationkey AND s_nationkey = n_nationkey " +
       "AND c_acctbal > s_acctbal GROUP BY 1 ORDER BY n"),
    "cy_expr_agg" ->
      ("SELECT n_nationkey + 2000000000 AS n, sum(c_acctbal * 2 - 1) AS s2 " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "GROUP BY 1 ORDER BY n"),
    "cy_list_fns" ->
      ("SELECT n_nationkey + 2000000000 AS n, count(*) AS sz, " +
       "min(c_custkey + 3000000000) AS h, max(c_custkey + 3000000000) AS t " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "GROUP BY 1 ORDER BY n"),
    "cy_params" ->
      ("SELECT n_nationkey + 2000000000 AS n, count(DISTINCT c_custkey) AS k " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "WHERE n_name = 'GERMANY' AND c_acctbal > 0 GROUP BY 1"),
    "cy_with_star" ->
      ("SELECT n_nationkey + 2000000000 AS n, count(*) AS k " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "WHERE c_acctbal > 5000 GROUP BY 1 ORDER BY n"),
    "graph_bucketed" ->
      ("SELECT n_nationkey + 2000000000 AS n, count(DISTINCT c_custkey) AS count_c " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "GROUP BY 1 ORDER BY n"),
    "cy_optional_where" ->
      ("SELECT c_custkey + 3000000000 AS c, " +
       "count(DISTINCT o_orderkey + 6000000000) AS k " +
       "FROM customer LEFT JOIN orders " +
       "ON o_custkey = c_custkey AND o_totalprice > 200000 " +
       "GROUP BY 1 ORDER BY c LIMIT 50"),
    "cy_optional_map" ->
      ("SELECT n_nationkey + 2000000000 AS n, " +
       "count(DISTINCT s_suppkey + 4000000000) AS k " +
       "FROM nation LEFT JOIN supplier " +
       "ON s_nationkey = n_nationkey AND s_name = 'Supplier#000000001' " +
       "GROUP BY 1 ORDER BY n"),
    "cy_labels" ->
      ("SELECT 'nation' AS ls, count(DISTINCT c_custkey) AS k " +
       "FROM customer WHERE c_acctbal IS NOT NULL"),
    "cy_path_fns" ->
      ("SELECT c_custkey + 3000000000 AS c, " +
       "(c_custkey + 3000000000)::VARCHAR || ',' || (c_nationkey + 2000000000)::VARCHAR " +
       "|| ',' || (n_regionkey + 1000000000)::VARCHAR AS ns, " +
       "'IN_NATION,IN_REGION' AS rs, CAST(2 AS BIGINT) AS ln " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey"),
    // per-length branch union: L=1 is customer→nation (the only typed edge
    // out of a customer), L=2 appends nation→region; rows are distinct
    // across branches by construction (ln differs)
    "cy_path_varlen" ->
      ("SELECT c_custkey + 3000000000 AS c, " +
       "(c_custkey + 3000000000)::VARCHAR || ',' || (c_nationkey + 2000000000)::VARCHAR AS ns, " +
       "CAST(1 AS BIGINT) AS ln FROM customer " +
       "UNION ALL " +
       "SELECT c_custkey + 3000000000, " +
       "(c_custkey + 3000000000)::VARCHAR || ',' || (c_nationkey + 2000000000)::VARCHAR " +
       "|| ',' || (n_regionkey + 1000000000)::VARCHAR, CAST(2 AS BIGINT) " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey"),
    "cy_with_path" ->
      ("SELECT n_nationkey + 2000000000 AS n2, count(*) AS paths " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1"),
    "cy_path_varlen_len" ->
      ("SELECT c_custkey + 3000000000 AS c, n_regionkey + 1000000000 AS x, " +
       "CAST(2 AS BIGINT) AS ln " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey"),
    "cy_agg_stats" ->
      ("SELECT n_nationkey + 2000000000 AS n, round(stddev_samp(c_acctbal), 6) AS sd, " +
       "round(stddev_pop(c_acctbal), 6) AS sp FROM customer JOIN nation " +
       "ON c_nationkey = n_nationkey GROUP BY 1 ORDER BY n"),
    "cy_agg_percentile" ->
      ("SELECT quantile_cont(c_acctbal, 0.5) AS med, " +
       "quantile_cont(c_acctbal, 0.9) AS p90, " +
       "quantile_disc(c_acctbal, 0.5) AS dmed FROM customer"),
    "cy_fn_substr" ->
      ("SELECT n_nationkey + 2000000000 AS n, substring(n_name, 1, 3) AS pre, " +
       "left(n_name, 2) AS l2, right(n_name, 2) AS r2, reverse(n_name) AS rev, " +
       "replace(n_name, 'A', '_') AS rep FROM nation ORDER BY n"),
    "cy_unwind" ->
      ("SELECT DISTINCT x * 10 AS t FROM " +
       "(SELECT unnest([3, 1, 2, 2, 5]::BIGINT[]) AS x) WHERE x < 5 ORDER BY t"),
    "cy_unwind_collect" ->
      ("SELECT n_nationkey + 2000000000 AS n, count(*) AS k " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "GROUP BY 1 ORDER BY n"),
    "cy_union" ->
      ("SELECT c_nationkey + 2000000000 AS n FROM customer " +
       "UNION SELECT s_nationkey + 2000000000 FROM supplier"),
    "cy_union_all" ->
      ("SELECT n FROM (SELECT DISTINCT c_nationkey + 2000000000 AS n FROM customer " +
       "UNION ALL SELECT DISTINCT s_nationkey + 2000000000 FROM supplier)"),
    "cy_union_orderby" ->
      ("SELECT id FROM (SELECT c_nationkey + 2000000000 AS id FROM customer " +
       "UNION SELECT s_nationkey + 2000000000 FROM supplier) " +
       "ORDER BY id DESC LIMIT 10"),
    "cy_prop_map" ->
      ("SELECT DISTINCT s_suppkey + 4000000000 AS su, l_partkey + 5000000000 AS p " +
       "FROM supplier JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_24' " +
       "JOIN (SELECT l_suppkey, l_partkey FROM lineitem GROUP BY 1, 2 " +
       "HAVING min(l_quantity) = 45) li ON li.l_suppkey = s_suppkey"),
    "cy_orderby" ->
      ("SELECT c_custkey + 3000000000 AS c, c_nationkey + 2000000000 AS n " +
       "FROM customer ORDER BY c DESC, n LIMIT 20"),
    "cy_skip" ->
      ("SELECT c_custkey + 3000000000 AS c, c_nationkey + 2000000000 AS n " +
       "FROM customer ORDER BY c DESC, n LIMIT 20 OFFSET 10"),
    "cy_orderby_prop" ->
      ("SELECT c_custkey + 3000000000 AS c, c_nationkey + 2000000000 AS n " +
       "FROM customer ORDER BY c_name DESC LIMIT 20"),
    // the walk-semantics contract stated as an actual recursive reach
    "cy_varlen" ->
      ("WITH RECURSIVE edge AS (" +
       "SELECT n_nationkey + 2000000000 AS src, n_regionkey + 1000000000 AS dst FROM nation " +
       "UNION ALL SELECT c_custkey + 3000000000, c_nationkey + 2000000000 FROM customer " +
       "UNION ALL SELECT s_suppkey + 4000000000, s_nationkey + 2000000000 FROM supplier), " +
       "reach(src, dst, depth) AS (" +
       "SELECT src, dst, 1 FROM edge " +
       "UNION SELECT r.src, e.dst, r.depth + 1 FROM reach r JOIN edge e ON r.dst = e.src " +
       "WHERE r.depth < 2) " +
       "SELECT DISTINCT src AS c, dst AS x FROM reach " +
       "WHERE src >= 3000000000 AND src < 4000000000 AND depth BETWEEN 1 AND 2"),

    "graph_summary" ->
      ("SELECT 'node' AS kind, 'region' AS key, count(*) AS n FROM region " +
       "UNION ALL SELECT 'node', 'nation', count(*) FROM nation " +
       "UNION ALL SELECT 'node', 'customer', count(*) FROM customer " +
       "UNION ALL SELECT 'node', 'supplier', count(*) FROM supplier " +
       "UNION ALL SELECT 'node', 'part', count(*) FROM part " +
       "UNION ALL SELECT 'node', 'order', count(*) FROM orders " +
       "UNION ALL SELECT 'edge', 'IN_REGION', count(*) FROM nation " +
       "UNION ALL SELECT 'edge', 'IN_NATION', (SELECT count(*) FROM customer) + " +
       "(SELECT count(*) FROM supplier) " +
       "UNION ALL SELECT 'edge', 'PLACED', count(*) FROM orders " +
       "UNION ALL SELECT 'edge', 'CONTAINS', " +
       "(SELECT count(DISTINCT (l_orderkey, l_partkey)) FROM lineitem) " +
       "UNION ALL SELECT 'edge', 'SUPPLIES', " +
       "(SELECT count(DISTINCT (l_suppkey, l_partkey)) FROM lineitem)"),
    // min path length per endpoint pair, as a genuine recursive min-reach
    "cy_shortest" ->
      ("WITH RECURSIVE edge AS (" +
       "SELECT n_nationkey + 2000000000 AS src, n_regionkey + 1000000000 AS dst FROM nation " +
       "UNION ALL SELECT c_custkey + 3000000000, c_nationkey + 2000000000 FROM customer " +
       "UNION ALL SELECT s_suppkey + 4000000000, s_nationkey + 2000000000 FROM supplier), " +
       "reach(src, dst, depth) AS (" +
       "SELECT src, dst, 1 FROM edge " +
       "UNION SELECT r.src, e.dst, r.depth + 1 FROM reach r JOIN edge e ON r.dst = e.src " +
       "WHERE r.depth < 8) " +
       "SELECT src AS n, dst AS r, min(depth)::BIGINT AS length_p FROM reach " +
       "WHERE dst >= 1000000000 AND dst < 2000000000 GROUP BY 1, 2"),
    "mxm_anypair" ->
      ("SELECT DISTINCT c_custkey + 3000000000 AS i, n_regionkey + 1000000000 AS j " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "UNION SELECT DISTINCT s_suppkey + 4000000000, n_regionkey + 1000000000 " +
       "FROM supplier JOIN nation ON s_nationkey = n_nationkey"),
    "mxm_minplus" ->
      ("WITH a AS (SELECT l_orderkey AS i, l_partkey AS j, min(l_quantity) AS v FROM lineitem GROUP BY 1,2), " +
       "b AS (SELECT l_partkey AS i, l_suppkey AS j, min(l_quantity) AS v FROM lineitem GROUP BY 1,2) " +
       "SELECT a.i AS i, b.j AS j, min(a.v + b.v) AS v FROM a JOIN b ON a.j = b.i GROUP BY 1,2"),
    "ewise_union" ->
      ("WITH c AS (SELECT user_id AS i, date_diff('day', DATE '2024-01-01', ts::date) AS j, count(*) AS v " +
       "FROM events WHERE event_type='click' GROUP BY 1,2), " +
       "p AS (SELECT user_id AS i, date_diff('day', DATE '2024-01-01', ts::date) AS j, count(*) AS v " +
       "FROM events WHERE event_type='purchase' GROUP BY 1,2) " +
       "SELECT coalesce(c.i, p.i) AS i, coalesce(c.j, p.j) AS j, " +
       "coalesce(c.v, 0) + coalesce(p.v, 0) AS v FROM c FULL OUTER JOIN p ON c.i = p.i AND c.j = p.j"),
    "ewise_intersect" ->
      ("WITH c AS (SELECT user_id AS i, date_diff('day', DATE '2024-01-01', ts::date) AS j, count(*) AS v " +
       "FROM events WHERE event_type='click' GROUP BY 1,2), " +
       "p AS (SELECT user_id AS i, date_diff('day', DATE '2024-01-01', ts::date) AS j, count(*) AS v " +
       "FROM events WHERE event_type='purchase' GROUP BY 1,2) " +
       "SELECT c.i AS i, c.j AS j, c.v + p.v AS v FROM c JOIN p ON c.i = p.i AND c.j = p.j"),
    "reduce_rows" ->
      ("SELECT l_orderkey + 6000000000 AS i, count(DISTINCT l_partkey) AS v " +
       "FROM lineitem GROUP BY 1"),
    "reduce_cols" ->
      ("SELECT l_partkey + 5000000000 AS i, count(DISTINCT l_orderkey) AS v " +
       "FROM lineitem GROUP BY 1"),
    "kernel_transpose_extract" ->
      ("SELECT c_nationkey + 2000000000 AS i, c_custkey + 3000000000 AS j, true AS v " +
       "FROM customer"),
    "kernel_reduce_all" ->
      "SELECT count(*) AS v FROM lineitem",
    "kernel_vxm" ->
      ("SELECT DISTINCT c_nationkey + 2000000000 AS i, true AS v FROM customer " +
       "WHERE c_custkey < 100"),
    "kernel_mxm_masked" ->
      ("SELECT DISTINCT c_custkey + 3000000000 AS i, n_regionkey + 1000000000 AS j, true AS v " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "WHERE n_regionkey = c_custkey % 5"),
    "kernel_mask_complement" ->
      ("SELECT DISTINCT c_custkey + 3000000000 AS i, n_regionkey + 1000000000 AS j, true AS v " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "WHERE n_regionkey <> c_custkey % 5"),
    "kernel_mxm_accum" ->
      ("SELECT i, j, true AS v FROM (" +
       "SELECT c_custkey + 3000000000 AS i, n_regionkey + 1000000000 AS j " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "UNION SELECT c_custkey + 3000000000, c_custkey % 5 + 1000000000 FROM customer)"),
    "kernel_diag" ->
      ("SELECT l_orderkey + 6000000000 AS i, l_orderkey + 6000000000 AS j, " +
       "count(DISTINCT l_partkey) AS v FROM lineitem GROUP BY l_orderkey"),
    "kernel_times_reduce" ->
      ("WITH m AS (SELECT l_orderkey AS i, l_partkey AS j, min(l_partkey % 3 + 1) AS v " +
       "FROM lineitem GROUP BY 1, 2) " +
       "SELECT i + 6000000000 AS i, product(v::DOUBLE) AS v FROM m GROUP BY 1"),
    "kernel_element_ops" ->
      ("SELECT c_custkey + 3000000000 AS i, c_nationkey + 2000000000 AS j, true AS v " +
       "FROM customer WHERE NOT (c_custkey = 1 AND c_nationkey = 0) " +
       "UNION ALL SELECT 7, 7, true"),
    "kernel_vxm_masked" ->
      ("SELECT DISTINCT c_nationkey + 2000000000 AS i, true AS v FROM customer " +
       "WHERE c_custkey < 100 AND c_nationkey < 10"),
    "kernel_assign" ->
      ("SELECT c_custkey + 3000000000 AS i, c_nationkey + 2000000000 AS j, true AS v " +
       "FROM customer WHERE c_custkey >= 500 " +
       "UNION ALL SELECT c_custkey + 3000000000, 0, true FROM customer WHERE c_custkey < 500"),
    "kernel_extract_masked" ->
      ("SELECT c_custkey + 3000000000 AS i, c_nationkey + 2000000000 AS j, true AS v " +
       "FROM customer WHERE c_custkey BETWEEN 0 AND 999 AND c_custkey % 2 = 0 " +
       "UNION ALL SELECT s_suppkey + 4000000000, s_nationkey + 2000000000, true FROM supplier"),
    // the DuckDB twin enumerates the stride via range() (end-exclusive,
    // signed step) and joins it against the customer keys
    "kernel_extract_stride" ->
      ("SELECT c_custkey + 3000000000 AS i, c_nationkey + 2000000000 AS j, true AS v, " +
       "'fwd' AS dir FROM customer JOIN range(0, 1000, 7) r(x) ON c_custkey = r.x " +
       "UNION ALL SELECT c_custkey + 3000000000, c_nationkey + 2000000000, true, 'bwd' " +
       "FROM customer JOIN range(999, -1, -3) r(x) ON c_custkey = r.x"),
    "kernel_assign_masked" ->
      ("SELECT c_custkey + 3000000000 AS i, c_nationkey + 2000000000 AS j, true AS v " +
       "FROM customer WHERE c_custkey >= 500 " +
       "UNION ALL SELECT c_custkey + 3000000000, c_nationkey + 2000000000, true " +
       "FROM customer WHERE c_custkey < 500 AND c_custkey % 2 = 1 " +
       "UNION ALL SELECT c_custkey + 3000000000, 0, true " +
       "FROM customer WHERE c_custkey < 500 AND c_custkey % 2 = 0"),

    "kernel_isall" ->
      ("SELECT true AS eq_full, false AS eq_sub, count(*)::BIGINT AS nvals " +
       "FROM nation"),
    "kernel_get_element" ->
      ("SELECT count(DISTINCT l_partkey)::BIGINT AS v, true AS miss_empty " +
       "FROM lineitem WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)"),
    "kernel_lifecycle" ->
      ("SELECT 0::BIGINT AS clear_nvals, count(*)::BIGINT AS dup_nvals " +
       "FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)"),

    "bfs_levels" ->
      ("SELECT c_custkey + 3000000000 AS id, 0 AS level FROM customer " +
       "UNION SELECT DISTINCT c_nationkey + 2000000000, 1 FROM customer " +
       "UNION SELECT DISTINCT n_regionkey + 1000000000, 2 FROM customer " +
       "JOIN nation ON c_nationkey = n_nationkey"),
    "sssp_minplus" ->
      ("WITH sp AS (SELECT l_suppkey AS s, l_partkey AS p, min(l_quantity) AS w FROM lineitem GROUP BY 1,2), " +
       "po AS (SELECT l_partkey AS p, l_orderkey AS o, min(l_quantity) AS w FROM lineitem GROUP BY 1,2), " +
       "dp AS (SELECT p, min(w) AS d FROM sp GROUP BY 1), " +
       "dord AS (SELECT po.o, min(dp.d + po.w) AS d FROM dp JOIN po ON dp.p = po.p GROUP BY 1) " +
       "SELECT s_suppkey + 4000000000 AS id, 0.0 AS dist FROM supplier " +
       "UNION ALL SELECT p + 5000000000, d FROM dp " +
       "UNION ALL SELECT o + 6000000000, d FROM dord"),
    "wcc" ->
      ("SELECT n_nationkey + 2000000000 AS id, n_regionkey + 1000000000 AS component FROM nation " +
       "UNION ALL SELECT r_regionkey + 1000000000, r_regionkey + 1000000000 FROM region"),
    // the incremental fold must equal the full rebuild: every entity lands
    // in its region's component (min id = the region node)
    "wcc_apply" ->
      ("SELECT c_custkey + 3000000000 AS id, n_regionkey + 1000000000 AS component " +
       "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
       "UNION ALL SELECT s_suppkey + 4000000000, n_regionkey + 1000000000 " +
       "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
       "UNION ALL SELECT n_nationkey + 2000000000, n_regionkey + 1000000000 FROM nation " +
       "UNION ALL SELECT r_regionkey + 1000000000, r_regionkey + 1000000000 FROM region"),
    // pagerank is a fixed 10-iteration computation → 10 chained CTE stages
    // replicating Algorithms.pageRank's exact recurrence (incl. dangling mass)
    "pagerank" -> pagerankOracle(iters = 10, damping = 0.85),
    "ppr" -> pprOracle(iters = 10, damping = 0.85),
    "harmonic" ->
      ("WITH RECURSIVE edge AS (" +
       "SELECT n_nationkey + 2000000000 AS src, n_regionkey + 1000000000 AS dst FROM nation " +
       "UNION ALL SELECT c_custkey + 3000000000, c_nationkey + 2000000000 FROM customer " +
       "UNION ALL SELECT s_suppkey + 4000000000, s_nationkey + 2000000000 FROM supplier), " +
       "reach(src, dst, depth) AS (" +
       "SELECT src, dst, 1 FROM edge " +
       "UNION SELECT r.src, e.dst, r.depth + 1 FROM reach r JOIN edge e ON r.dst = e.src " +
       "WHERE r.depth < 8), " +
       "sp AS (SELECT src, dst, min(depth) AS d FROM reach GROUP BY 1, 2), " +
       "v AS (SELECT r_regionkey + 1000000000 AS id FROM region " +
       "UNION ALL SELECT n_nationkey + 2000000000 FROM nation " +
       "UNION ALL SELECT c_custkey + 3000000000 FROM customer " +
       "UNION ALL SELECT s_suppkey + 4000000000 FROM supplier) " +
       "SELECT v.id, round(coalesce(sum(1.0::DOUBLE / d), 0), 6) AS harmonic " +
       "FROM v LEFT JOIN sp ON v.id = sp.src GROUP BY 1"),
    // landmark harmonic: REVERSED edges, seeds = the k=8 md5-order sample
    // (deterministic in both engines), Ĥ(v) = hsum · (n/8). n/8.0 is an
    // exact double (power-of-two divisor), so the multiply associates
    // identically to the Spark side's hsum * lit(n/k) and round(…, 6)
    // hashes equal.
    // PINNED INVARIANTS — this SQL hardcodes what the Spark query derives,
    // and they desynchronize silently if either side changes:
    //  * `depth < 8` unroll: valid because the region→nation→{customer,
    //    supplier} hierarchy has diameter 2 ≪ 8 (Spark side iterates to
    //    convergence, maxIter=100). Adding edge types changes the diameter.
    //  * `LIMIT 8` and `/ 8.0` are the k literal: must equal the `k = 8`
    //    argument in the harmonic_landmark queries entry above, and the
    //    Spark side's kk = min(k, n) only equals 8 while n >= 8.
    "harmonic_landmark" ->
      ("WITH RECURSIVE edge AS (" +
       "SELECT n_regionkey + 1000000000 AS src, n_nationkey + 2000000000 AS dst FROM nation " +
       "UNION ALL SELECT c_nationkey + 2000000000, c_custkey + 3000000000 FROM customer " +
       "UNION ALL SELECT s_nationkey + 2000000000, s_suppkey + 4000000000 FROM supplier), " +
       "v AS (SELECT r_regionkey + 1000000000 AS id FROM region " +
       "UNION ALL SELECT n_nationkey + 2000000000 FROM nation " +
       "UNION ALL SELECT c_custkey + 3000000000 FROM customer " +
       "UNION ALL SELECT s_suppkey + 4000000000 FROM supplier), " +
       "lm AS (SELECT id FROM v ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 8), " +
       "reach(src, dst, depth) AS (" +
       "SELECT lm.id, e.dst, 1 FROM lm JOIN edge e ON lm.id = e.src " +
       "UNION SELECT r.src, e.dst, r.depth + 1 FROM reach r JOIN edge e ON r.dst = e.src " +
       "WHERE r.depth < 8), " +
       "sp AS (SELECT src, dst, min(depth) AS d FROM reach WHERE src <> dst GROUP BY 1, 2), " +
       "hs AS (SELECT dst AS id, sum(1.0::DOUBLE / d) AS hsum FROM sp GROUP BY 1), " +
       "nk AS (SELECT count(*) AS n FROM v) " +
       "SELECT v.id, round(coalesce(hsum, 0) * ((SELECT n FROM nk) / 8.0), 6) AS harmonic " +
       "FROM v LEFT JOIN hs ON v.id = hs.id"),
    // Same invariants as harmonic_landmark's oracle (diameter < 8, n >= 8,
    // the k = 8 literal must match the Spark query), plus one more this
    // graph guarantees: every (src, dst) pair has a UNIQUE shortest path
    // (each customer/supplier has one nation, each nation one region), so
    // sigma = 1 everywhere and betweenness dependency reduces to counting
    // interior (s, t) pairs: v is interior iff d(s,v) + d(v,t) = d(s,t).
    // Edges run FORWARD here (the estimator BFSes from the landmark
    // sources), unlike harmonic's reversed CTE (distances TO landmarks).
    "betweenness_landmark" ->
      ("WITH RECURSIVE edge AS (" +
       "SELECT n_nationkey + 2000000000 AS src, n_regionkey + 1000000000 AS dst FROM nation " +
       "UNION ALL SELECT c_custkey + 3000000000, c_nationkey + 2000000000 FROM customer " +
       "UNION ALL SELECT s_suppkey + 4000000000, s_nationkey + 2000000000 FROM supplier), " +
       "v AS (SELECT r_regionkey + 1000000000 AS id FROM region " +
       "UNION ALL SELECT n_nationkey + 2000000000 FROM nation " +
       "UNION ALL SELECT c_custkey + 3000000000 FROM customer " +
       "UNION ALL SELECT s_suppkey + 4000000000 FROM supplier), " +
       "lm AS (SELECT id FROM v ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 8), " +
       "reach(src, dst, depth) AS (" +
       "SELECT src, dst, 1 FROM edge " +
       "UNION SELECT r.src, e.dst, r.depth + 1 FROM reach r JOIN edge e ON r.dst = e.src " +
       "WHERE r.depth < 8), " +
       "sp AS (SELECT src, dst, min(depth) AS d FROM reach WHERE src <> dst GROUP BY 1, 2), " +
       "bc AS (SELECT sv.dst AS id, count(*) AS cnt " +
       "FROM sp sv JOIN sp vt ON vt.src = sv.dst " +
       "JOIN sp st ON st.src = sv.src AND st.dst = vt.dst AND st.d = sv.d + vt.d " +
       "WHERE sv.src IN (SELECT id FROM lm) GROUP BY 1), " +
       "nk AS (SELECT count(*) AS n FROM v) " +
       "SELECT v.id, round(coalesce(cnt, 0) * ((SELECT n FROM nk) / 8.0), 6) AS betweenness " +
       "FROM v LEFT JOIN bc ON v.id = bc.id"),
    "triangle_count" ->
      (cosupplyCte(0.6) +
       ", wed AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 JOIN e e2 ON e1.b = e2.a)" +
       ", tri AS (SELECT x, y, z FROM wed WHERE EXISTS (SELECT 1 FROM e WHERE e.a = wed.x AND e.b = wed.z))" +
       ", pv AS (SELECT unnest([x, y, z]) AS id FROM tri)" +
       ", cnt AS (SELECT id, count(*) AS t FROM pv GROUP BY 1) " +
       "SELECT s_suppkey AS id, coalesce(t, 0) AS triangles " +
       "FROM supplier LEFT JOIN cnt ON s_suppkey = cnt.id"),
    "clustering_coeff" ->
      (cosupplyCte(0.6) +
       ", deg AS (SELECT id, count(*) AS degree FROM " +
       "(SELECT a AS id FROM e UNION ALL SELECT b FROM e) GROUP BY 1)" +
       ", wed AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z FROM e e1 JOIN e e2 ON e1.b = e2.a)" +
       ", tri AS (SELECT x, y, z FROM wed WHERE EXISTS (SELECT 1 FROM e WHERE e.a = wed.x AND e.b = wed.z))" +
       ", pv AS (SELECT unnest([x, y, z]) AS id FROM tri)" +
       ", cnt AS (SELECT id, count(*) AS t FROM pv GROUP BY 1) " +
       "SELECT s_suppkey AS id, coalesce(degree, 0) AS degree, " +
       "CASE WHEN coalesce(degree, 0) < 2 THEN 0.0 " +
       "ELSE round(2.0 * coalesce(t, 0) / (degree * (degree - 1)), 6) END AS lcc " +
       "FROM supplier LEFT JOIN deg ON s_suppkey = deg.id LEFT JOIN cnt ON s_suppkey = cnt.id"),
    "adamic_adar" ->
      (cosupplyCte(0.6) +
       ", sym AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b AS w, a AS n FROM e)" +
       ", dg AS (SELECT w, count(*) AS deg FROM sym GROUP BY 1)" +
       ", pairs AS (SELECT l.n AS u, r.n AS v, round(sum(1.0 / ln(dg.deg)), 6) AS score " +
       "FROM sym l JOIN sym r ON l.w = r.w AND l.n < r.n JOIN dg ON dg.w = l.w GROUP BY 1, 2) " +
       "SELECT u, v, score FROM pairs " +
       "WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = pairs.u AND e.b = pairs.v)"),
    "neighbor_jaccard" ->
      (cosupplyCte(0.6) +
       ", sym AS (SELECT a AS w, b AS n FROM e UNION ALL SELECT b AS w, a AS n FROM e)" +
       ", dg AS (SELECT n, count(*) AS deg FROM sym GROUP BY 1)" +
       ", inter AS (SELECT l.n AS u, r.n AS v, count(*) AS i " +
       "FROM sym l JOIN sym r ON l.w = r.w AND l.n < r.n GROUP BY 1, 2)" +
       ", pairs AS (SELECT u, v, round(i::DOUBLE / (du.deg + dv.deg - i), 6) AS score " +
       "FROM inter JOIN dg du ON du.n = inter.u JOIN dg dv ON dv.n = inter.v) " +
       "SELECT u, v, score FROM pairs " +
       "WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = pairs.u AND e.b = pairs.v)"),

    "text_token_counts" ->
      ("SELECT doc_id, len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> ''))::BIGINT AS ws_tokens, " +
       "len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS re_tokens " +
       "FROM documents"),
    "text_quality" ->
      ("WITH x AS (SELECT doc_id, text, nullif(len(text), 0)::DOUBLE AS nc, " +
       "len(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE AS alpha, " +
       "len(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE AS punct, " +
       "nullif(len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')), 0)::DOUBLE AS ntok, " +
       "len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> ''), " +
       "w -> w IN ('the','a','of','and','to','in','is','on','for','with')))::DOUBLE AS stop, " +
       "len(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS nws FROM documents) " +
       "SELECT doc_id, round(alpha/nc, 6) AS alpha_ratio, round(punct/nc, 6) AS punct_ratio, " +
       "round(stop/ntok, 6) AS stopword_ratio, round(nws/ntok, 6) AS mean_word_len, " +
       "round(least(1.0, greatest(0.0, alpha/nc*0.5 + least(stop/ntok*5.0, 1.0)*0.3 + " +
       "CASE WHEN nws/ntok BETWEEN 3 AND 8 THEN 0.2 ELSE 0.0 END)), 6) AS score FROM x"),
    "text_langid" ->
      ("WITH x AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws FROM documents), " +
       "sc AS (SELECT doc_id, " +
       "len(list_filter(ws, w -> w IN ('der','die','das','und','ist','nicht','ein','zu')))::DOUBLE/nullif(len(ws), 0) AS sde, " +
       "len(list_filter(ws, w -> w IN ('the','a','of','and','to','in','is','on')))::DOUBLE/nullif(len(ws), 0) AS sen, " +
       "len(list_filter(ws, w -> w IN ('el','los','las','una','es','y','que','de')))::DOUBLE/nullif(len(ws), 0) AS ses, " +
       "len(list_filter(ws, w -> w IN ('le','la','les','et','est','un','une','que')))::DOUBLE/nullif(len(ws), 0) AS sfr, " +
       "len(list_filter(ws, w -> w IN ('的','是','了','在','我','有','和','不')))::DOUBLE/nullif(len(ws), 0) AS szh FROM x), " +
       // left fold with strict >, mirroring the Scala reduce
       "f1 AS (SELECT doc_id, sde AS s, 'de' AS l, sen, ses, sfr, szh FROM sc), " +
       "f2 AS (SELECT doc_id, CASE WHEN sen > s THEN sen ELSE s END AS s, " +
       "CASE WHEN sen > s THEN 'en' ELSE l END AS l, ses, sfr, szh FROM f1), " +
       "f3 AS (SELECT doc_id, CASE WHEN ses > s THEN ses ELSE s END AS s, " +
       "CASE WHEN ses > s THEN 'es' ELSE l END AS l, sfr, szh FROM f2), " +
       "f4 AS (SELECT doc_id, CASE WHEN sfr > s THEN sfr ELSE s END AS s, " +
       "CASE WHEN sfr > s THEN 'fr' ELSE l END AS l, szh FROM f3) " +
       "SELECT doc_id, CASE WHEN szh > s THEN 'zh' ELSE l END AS pred_lang, " +
       "round(CASE WHEN szh > s THEN szh ELSE s END, 6) AS lang_score FROM f4"),
    "text_fingerprint" ->
      "SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM documents",
    "text_repetition" -> repetitionOracle(
      "SELECT tf.doc_id AS doc_id, tf.top_token_frac, coalesce(bs.dup_bigram_frac, 0.0) AS dup_bigram_frac " +
      "FROM tf LEFT JOIN bs ON tf.doc_id = bs.doc_id"),
    "text_gopher_filter" -> repetitionOracle(
      "SELECT g.doc_id AS doc_id, coalesce(g.n_tok BETWEEN 10 AND 100000 " +
      "AND g.mean_len BETWEEN 2.0 AND 10.0 " +
      "AND g.stop_r >= 0.02 AND tf.top_token_frac < 0.20 " +
      "AND coalesce(bs.dup_bigram_frac, 0.0) < 0.60, false) AS keep " +
      "FROM gq g LEFT JOIN tf ON g.doc_id = tf.doc_id LEFT JOIN bs ON g.doc_id = bs.doc_id"),
    "corpus_stats" ->
      ("SELECT source, count(*) AS n_docs, sum(len(text))::BIGINT AS total_chars, " +
       "count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) AS n_unique, " +
       "round(1 - count(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))) * 1.0 / count(*), 6) AS dup_rate, " +
       "count(DISTINCT lang) AS n_langs FROM documents GROUP BY 1"),
    // pairwise source vocabulary Jaccard: distinct (source, token) set,
    // token-keyed self-join (fan-out ≤ source pairs), sizes joined back
    "text_source_overlap" ->
      ("WITH v AS (SELECT DISTINCT source AS src, " +
       "unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS w FROM documents), " +
       "s AS (SELECT src, count(*) AS n FROM v GROUP BY 1), " +
       "i AS (SELECT a.src AS src_a, b.src AS src_b, count(*)::BIGINT AS inter " +
       "FROM v a JOIN v b ON a.w = b.w AND a.src < b.src GROUP BY 1, 2) " +
       "SELECT src_a, src_b, inter, " +
       "round(inter / (sa.n + sb.n - inter), 6) AS jaccard " +
       "FROM i JOIN s sa ON i.src_a = sa.src JOIN s sb ON i.src_b = sb.src"),
    "dedup_exact" ->
      ("SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp, " +
       "min(doc_id) AS rep_id, count(*) AS dup_count FROM documents GROUP BY 1"),
    // canonical-form fingerprint: punctuation → space, collapse, trim
    "dedup_normalized" ->
      ("SELECT md5(trim(regexp_replace(regexp_replace(lower(text), " +
       "'[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) AS fp, " +
       "min(doc_id) AS rep_id, count(*) AS dup_count FROM documents GROUP BY 1"),
    // exact DAU/WAU replay: distinct user-days, 7-offset window fan-out
    "ev_active_users" ->
      ("WITH ud AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events " +
       "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
       "dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1), " +
       "w AS (SELECT day + o.o::INTEGER AS day, user_id FROM ud, " +
       "(SELECT unnest(generate_series(0, 6)) AS o) o), " +
       "wau AS (SELECT day, count(DISTINCT user_id) AS windowed FROM w GROUP BY 1) " +
       "SELECT day, dau, windowed FROM dau JOIN wau USING (day)"),
    "text_vocab" ->
      ("WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS tok " +
       "FROM documents) " +
       "SELECT tok, count(*) AS tf, count(DISTINCT doc_id) AS df FROM toks " +
       "GROUP BY 1 ORDER BY tf DESC, tok ASC LIMIT 100"),
    "text_tfidf" ->
      ("WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS tok " +
       "FROM documents), " +
       "tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2), " +
       "dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1), " +
       "nv AS (SELECT count(*)::DOUBLE AS n FROM documents), " +
       "s AS (SELECT tf.doc_id, tf.tok, tf.tf * ln(((SELECT n FROM nv) + 1) / (dfreq.df + 1)) AS tfidf " +
       "FROM tf JOIN dfreq USING (tok)), " +
       "r AS (SELECT doc_id, tok, tfidf, row_number() OVER " +
       "(PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rank FROM s) " +
       "SELECT doc_id, tok, round(tfidf, 6) AS tfidf, rank FROM r WHERE rank <= 3"),
    // Zipf replay: micro-ln-rank integer x through the same DECIMAL
    // regression sums, rescale before the final round
    "text_zipf" ->
      ("WITH toks AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS tok " +
       "FROM documents), " +
       "freq AS (SELECT tok, count(*) AS c FROM toks WHERE tok <> '' " +
       "GROUP BY 1 ORDER BY c DESC, tok ASC LIMIT 1000), " +
       "r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok ASC) AS rank FROM freq), " +
       "b AS (SELECT CAST(round(ln(rank * 1.0) * 1e6) AS BIGINT) AS x, ln(c * 1.0) AS y FROM r), " +
       "a AS (SELECT count(*)::BIGINT AS n, sum(x::DECIMAL(38,0)) AS sx, " +
       "sum(y::DECIMAL(28,10)) AS sy, sum((x * y)::DECIMAL(38,10)) AS sxy, " +
       "sum((x * x)::DECIMAL(38,0)) AS sxx FROM b), " +
       "s2 AS (SELECT n, " +
       "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
       "(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS sl, " +
       "CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd FROM a) " +
       "SELECT n, round(sl * 1e6, 6) AS slope, " +
       "round((syd - sl * sxd) / n, 6) AS intercept FROM s2"),
    // doc-level PMI replay: same df band, same rounded ranking
    "text_pmi" ->
      ("WITH dt AS (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, " +
       "unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS tok FROM documents) " +
       "WHERE tok <> ''), " +
       "dfq AS (SELECT tok, count(*) AS df FROM dt GROUP BY 1 " +
       "HAVING count(*) >= 5 AND count(*) <= 100), " +
       "kept AS (SELECT dt.doc_id, dt.tok, dfq.df FROM dt JOIN dfq USING (tok)), " +
       "nv AS (SELECT count(*)::DOUBLE AS n FROM documents), " +
       "p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab, " +
       "min(a.df) AS dfa, min(b.df) AS dfb FROM kept a " +
       "JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok GROUP BY 1, 2), " +
       "sc AS (SELECT tok_a, tok_b, n_ab, " +
       "round(ln(n_ab * (SELECT n FROM nv) / (dfa * dfb)), 6) AS pmi FROM p), " +
       "r AS (SELECT tok_a, tok_b, n_ab::BIGINT AS n_ab, pmi, row_number() OVER " +
       "(ORDER BY pmi DESC, tok_a ASC, tok_b ASC) AS rank FROM sc) " +
       "SELECT tok_a, tok_b, n_ab, pmi, rank FROM r WHERE rank <= 50"),
    // sparse cosine replay: df-capped weights, DECIMAL dot/norm sums
    "text_tfidf_sim" ->
      ("WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS tok " +
       "FROM documents), " +
       "tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2), " +
       "dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1 " +
       "HAVING count(DISTINCT doc_id) <= 100), " +
       "nv AS (SELECT count(*)::DOUBLE AS n FROM documents), " +
       "w AS (SELECT tf.doc_id, tf.tok, " +
       "tf.tf * ln(((SELECT n FROM nv) + 1) / (dfreq.df + 1)) AS w " +
       "FROM tf JOIN dfreq USING (tok)), " +
       "nm AS (SELECT doc_id, sqrt(CAST(sum((w * w)::DECIMAL(38,12)) AS DOUBLE)) AS nm " +
       "FROM w GROUP BY 1), " +
       "dots AS (SELECT x.doc_id AS a, y.doc_id AS b, " +
       "CAST(sum((x.w * y.w)::DECIMAL(38,12)) AS DOUBLE) AS dot " +
       "FROM w x JOIN w y ON x.tok = y.tok AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
       "SELECT a, b, sim FROM (SELECT a, b, round(dot / (na.nm * nb.nm), 6) AS sim " +
       "FROM dots JOIN nm na ON a = na.doc_id JOIN nm nb ON b = nb.doc_id) " +
       "WHERE sim >= 0.5"),
    "sample_stratified" -> stratifiedOracle,
    // the same per-row md5-threshold draw, replayed in SQL: printf('%015x')
    // renders the weight threshold in the hash-prefix space
    "sample_weighted" ->
      ("SELECT doc_id, source, n_chars FROM documents " +
       "WHERE substring(md5(doc_id::VARCHAR), 1, 15) <= printf('%015x', " +
       "least(CAST(floor(least(greatest(n_chars / 400.0, 0), 1) " +
       "* 1152921504606846976) AS BIGINT), 1152921504606846975))"),
    // the same A-ES draw replayed in SQL: u from the seeded 48-bit md5
    // prefix, key = ln(u)/w, top-100 by (key DESC, doc_id)
    "sample_weighted_k" ->
      ("WITH u AS (SELECT doc_id, source, n_chars, " +
       "(('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 12))::BIGINT + 1) " +
       "/ 281474976710656.0 AS u FROM documents WHERE n_chars > 0) " +
       "SELECT doc_id, source, n_chars FROM u " +
       "ORDER BY ln(u) / n_chars DESC, doc_id LIMIT 100"),
    // clusters = {custkey, custkey + 10M} for planted variants, singleton
    // otherwise; canonical = min member, keep = is-canonical
    "er_clusters" ->
      ("WITH base AS (SELECT c_custkey AS id FROM customer), " +
       "dirty AS (SELECT c_custkey + 10000000 AS id, c_custkey AS orig " +
       "FROM customer WHERE c_custkey % 7 = 0) " +
       "SELECT id, id AS canonical, true AS keep FROM base " +
       "UNION ALL SELECT id, orig AS canonical, false AS keep FROM dirty"),
    "profile_docs" -> Seq("doc_id", "lang", "source", "n_chars").map(c =>
      s"SELECT '$c' AS column, count(*) AS n_rows, " +
      s"count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct, " +
      s"min($c)::VARCHAR AS min_value, max($c)::VARCHAR AS max_value FROM documents")
      .mkString(" UNION ALL "),
    // HLL-NDV profiler replay: stacked (column, value) stream through the
    // p=12 register/estimate pipeline + the exact cheap stats, joined
    "profile_sketch" -> {
      val cols = Seq("doc_id", "lang", "source", "n_chars")
      val m = 4096
      val alphaM2 = (0.7213 / (1.0 + 1.079 / m)) * m.toDouble * m
      val stackedSql = cols.map(c =>
        s"SELECT '$c' AS \"column\", CAST($c AS VARCHAR) AS v FROM documents")
        .mkString(" UNION ALL ")
      val statsSql = cols.map(c =>
        s"SELECT '$c' AS \"column\", count(*) AS n_rows, " +
        s"count(*) - count($c) AS n_nulls, " +
        s"min($c)::VARCHAR AS min_value, max($c)::VARCHAR AS max_value FROM documents")
        .mkString(" UNION ALL ")
      s"WITH s AS ($stackedSql), " +
      s"h AS (SELECT \"column\", ('0x'||substr(md5(v),1,8))::BIGINT % $m AS idx, " +
      "CASE WHEN ('0x'||substr(md5(v),9,8))::BIGINT = 0 THEN 33 " +
      "ELSE 33 - len(bin(('0x'||substr(md5(v),9,8))::BIGINT)) END AS r " +
      "FROM s WHERE v IS NOT NULL), " +
      "regs AS (SELECT \"column\", idx, max(r) AS r FROM h GROUP BY 1, 2), " +
      "agg AS (SELECT \"column\", count(*) AS nz, sum(power(2.0, -r)) AS hs FROM regs GROUP BY 1), " +
      s"e AS (SELECT \"column\", round(CASE WHEN raw <= ${2.5 * m} AND zeros > 0 " +
      s"THEN $m.0 * ln($m.0 / zeros) ELSE raw END, 4) AS ndv_est FROM " +
      s"(SELECT \"column\", $alphaM2 / (($m.0 - nz) + hs) AS raw, $m.0 - nz AS zeros FROM agg)), " +
      s"st AS ($statsSql) " +
      "SELECT st.\"column\" AS \"column\", n_rows, n_nulls, ndv_est, min_value, max_value " +
      "FROM st JOIN e ON st.\"column\" = e.\"column\""
    },
    "er_pairs" ->
      ("WITH base AS (SELECT c_custkey AS id, c_name AS name FROM customer), " +
       "dirty AS (SELECT c_custkey + 10000000 AS id, " +
       "'Custoner' || substring(c_name, 9) AS name FROM customer WHERE c_custkey % 7 = 0), " +
       "allr AS (SELECT * FROM base UNION ALL SELECT * FROM dirty) " +
       "SELECT a.id AS id_a, b.id AS id_b, levenshtein(a.name, b.name)::INT AS dist " +
       "FROM allr a JOIN allr b ON right(a.name, 6) = right(b.name, 6) AND a.id < b.id " +
       "WHERE levenshtein(a.name, b.name) <= 2"),
    // KMV replay: k smallest distinct token hashes per source via one
    // window rank; est = 63 · 2^60 / int(hex15(h_(64))) — double math on
    // both sides, '0x…'::BIGINT is DuckDB's hex parse (Spark uses conv)
    "sketch_distinct" ->
      ("WITH toks AS (SELECT source, unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS tok " +
       "FROM documents), " +
       "h AS (SELECT DISTINCT source, md5(tok) AS h FROM toks), " +
       "rk AS (SELECT source, h, row_number() OVER " +
       "(PARTITION BY source ORDER BY h) AS rn FROM h), " +
       "s AS (SELECT source, count(*) AS n, max(h) AS hk FROM rk WHERE rn <= 64 " +
       "GROUP BY source) " +
       "SELECT source, round(CASE WHEN n < 64 THEN n::DOUBLE " +
       "ELSE 63.0 * 1152921504606846976.0 / ('0x' || substring(hk, 1, 15))::BIGINT END, 6) " +
       "AS est FROM s"),
    // HLL replay: registers = per-(group, h1%512) max rank of the second
    // md5 half in a 32-bit frame (rank = 33 − bitlength; bin() renders
    // minimal-width on both engines); the harmonic sum's terms are all
    // powers of two, so the double is exact — only ln/÷ can drift an ulp,
    // hence round(…, 4) on both sides
    "sketch_hll" -> {
      def est(value: String) =
        s"(WITH h AS (SELECT event_type, " +
          s"('0x'||substr(md5(CAST($value AS VARCHAR)),1,8))::BIGINT % 512 AS idx, " +
          s"CASE WHEN ('0x'||substr(md5(CAST($value AS VARCHAR)),9,8))::BIGINT = 0 THEN 33 " +
          s"ELSE 33 - len(bin(('0x'||substr(md5(CAST($value AS VARCHAR)),9,8))::BIGINT)) END AS r " +
          s"FROM events), " +
          s"regs AS (SELECT event_type, idx, max(r) AS r FROM h GROUP BY 1, 2), " +
          s"agg AS (SELECT event_type, count(*) AS nz, sum(power(2.0, -r)) AS hs " +
          s"FROM regs GROUP BY 1) " +
          s"SELECT event_type, round(CASE WHEN raw <= 1280.0 AND zeros > 0 " +
          s"THEN 512.0 * ln(512.0 / zeros) ELSE raw END, 4) AS est FROM (" +
          s"SELECT event_type, (0.7213/(1.0+1.079/512.0))*512.0*512.0/((512.0-nz)+hs) AS raw, " +
          s"512.0 - nz AS zeros FROM agg))"
      "SELECT u.event_type, u.est AS est_users, i.est AS est_events FROM " +
        est("user_id") + " u JOIN " + est("event_id") + " i USING (event_type)"
    },
    // sliding-HLL replay: per-6h registers, 4-offset window explode,
    // max-merge, the exact same estimate expression as sketch_hll
    "sketch_hll_sliding" -> hllSlidingOracleSql,
    // the streaming sliding variant maintains the same registers as ONE
    // streaming aggregate - identical numbers, same oracle
    "stream_hll_sliding" -> hllSlidingOracleSql,
    // bottom-k sample replay: rank rows by md5(event_id) per type, keep
    // 256, quantile = the ceil(q*n)-th smallest sampled value (1-indexed
    // arrays on both engines; no interpolation, so the estimate is a data
    // value and hashes exactly)
    "sketch_quantiles" ->
      ("WITH h AS (SELECT event_type, md5(CAST(event_id AS VARCHAR)) AS h, " +
       "value::DOUBLE AS v FROM events " +
       "WHERE event_id IS NOT NULL AND value IS NOT NULL), " +
       "rk AS (SELECT event_type, h, v, row_number() OVER " +
       "(PARTITION BY event_type ORDER BY h) AS rn FROM h), " +
       "s AS (SELECT event_type, list_sort(list(v)) AS vs FROM rk " +
       "WHERE rn <= 256 GROUP BY 1) " +
       "SELECT event_type, q, vs[CAST(greatest(ceil(q * len(vs) - 1e-9), 1) AS INT)] AS est " +
       "FROM s CROSS JOIN (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q)"),
    // Wide-frame HLL replay: rank = 49 − bitlength of the 48-bit frame
    // (md5 chars 9-20); harmonic sum scaled by 2^49 so it is pure integer
    // arithmetic on both engines (sum of 2^(49−r) longs; absent registers
    // add 2^49 each), one double conversion at the end
    "sketch_hll_big" ->
      ("WITH v AS (SELECT unnest(range(4000000)) AS id), " +
       "h AS (SELECT ('0x'||substr(md5(CAST(id AS VARCHAR)),1,8))::BIGINT % 4096 AS idx, " +
       "CASE WHEN ('0x'||substr(md5(CAST(id AS VARCHAR)),9,12))::BIGINT = 0 THEN 49 " +
       "ELSE 49 - len(bin(('0x'||substr(md5(CAST(id AS VARCHAR)),9,12))::BIGINT)) END AS r " +
       "FROM v), " +
       "regs AS (SELECT idx, max(r) AS r FROM h GROUP BY 1), " +
       "agg AS (SELECT count(*) AS nz, sum((power(2.0, 49 - r))::BIGINT) AS hsl " +
       "FROM regs) " +
       "SELECT 'all' AS g, round(CASE WHEN raw <= 10240.0 AND zeros > 0 " +
       "THEN 4096.0 * ln(4096.0 / zeros) ELSE raw END, 4) AS est FROM (" +
       "SELECT (0.7213/(1.0+1.079/4096.0))*4096.0*4096.0 / " +
       "(((hsl + (4096 - nz) * 562949953421312)::DOUBLE) / 562949953421312.0) AS raw, " +
       "4096.0 - nz AS zeros FROM agg)"),
    // Exact heavy hitters: the verified output is plain exact counting
    // with an integer threshold — the MG candidate stage only bounds
    // state, it never changes the answer
    "sketch_topk" ->
      ("SELECT CAST(user_id AS VARCHAR) AS user_id, count(*)::BIGINT AS cnt " +
       "FROM events WHERE user_id IS NOT NULL GROUP BY 1 " +
       "HAVING count(*) * 120 > (SELECT count(*) FROM events WHERE user_id IS NOT NULL)"),
    // CMS replay: the count table is per-(row j, bucket) occurrence sums
    // over salted 32-bit hashes; a key's estimate is the min over its d
    // buckets — pure integer arithmetic, exact hash match
    "sketch_cms" ->
      ("WITH w AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS word " +
       "FROM documents), " +
       "js AS (SELECT unnest(range(4)) AS j), " +
       "cms AS (SELECT j, bucket, count(*)::BIGINT AS c FROM (" +
       "SELECT j, ('0x'||substr(md5(j::VARCHAR||':'||word),1,8))::BIGINT % 1024 AS bucket " +
       "FROM w CROSS JOIN js) GROUP BY 1, 2), " +
       "probes AS (SELECT DISTINCT word FROM w), " +
       "pb AS (SELECT word, j, ('0x'||substr(md5(j::VARCHAR||':'||word),1,8))::BIGINT % 1024 " +
       "AS bucket FROM probes CROSS JOIN js) " +
       "SELECT word, est FROM (SELECT pb.word, min(coalesce(cms.c, 0))::BIGINT AS est " +
       "FROM pb LEFT JOIN cms ON pb.j = cms.j AND pb.bucket = cms.bucket GROUP BY 1) " +
       "WHERE est >= 200"),
    // Bloom replay: bit positions = k salted 32-bit hashes mod 4096 over
    // the build keys; a probe might-contains iff all k of its positions
    // are set (count counts only matched rows on both engines)
    "sketch_bloom" ->
      ("WITH js AS (SELECT unnest(range(5)) AS j), " +
       "build AS (SELECT DISTINCT o_custkey FROM orders " +
       "WHERE o_orderpriority = '1-URGENT'), " +
       "bits AS (SELECT DISTINCT ('0x'||substr(md5(j::VARCHAR||':'||" +
       "o_custkey::VARCHAR),1,8))::BIGINT % 4096 AS pos FROM build CROSS JOIN js), " +
       "pp AS (SELECT c_custkey, ('0x'||substr(md5(j::VARCHAR||':'||" +
       "c_custkey::VARCHAR),1,8))::BIGINT % 4096 AS pos " +
       "FROM (SELECT DISTINCT c_custkey FROM customer) CROSS JOIN js) " +
       "SELECT c_custkey, count(b.pos) = 5 AS might " +
       "FROM pp LEFT JOIN bits b USING (pos) GROUP BY 1"),
    "pack_sequences" ->
      ("WITH t AS (SELECT doc_id, len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> ''))::BIGINT AS n_tok " +
       "FROM documents), " +
       "c AS (SELECT doc_id, n_tok, coalesce(sum(n_tok) OVER (ORDER BY doc_id " +
       "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t) " +
       // DuckDB's windowed sum() yields HUGEINT; without the casts bin/bin_offset
       // surface as float64 and the driver's type-sensitive hash trips even though
       // values are identical (verified row-for-row in round 3).
       "SELECT doc_id, n_tok, (cum // 2048)::BIGINT AS bin, (cum % 2048)::BIGINT AS bin_offset FROM c"),
    "shard_assign" ->
      ("WITH h AS (SELECT doc_id, md5('s:' || doc_id::VARCHAR) AS hh FROM documents), " +
       "a AS (SELECT doc_id, hh, ('0x' || substr(hh, 1, 8))::BIGINT % 16 AS shard FROM h) " +
       "SELECT doc_id, shard, (row_number() OVER " +
       "(PARTITION BY shard ORDER BY hh, doc_id) - 1)::BIGINT AS pos FROM a"),
    "shard_manifest" ->
      ("WITH a AS (SELECT ('0x' || substr(md5('s:' || doc_id::VARCHAR), 1, 8))::BIGINT % 16 AS shard, " +
       "len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> ''))::BIGINT AS t, " +
       "length(text)::BIGINT AS c FROM documents) " +
       "SELECT shard, count(*)::BIGINT AS docs, sum(t)::BIGINT AS tokens, " +
       "sum(c)::BIGINT AS chars FROM a GROUP BY 1"),
    "chunk_docs" ->
      ("SELECT doc_id, gs AS chunk_id, substring(text, CAST(gs AS INTEGER) * 150 + 1, 200) AS chunk_text " +
       "FROM documents, LATERAL (SELECT unnest(generate_series(0, " +
       "greatest((length(text) + 99) // 150, 1) - 1)) AS gs) t"),
    "decontaminate" ->
      ("WITH toks AS (SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws " +
       "FROM documents), " +
       "sh AS (SELECT DISTINCT doc_id, source, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle " +
       "FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-2)) AS i) t WHERE len(ws) >= 3), " +
       "b AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE source = 'src0'), " +
       "c AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src0') " +
       "SELECT c.doc_id AS doc_id, b.bench_id AS bench_id, count(*) AS shared " +
       "FROM c JOIN b USING (shingle) GROUP BY 1, 2 HAVING count(*) >= 3"),
    "dedup_spans" -> (spanOraclePrelude +
      "SELECT doc_id, min(pos)::BIGINT AS span_start, (max(pos) + 7)::BIGINT AS span_end, " +
      "(max(pos) + 7 - min(pos) + 1)::BIGINT AS n_tokens FROM isl GROUP BY doc_id, island"),
    "dedup_span_clean" -> (spanOraclePrelude +
      ", sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 7 AS e FROM isl GROUP BY doc_id, island), " +
      "tp AS (SELECT doc_id, unnest(ws) AS tok, unnest(range(len(ws))) AS pos FROM toks), " +
      "kept AS (SELECT t.doc_id, t.tok, t.pos FROM tp t WHERE NOT EXISTS " +
      "(SELECT 1 FROM sp WHERE sp.doc_id = t.doc_id AND t.pos BETWEEN sp.s AND sp.e)), " +
      "agg AS (SELECT doc_id, count(*) AS kt, string_agg(tok, ' ' ORDER BY pos) AS ct " +
      "FROM kept GROUP BY doc_id) " +
      "SELECT t.doc_id, coalesce(kt, 0)::BIGINT AS kept_tokens, " +
      "(len(ws) - coalesce(kt, 0))::BIGINT AS removed_tokens, " +
      "md5(coalesce(ct, '')) AS clean_md5 FROM toks t LEFT JOIN agg USING (doc_id)"),
    "dedup_ngram_jaccard" -> jaccardOracle("a, b, jaccard"),
    "dedup_minhash" -> jaccardOracle("a, b"),
    "dedup_simhash" -> jaccardOracle("a, b"),
    // clusters = transitive closure of the jaccard-0.5 pair graph (the
    // minhash verify contract); min label propagation in a recursive CTE
    "dedup_clusters" ->
      ("WITH RECURSIVE toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws FROM documents), " +
       "sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS shingle " +
       "FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i) t WHERE len(ws) >= 5), " +
       "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
       "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c FROM sh x " +
       "JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
       "jp AS (SELECT a, b FROM (SELECT a, b, round(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard " +
       "FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id) WHERE jaccard >= 0.5), " +
       "edges AS (SELECT a AS u, b AS v FROM jp UNION ALL SELECT b AS u, a AS v FROM jp), " +
       "reach AS (SELECT doc_id AS u, doc_id AS lbl FROM documents " +
       "UNION SELECT e.v AS u, r.lbl FROM reach r JOIN edges e ON e.u = r.u) " +
       "SELECT u AS doc_id, min(lbl)::BIGINT AS canonical, u = min(lbl) AS keep " +
       "FROM reach GROUP BY 1"),
    // the incremental fold must equal the full rebuild — same oracle as
    // dedup_clusters
    "dedup_apply" ->
      ("WITH RECURSIVE toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws FROM documents), " +
       "sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS shingle " +
       "FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i) t WHERE len(ws) >= 5), " +
       "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
       "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c FROM sh x " +
       "JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
       "jp AS (SELECT a, b FROM (SELECT a, b, round(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard " +
       "FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id) WHERE jaccard >= 0.5), " +
       "edges AS (SELECT a AS u, b AS v FROM jp UNION ALL SELECT b AS u, a AS v FROM jp), " +
       "reach AS (SELECT doc_id AS u, doc_id AS lbl FROM documents " +
       "UNION SELECT e.v AS u, r.lbl FROM reach r JOIN edges e ON e.u = r.u) " +
       "SELECT u AS doc_id, min(lbl)::BIGINT AS canonical, u = min(lbl) AS keep " +
       "FROM reach GROUP BY 1"),
    // same components, keep = argmax(n_chars, tie lowest id) per cluster
    "dedup_keep_best" ->
      ("WITH RECURSIVE toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws FROM documents), " +
       "sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS shingle " +
       "FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i) t WHERE len(ws) >= 5), " +
       "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
       "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c FROM sh x " +
       "JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2), " +
       "jp AS (SELECT a, b FROM (SELECT a, b, round(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard " +
       "FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id) WHERE jaccard >= 0.5), " +
       "edges AS (SELECT a AS u, b AS v FROM jp UNION ALL SELECT b AS u, a AS v FROM jp), " +
       "reach AS (SELECT doc_id AS u, doc_id AS lbl FROM documents " +
       "UNION SELECT e.v AS u, r.lbl FROM reach r JOIN edges e ON e.u = r.u), " +
       "comp AS (SELECT u AS doc_id, min(lbl)::BIGINT AS canonical FROM reach GROUP BY 1) " +
       "SELECT comp.doc_id, canonical, row_number() OVER " +
       "(PARTITION BY canonical ORDER BY d.n_chars DESC, comp.doc_id ASC) = 1 AS keep " +
       "FROM comp JOIN documents d ON comp.doc_id = d.doc_id"),
    "text_boilerplate" ->
      ("WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws FROM documents), " +
       "sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || " +
       "ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7] AS shingle " +
       "FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-7)) AS i) t WHERE len(ws) >= 8), " +
       "b AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) >= 2) " +
       "SELECT doc_id, count(*)::BIGINT AS n_ngrams, count(b.shingle)::BIGINT AS n_boiler, " +
       "round(count(b.shingle) * 1.0 / count(*), 6) AS boiler_frac " +
       "FROM sh LEFT JOIN b USING (shingle) GROUP BY 1"),
    "text_unigram_lm" ->
      ("WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS tok FROM documents), " +
       "tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''), " +
       "freq AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1), " +
       "n AS (SELECT count(*) AS nt FROM tk) " +
       "SELECT doc_id, count(*)::BIGINT AS n_tok, round(avg(ln(c * 1.0 / nt)), 6) AS logprob " +
       "FROM tk JOIN freq USING (tok) CROSS JOIN n GROUP BY 1"),
    // add-one-smoothed cross-corpus replay: same freq join, same OOV floor
    "text_lm_xscore" ->
      ("WITH rt AS (SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS tok " +
       "FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')), " +
       "rk AS (SELECT tok FROM rt WHERE tok <> ''), " +
       "freq AS (SELECT tok, count(*) AS c FROM rk GROUP BY 1), " +
       "s AS (SELECT (SELECT count(*) FROM rk) AS n, (SELECT count(*) FROM freq) AS v), " +
       "dt AS (SELECT doc_id, tok FROM (SELECT doc_id, " +
       "unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS tok FROM documents) " +
       "WHERE tok <> '') " +
       "SELECT doc_id, count(*)::BIGINT AS n_tok, " +
       "round(avg(ln((coalesce(c, 0) + 1) * 1.0 / (n + v))), 6) AS logprob, " +
       "sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov " +
       "FROM dt LEFT JOIN freq USING (tok) CROSS JOIN s GROUP BY 1"),
    "text_bigram_lm" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws FROM documents), " +
       "raw AS (SELECT doc_id, i, ws[i] AS tok FROM t, " +
       "LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) x), " +
       "tk AS (SELECT doc_id, tok, row_number() OVER (PARTITION BY doc_id ORDER BY i) AS rn " +
       "FROM raw WHERE tok <> ''), " +
       "big AS (SELECT a.doc_id, a.tok AS prev, b.tok AS tok FROM tk a " +
       "JOIN tk b ON a.doc_id = b.doc_id AND b.rn = a.rn + 1), " +
       "c2 AS (SELECT prev, tok, count(*) AS c2 FROM big GROUP BY 1, 2), " +
       "c1 AS (SELECT prev, count(*) AS c1 FROM big GROUP BY 1) " +
       "SELECT doc_id, count(*)::BIGINT AS n_bigrams, " +
       "round(avg(ln(c2 * 1.0 / c1)), 6) AS logprob " +
       "FROM big JOIN c2 USING (prev, tok) JOIN c1 USING (prev) GROUP BY 1"),
    "text_encode" ->
      ("WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws FROM documents), " +
       "raw AS (SELECT doc_id, i, ws[i] AS tok FROM t, " +
       "LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) x), " +
       "tk AS (SELECT doc_id, tok, (row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1)::INT AS pos " +
       "FROM raw WHERE tok <> ''), " +
       "freq AS (SELECT tok, count(*) AS c FROM tk GROUP BY 1), " +
       "vocab AS (SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS tok_id " +
       "FROM freq ORDER BY c DESC, tok ASC LIMIT 512) " +
       "SELECT doc_id, pos, tk.tok, coalesce(tok_id, 0)::BIGINT AS tok_id " +
       "FROM tk LEFT JOIN vocab USING (tok)"),
    // thresholds are rateThresholdHex of the fractional parts: 0.5 →
    // '80000000'; integral/zero fractions compare against '' (keep none)
    "mix_epochs" ->
      ("WITH e AS (SELECT doc_id, source, CASE source WHEN 'src0' THEN 2.5 " +
       "WHEN 'src1' THEN 0.5 ELSE 1.0 END AS ep FROM documents), " +
       "c AS (SELECT doc_id, source, ep, " +
       "unnest(range(CAST(ceil(ep) AS BIGINT))) AS epoch FROM e) " +
       "SELECT doc_id, source, CAST(epoch AS INT) AS epoch FROM c " +
       "WHERE epoch < CAST(floor(ep) AS BIGINT) OR " +
       "substring(md5(concat(CAST(doc_id AS VARCHAR), '_', CAST(epoch AS VARCHAR))), 1, 8) < " +
       "(CASE source WHEN 'src0' THEN '80000000' WHEN 'src1' THEN '80000000' ELSE '' END)"),
    // split replay: the cumulative boundaries interpolate from the SAME
    // Scala doubles the Spark side folds, so 0.8 + 0.1's last-bit identity
    // is shared rather than re-derived
    "sample_split" ->
      ("SELECT doc_id, CASE " +
       s"WHEN u < ${0.8} THEN 'train' " +
       s"WHEN u < ${0.8 + 0.1} THEN 'val' ELSE 'test' END AS split " +
       "FROM (SELECT doc_id, ('0x' || substring(md5('sp:' || doc_id::VARCHAR), 1, 8))::BIGINT " +
       "/ 4294967296.0 AS u FROM documents)"),
    "sample_quota" ->
      ("WITH x AS (SELECT doc_id, source, len(text)::DOUBLE AS nc, " +
       "len(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE AS alpha, " +
       "nullif(len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')), 0)::DOUBLE AS ntok, " +
       "len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> ''), " +
       "w -> w IN ('the','a','of','and','to','in','is','on','for','with')))::DOUBLE AS stop, " +
       "len(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE AS nws FROM documents), " +
       "sc AS (SELECT doc_id, source, round(least(1.0, greatest(0.0, alpha/nc*0.5 + " +
       "least(stop/ntok*5.0, 1.0)*0.3 + " +
       "CASE WHEN nws/ntok BETWEEN 3 AND 8 THEN 0.2 ELSE 0.0 END)), 6) AS score FROM x), " +
       "rk AS (SELECT doc_id, source, score, (row_number() OVER " +
       "(PARTITION BY source ORDER BY score DESC, doc_id ASC))::INT AS rk FROM sc) " +
       "SELECT doc_id, source, score, rk FROM rk WHERE rk <= 25"),

    "emb_neardup" ->
      ("SELECT a.vec_id AS a, b.vec_id AS b, " +
       "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS sim " +
       "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
       "WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.4"),
    "knn_bruteforce" ->
      ("WITH s AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id, " +
       "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim " +
       "FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id), " +
       "r AS (SELECT q_id, vec_id, sim, row_number() OVER " +
       "(PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) " +
       "SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= 5"),
    "knn_range" ->
      ("WITH s AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id, " +
       "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim " +
       "FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id) " +
       "SELECT q_id, vec_id, sim FROM s WHERE sim >= 0.3"),
    // both ANN variants are fully deterministic given the md5 centroid order /
    // the seeded hyperplane constants, so their oracles ARE SQL-expressible
    "knn_ivf" -> ivfOracle(numCells = 16, nprobe = 4, k = 5),
    "knn_recall" ->
      ("WITH b AS (SELECT q_id, vec_id FROM (" +
       "WITH s AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id, " +
       "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])), 6) AS sim " +
       "FROM embeddings q JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id), " +
       "r AS (SELECT q_id, vec_id, row_number() OVER " +
       "(PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) " +
       "SELECT q_id, vec_id FROM r WHERE rank <= 5)), " +
       "l AS (SELECT q_id, vec_id FROM (" + lshOracle(dim = 64, numBits = 4, tables = 16, k = 5) + ")) " +
       "SELECT b.q_id, count(l.vec_id)::BIGINT AS hits, " +
       "round(count(l.vec_id) / 5.0, 6) AS recall " +
       "FROM b LEFT JOIN l ON b.q_id = l.q_id AND b.vec_id = l.vec_id GROUP BY 1"),
    "emb_semantic_dedup" -> semanticDedupOracle(numCells = 16, threshold = 0.4),
    "kmeans_train" -> kmeansOracle(k = 8, iters = 2),
    "pq_train" -> (pqPrelude() +
      " SELECT sub, cell, gs - 1 AS p, round(c[gs], 6) AS mu FROM c2, " +
      "LATERAL (SELECT unnest(generate_series(1, len(c))) AS gs) t"),
    "pq_encode" -> (pqPrelude() + " SELECT vec_id, sub, code FROM codes"),
    "pq_knn" -> (pqPrelude() +
      ", qsv AS (SELECT vec_id AS q_id, sub, v FROM sv WHERE vec_id < 10), " +
      "dt AS (SELECT q.q_id, q.sub, c.cell AS code, " +
      "round((list_inner_product(q.v, q.v) + list_inner_product(c.c, c.c) " +
      "- 2 * list_inner_product(q.v, c.c)) * 1e6)::BIGINT AS dm " +
      "FROM qsv q JOIN c2 c ON q.sub = c.sub), " +
      "sc AS (SELECT dt.q_id, k.vec_id, sum(dm)::BIGINT AS d2_micros " +
      "FROM codes k JOIN dt ON k.sub = dt.sub AND k.code = dt.code " +
      "WHERE k.vec_id <> dt.q_id GROUP BY 1, 2), " +
      "r AS (SELECT q_id, vec_id, d2_micros, row_number() OVER " +
      "(PARTITION BY q_id ORDER BY d2_micros ASC, vec_id ASC) AS rank FROM sc) " +
      "SELECT q_id, vec_id, d2_micros, rank FROM r WHERE rank <= 5"),
    // IVFADC replay: the pq_knn ADC restricted to candidates from the
    // nprobe-nearest coarse cells (same cent/asg CTEs as knn_ivf)
    "knn_ivfpq" -> (pqPrelude() +
      ", " + ivfCentAsgSql(16) +
      ", probe AS (SELECT q_id, cell FROM (SELECT q.vec_id AS q_id, c.cell, " +
      s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cosSql("q.embedding", "c.c_emb")} DESC, c.cell ASC) AS rk " +
      "FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10) WHERE rk <= 4), " +
      "qsv AS (SELECT vec_id AS q_id, sub, v FROM sv WHERE vec_id < 10), " +
      "dt AS (SELECT q.q_id, q.sub, c.cell AS code, " +
      "round((list_inner_product(q.v, q.v) + list_inner_product(c.c, c.c) " +
      "- 2 * list_inner_product(q.v, c.c)) * 1e6)::BIGINT AS dm " +
      "FROM qsv q JOIN c2 c ON q.sub = c.sub), " +
      "cand AS (SELECT p.q_id, a.vec_id FROM probe p " +
      "JOIN asg a ON p.cell = a.cell AND a.vec_id <> p.q_id), " +
      "sc AS (SELECT cd.q_id, cd.vec_id, sum(dm)::BIGINT AS d2_micros " +
      "FROM cand cd JOIN codes k ON k.vec_id = cd.vec_id " +
      "JOIN dt ON dt.q_id = cd.q_id AND dt.sub = k.sub AND dt.code = k.code " +
      "GROUP BY 1, 2), " +
      "r AS (SELECT q_id, vec_id, d2_micros, row_number() OVER " +
      "(PARTITION BY q_id ORDER BY d2_micros ASC, vec_id ASC) AS rank FROM sc) " +
      "SELECT q_id, vec_id, d2_micros, rank FROM r WHERE rank <= 5"),
    "emb_quantize" ->
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
       "s AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127 AS scale FROM v), " +
       "q AS (SELECT vec_id, e, scale, list_transform(e, x -> CASE WHEN scale = 0 THEN 0 " +
       "ELSE CAST(round(x / scale) AS BIGINT) END) AS qv FROM s) " +
       "SELECT vec_id, round(scale, 6) AS scale, " +
       "CAST(list_sum(qv) AS BIGINT) AS q_sum, " +
       "CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_norm2, " +
       "round(list_cosine_similarity(e, list_transform(qv, x -> CAST(x AS DOUBLE))), 6) AS recon_cos " +
       "FROM q"),
    "kcore" -> kcoreOracle(frac = 0.85, k = 10, stages = 8),
    // k-truss peel unrolled to fixed MATERIALIZED rounds (same device as
    // kcoreOracle); k=3 converges in <= 2 rounds at every SF — 6 is margin
    "ktruss" -> ktrussOracle(k = 3, stages = 6),
    "lpa" -> lpaOracle(stages = 3),
    "graph_modularity" -> modularityOracle(stages = 3),
    "graph_conductance" -> conductanceOracle(stages = 3),
    // SCC via transitive closure: scc(v) = min over {v} ∪ {w : v →* w ∧
    // w →* v} — O(V·E) reach-pair state, affordable only because the mod-10
    // induced graph is small at sf0.01; the Spark side runs the actual
    // trim+color+sweep algorithm
    // reciprocity replay over the same distinct non-loop sequence edges
    "graph_reciprocity" ->
      ("WITH " + partSeqCte(2) +
       ", r AS (SELECT count(*)::BIGINT AS reciprocal FROM e a " +
       "WHERE EXISTS (SELECT 1 FROM e b WHERE b.src = a.dst AND b.dst = a.src)), " +
       "m AS (SELECT count(*)::BIGINT AS edges FROM e) " +
       "SELECT edges, reciprocal, round(reciprocal * 1.0 / edges, 6) AS reciprocity " +
       "FROM m, r"),
    "scc" ->
      ("WITH RECURSIVE " + partSeqCte(5) +
       // explicit DISTINCT-over-UNION-ALL: see graph_sigma's note on this
       // DuckDB build's UNION handling inside WITH RECURSIVE (harmless
       // here — the GROUP BY collapses — but don't leave the trap armed)
       ", v AS (SELECT DISTINCT id FROM " +
       "(SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)), " +
       "reach(a, b) AS (SELECT src, dst FROM e " +
       "UNION SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src) " +
       "SELECT v.id, least(v.id, coalesce(min(r2.a), v.id)) AS scc " +
       "FROM v LEFT JOIN reach r1 ON r1.a = v.id " +
       "LEFT JOIN reach r2 ON r2.a = r1.b AND r2.b = v.id " +
       "GROUP BY v.id"),
    // closeness = reachable-count / distance-sum over the same geography
    // DAG as the harmonic oracle (diameter 2 ≪ the depth-8 unroll)
    "closeness" ->
      ("WITH RECURSIVE edge AS (" +
       "SELECT n_nationkey + 2000000000 AS src, n_regionkey + 1000000000 AS dst FROM nation " +
       "UNION ALL SELECT c_custkey + 3000000000, c_nationkey + 2000000000 FROM customer " +
       "UNION ALL SELECT s_suppkey + 4000000000, s_nationkey + 2000000000 FROM supplier), " +
       "reach(src, dst, depth) AS (" +
       "SELECT src, dst, 1 FROM edge " +
       "UNION SELECT r.src, e.dst, r.depth + 1 FROM reach r JOIN edge e ON r.dst = e.src " +
       "WHERE r.depth < 8), " +
       "sp AS (SELECT src, dst, min(depth) AS d FROM reach GROUP BY 1, 2), " +
       "v AS (SELECT r_regionkey + 1000000000 AS id FROM region " +
       "UNION ALL SELECT n_nationkey + 2000000000 FROM nation " +
       "UNION ALL SELECT c_custkey + 3000000000 FROM customer " +
       "UNION ALL SELECT s_suppkey + 4000000000 FROM supplier) " +
       "SELECT v.id, round(coalesce(count(sp.dst) / sum(sp.d), 0), 6) AS closeness " +
       "FROM v LEFT JOIN sp ON v.id = sp.src GROUP BY 1"),
    "hits" -> hitsOracle(iters = 2),
    "mis" -> misOracle(frac = 0.85, rounds = 6),
    "pagerank_weighted" -> wpagerankOracle(iters = 10, damping = 0.85, mod = 5),
    // σ replay: the recursive `sig` term extends ONLY shortest-path
    // prefixes (the sp join pins depth+1 = the child's min distance), so
    // each row is one distinct shortest path and count(*) per (src,dst)
    // is σ — bounded here because max σ = 53 at sf0.01
    "graph_sigma" ->
      ("WITH RECURSIVE " + partSeqCte(2) +
       // NB: inside WITH RECURSIVE this DuckDB build evaluates a plain
       // `a UNION b` CTE as UNION ALL — dedup must be an explicit
       // DISTINCT over the union, or a twice-appearing vertex double-fills
       // the seed LIMIT
       ", v AS (SELECT DISTINCT id FROM " +
       "(SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)), " +
       "seeds AS (SELECT id FROM v ORDER BY md5(id::VARCHAR), id LIMIT 4), " +
       "reach(src, dst, depth) AS (" +
       "SELECT id, id, 0 FROM seeds " +
       "UNION SELECT r.src, e.dst, r.depth + 1 FROM reach r JOIN e ON r.dst = e.src " +
       "WHERE r.depth < 20), " +
       "sp AS (SELECT src, dst, min(depth) AS d FROM reach GROUP BY 1, 2), " +
       "sig(src, dst, depth) AS (" +
       "SELECT id, id, 0 FROM seeds " +
       "UNION ALL SELECT g.src, e.dst, g.depth + 1 FROM sig g " +
       "JOIN e ON g.dst = e.src " +
       "JOIN sp p ON p.src = g.src AND p.dst = e.dst AND p.d = g.depth + 1) " +
       "SELECT src, dst AS id, depth AS level, count(*)::BIGINT AS sigma " +
       "FROM sig GROUP BY 1, 2, 3"),
    // diameter/p90 over the same depth-8 reach unroll as closeness/harmonic
    "graph_diameter" ->
      ("WITH RECURSIVE edge AS (" +
       "SELECT n_nationkey + 2000000000 AS src, n_regionkey + 1000000000 AS dst FROM nation " +
       "UNION ALL SELECT c_custkey + 3000000000, c_nationkey + 2000000000 FROM customer " +
       "UNION ALL SELECT s_suppkey + 4000000000, s_nationkey + 2000000000 FROM supplier), " +
       "reach(src, dst, depth) AS (" +
       "SELECT src, dst, 1 FROM edge " +
       "UNION SELECT r.src, e.dst, r.depth + 1 FROM reach r JOIN edge e ON r.dst = e.src " +
       "WHERE r.depth < 8), " +
       "sp AS (SELECT src, dst, min(depth) AS d FROM reach GROUP BY 1, 2) " +
       "SELECT max(d) AS diameter, round(quantile_cont(d, 0.9), 6) AS p90 FROM sp"),
    "graph_walks" -> walksOracle(steps = 6, seeds = 16),
    // strict local-maxima replay on the same daily series
    "ev_peaks" ->
      ("WITH d AS (SELECT event_type, ts::DATE AS day, count(*) AS n " +
       "FROM events GROUP BY 1, 2), " +
       "s AS (SELECT event_type, day, n, " +
       "lag(n) OVER w AS p, lead(n) OVER w AS x FROM d " +
       "WINDOW w AS (PARTITION BY event_type ORDER BY day)) " +
       "SELECT event_type, day, n FROM s " +
       "WHERE p IS NOT NULL AND x IS NOT NULL AND n > p AND n > x"),
    // equi-width histogram replay: group min/max, same bucket expression
    "ev_histogram" ->
      ("WITH s AS (SELECT event_type, min(value) AS mn, max(value) AS mx " +
       "FROM events WHERE value IS NOT NULL GROUP BY 1), " +
       "b AS (SELECT e.event_type, CASE WHEN mx = mn THEN 0 " +
       "ELSE least(floor((value - mn) / ((mx - mn) / 10))::INT, 9) END AS bucket, mn, mx " +
       "FROM events e JOIN s USING (event_type) WHERE value IS NOT NULL) " +
       "SELECT event_type, bucket, " +
       "round(mn + bucket * ((mx - mn) / 10), 6) AS lo, " +
       "round(mn + (bucket + 1) * ((mx - mn) / 10), 6) AS hi, " +
       "count(*) AS n FROM b GROUP BY event_type, bucket, mn, mx"),
    // degree histogram over the same co-supply edge set
    "graph_degree_hist" ->
      (cosupplyCte(0.6) +
       ", deg AS (SELECT id, count(*) AS degree FROM " +
       "(SELECT a AS id FROM e UNION ALL SELECT b AS id FROM e) GROUP BY 1) " +
       "SELECT degree, count(*)::BIGINT AS n_nodes FROM deg GROUP BY 1"),
    "graph_assortativity" ->
      ("WITH " + partSeqCte(1) +
       ", od AS (SELECT src, count(*) AS odeg FROM e GROUP BY src), " +
       "idg AS (SELECT dst, count(*) AS ideg FROM e GROUP BY dst) " +
       "SELECT CASE WHEN stddev_samp(odeg) > 0 AND stddev_samp(ideg) > 0 " +
       "THEN round(covar_samp(odeg, ideg) / (stddev_samp(odeg) * stddev_samp(ideg)), 6) " +
       "END AS assortativity " +
       "FROM e JOIN od USING (src) JOIN idg USING (dst)"),
    "emb_centroids" ->
      ("WITH x AS (SELECT label, unnest(embedding) AS v, " +
       "unnest(range(len(embedding))) AS dim FROM embeddings) " +
       "SELECT label, dim, round((sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) " +
       "/ count(*))::DOUBLE, 6) AS mean FROM x GROUP BY 1, 2"),
    // drift replay over the same rounded centroid table, DECIMAL sums
    "emb_drift" ->
      ("WITH x AS (SELECT label, unnest(embedding) AS v, " +
       "unnest(range(len(embedding))) AS dim FROM embeddings WHERE label IN (0, 1)), " +
       "c AS (SELECT label, dim, round((sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(28,12))) " +
       "/ count(*))::DOUBLE, 6) AS mean FROM x GROUP BY 1, 2), " +
       "p AS (SELECT a.dim, a.mean AS ma, b.mean AS mb FROM " +
       "(SELECT dim, mean FROM c WHERE label = 0) a JOIN " +
       "(SELECT dim, mean FROM c WHERE label = 1) b USING (dim)), " +
       "s AS (SELECT CAST(sum(((ma - mb) * (ma - mb))::DECIMAL(38,12)) AS DOUBLE) AS d2, " +
       "CAST(sum((ma * mb)::DECIMAL(38,12)) AS DOUBLE) AS ab, " +
       "CAST(sum((ma * ma)::DECIMAL(38,12)) AS DOUBLE) AS aa, " +
       "CAST(sum((mb * mb)::DECIMAL(38,12)) AS DOUBLE) AS bb FROM p) " +
       "SELECT round(sqrt(d2), 6) AS l2, " +
       "round(ab / (sqrt(aa) * sqrt(bb)), 6) AS cos FROM s"),
    // diagonal-Mahalanobis replay: published round-6 per-dim stats,
    // DECIMAL per-vector sum, top-20 by (score desc, id)
    "emb_outliers" ->
      ("WITH x AS (SELECT vec_id, unnest(range(len(embedding))) AS d, " +
       "CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings WHERE len(embedding) = 64), " +
       "st AS (SELECT d, round((sum(CAST(x AS DECIMAL(28,12))) / count(*))::DOUBLE, 6) AS mu, " +
       "round((sum(CAST(x * x AS DECIMAL(28,12))) / count(*))::DOUBLE, 6) AS ex2 " +
       "FROM x GROUP BY 1), " +
       "sv AS (SELECT d, mu, round(ex2 - mu * mu, 6) AS var FROM st WHERE round(ex2 - mu * mu, 6) > 0), " +
       "sc AS (SELECT vec_id, round(CAST(sum(CAST(((x - mu) * (x - mu)) / var AS DECIMAL(38,10))) AS DOUBLE), 6) AS score " +
       "FROM x JOIN sv USING (d) GROUP BY 1), " +
       "r AS (SELECT vec_id, score, row_number() OVER (ORDER BY score DESC, vec_id ASC) AS rank FROM sc) " +
       "SELECT vec_id, score, rank FROM r WHERE rank <= 20"),
    // covariance replay: zipped unnest → per-vec (i, x); upper-triangle
    // pair sums + per-dim sums in DECIMAL(28,12) (exact, order-free), the
    // double formula rounds last — same device as emb_centroids
    "emb_covariance" -> (covCte(64) + " SELECT i, j, n, cov FROM cv"),
    // power-iteration replay: the same fixed rounds unrolled as CTEs —
    // decimal matrix-vector sums, per-round 9-place component rounding
    "emb_pca" -> pcaOracle(dim = 64, iters = 6),
    "emb_pca2" -> pca2Oracle(dim = 64, iters = 6),
    // projection replay: per-vec decimal dot product against the ROUNDED
    // published component (6 places — exactly what the Spark side joins)
    "emb_pca_project" ->
      (pcaCte(dim = 64, iters = 6) +
       " SELECT e.vec_id, round((sum((e.x * round(v.x, 6))::DECIMAL(38,10)))::DOUBLE, 6) " +
       "AS score FROM e JOIN v6 v ON e.i = v.d GROUP BY 1"),
    // KMV set-op replay: coordinated bottom-64 md5 samples, same k-th-hash
    // estimator as sketch_distinct, matching-fraction intersection
    "sketch_intersect" ->
      ("WITH sa AS (SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h FROM events " +
       "WHERE event_type = 'click' AND user_id IS NOT NULL ORDER BY h LIMIT 64), " +
       "sb AS (SELECT DISTINCT md5(CAST(user_id AS VARCHAR)) AS h FROM events " +
       "WHERE event_type = 'purchase' AND user_id IS NOT NULL ORDER BY h LIMIT 64), " +
       "su AS (SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb) " +
       "ORDER BY h LIMIT 64), " +
       "st AS (SELECT count(*)::BIGINT AS n_sample, " +
       "max(('0x' || substring(h, 1, 15))::BIGINT) AS kth FROM su), " +
       "cm AS (SELECT count(*)::BIGINT AS n_common FROM su " +
       "WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)), " +
       "x AS (SELECT n_sample, n_common, CASE WHEN n_sample < 64 THEN n_sample::DOUBLE " +
       "ELSE 63.0 * 1152921504606846976.0 / kth END AS eu FROM st, cm) " +
       "SELECT n_sample, n_common, round(eu, 6) AS est_union, " +
       "round(CASE WHEN n_sample < 64 THEN n_common::DOUBLE " +
       "ELSE n_common / n_sample::DOUBLE * eu END, 6) AS est_intersect FROM x"),
    "knn_lsh" -> lshOracle(dim = 64, numBits = 4, tables = 16, k = 5),
    "knn_join" -> lshOracle(dim = 64, numBits = 6, tables = 4, k = 3, qFilter = "TRUE"),
    "knn_multiprobe" -> multiProbeOracle(dim = 64, numBits = 8, tables = 2, k = 5),

    "stream_window_agg" ->
      ("SELECT date_trunc('day', ts)::DATE AS day, event_type, count(*) AS n, " +
       "sum(value::DECIMAL(18,2))::DOUBLE AS sum_value FROM events GROUP BY 1, 2"),
    // sliding-window replay: each event joins its 4 overlapping
    // epoch-aligned (1 day / 6 h) window starts via integer epoch math
    "stream_sliding" ->
      ("WITH o AS (SELECT unnest(generate_series(0, 3)) AS o), " +
       "b AS (SELECT (epoch(ts)::BIGINT // 21600 - o.o) * 21600 AS w_start, " +
       "event_type, value FROM events, o) " +
       "SELECT w_start, event_type, count(*) AS n, " +
       "sum(value::DECIMAL(18,2))::DOUBLE AS sum_value FROM b GROUP BY 1, 2"),
    // windowed HLL replay: same register/rank contract as sketch_hll with
    // the tumbling day window as an extra group key
    "stream_hll" ->
      ("WITH h AS (SELECT date_trunc('day', ts)::DATE AS day, event_type, " +
       "('0x'||substr(md5(CAST(user_id AS VARCHAR)),1,8))::BIGINT % 512 AS idx, " +
       "CASE WHEN ('0x'||substr(md5(CAST(user_id AS VARCHAR)),9,8))::BIGINT = 0 THEN 33 " +
       "ELSE 33 - len(bin(('0x'||substr(md5(CAST(user_id AS VARCHAR)),9,8))::BIGINT)) END AS r " +
       "FROM events WHERE user_id IS NOT NULL), " +
       "regs AS (SELECT day, event_type, idx, max(r) AS r FROM h GROUP BY 1, 2, 3), " +
       "agg AS (SELECT day, event_type, count(*) AS nz, sum(power(2.0, -r)) AS hs " +
       "FROM regs GROUP BY 1, 2) " +
       "SELECT day, event_type, round(CASE WHEN raw <= 1280.0 AND zeros > 0 " +
       "THEN 512.0 * ln(512.0 / zeros) ELSE raw END, 4) AS est FROM (" +
       "SELECT day, event_type, " +
       "(0.7213/(1.0+1.079/512.0))*512.0*512.0/((512.0-nz)+hs) AS raw, " +
       "512.0 - nz AS zeros FROM agg)"),
    // windowed CMS replay: same salted-hash bucket contract as sketch_cms
    // with the tumbling day window as an extra group key
    "stream_cms" ->
      ("SELECT date_trunc('day', ts)::DATE AS day, j, " +
       "('0x'||substr(md5(j::VARCHAR||':'||user_id::VARCHAR),1,8))::BIGINT % 256 AS bucket, " +
       "count(*)::BIGINT AS c FROM events CROSS JOIN " +
       "(SELECT unnest(range(4)) AS j) WHERE user_id IS NOT NULL " +
       "GROUP BY 1, 2, 3"),
    // windowed bottom-k quantile replay: same md5 rank order as
    // sketch_quantiles with the tumbling day window as an extra group key
    "stream_quantiles" ->
      ("WITH h AS (SELECT date_trunc('day', ts)::DATE AS day, event_type, " +
       "md5(CAST(event_id AS VARCHAR)) AS h, value::DOUBLE AS v FROM events " +
       "WHERE event_id IS NOT NULL AND value IS NOT NULL), " +
       "rk AS (SELECT day, event_type, h, v, row_number() OVER " +
       "(PARTITION BY day, event_type ORDER BY h) AS rn FROM h), " +
       "s AS (SELECT day, event_type, list_sort(list(v)) AS vs FROM rk " +
       "WHERE rn <= 128 GROUP BY 1, 2) " +
       "SELECT day, event_type, q, vs[CAST(greatest(ceil(q * len(vs) - 1e-9), 1) AS INT)] AS est " +
       "FROM s CROSS JOIN (SELECT unnest([0.5, 0.9]::DOUBLE[]) AS q)"),
    // windowed exact heavy hitters: plain per-day exact counting with an
    // integer threshold against the day's total
    "stream_topk" ->
      ("WITH c AS (SELECT date_trunc('day', ts)::DATE AS day, " +
       "CAST(user_id AS VARCHAR) AS user_id, count(*)::BIGINT AS cnt " +
       "FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2), " +
       "t AS (SELECT day, sum(cnt) AS n FROM c GROUP BY 1) " +
       "SELECT c.day, c.user_id, c.cnt FROM c JOIN t USING (day) " +
       "WHERE c.cnt * 60 > t.n"),
    "stream_session_window" ->
      // Spark session_window: an event extends the session iff it lands
      // strictly inside [last_ts, last_ts + gap); window end = last_ts + gap
      ("WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts, value FROM events), " +
       "g AS (SELECT user_id, ts, value, CASE WHEN lag(ts) OVER w IS NULL " +
       "OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) >= 1800000 THEN 1 ELSE 0 END AS new_s " +
       "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
       "s AS (SELECT user_id, ts, value, sum(new_s) OVER " +
       "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g) " +
       "SELECT user_id, epoch_ms(min(ts))::BIGINT AS start_ms, " +
       "epoch_ms(max(ts) + INTERVAL 30 MINUTE)::BIGINT AS end_ms, " +
       "count(*)::BIGINT AS n_events, sum(value::DECIMAL(18,2))::DOUBLE AS sum_value " +
       "FROM s GROUP BY user_id, sid"),
    "stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "stream_corpus_dedup" ->
      ("WITH fp AS (SELECT doc_id, source, " +
       "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM documents) " +
       "SELECT doc_id FROM fp a WHERE a.source = 'src0' AND NOT EXISTS " +
       "(SELECT 1 FROM fp b WHERE b.source <> 'src0' AND b.fp = a.fp)"),
    // replicates the md5-minhash banding exactly: 16 per-gram hash mins,
    // 4 string_agg'd band buckets, survivor = no band shared with history
    "stream_near_dedup" ->
      ("WITH toks AS (SELECT doc_id, source, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws FROM documents), " +
       "g AS (SELECT doc_id, source, ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS gram " +
       "FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i) t WHERE len(ws) >= 5), " +
       "sigs AS (SELECT doc_id, source, k, min(md5(k::VARCHAR || ':' || gram)) AS sig " +
       "FROM g CROSS JOIN range(16) r(k) GROUP BY 1, 2, 3), " +
       "bands AS (SELECT doc_id, source, (k // 4) AS band, " +
       "md5((k // 4)::VARCHAR || '|' || string_agg(sig, '|' ORDER BY k)) AS bucket " +
       "FROM sigs GROUP BY doc_id, source, (k // 4)), " +
       "cb AS (SELECT DISTINCT band, bucket FROM bands WHERE source <> 'src0') " +
       "SELECT d.doc_id FROM (SELECT doc_id FROM documents WHERE source = 'src0') d " +
       "WHERE NOT EXISTS (SELECT 1 FROM bands ib JOIN cb ON ib.band = cb.band " +
       "AND ib.bucket = cb.bucket WHERE ib.doc_id = d.doc_id AND ib.source = 'src0')"),
    "stream_interval_join" ->
      ("WITH p AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'purchase'), " +
       "c AS (SELECT event_id, ts, user_id FROM events WHERE event_type = 'click') " +
       "SELECT p.event_id AS p_event_id, c.event_id AS c_event_id FROM p JOIN c " +
       "ON p.user_id = c.user_id AND c.ts > p.ts - INTERVAL 30 MINUTE AND c.ts <= p.ts"),
    "stream_stateful_sessions" ->
      // gap-merge uses <= gap (new session strictly beyond), end = last event
      ("WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events), " +
       "g AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL " +
       "OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 1800000 THEN 1 ELSE 0 END AS new_s " +
       "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
       "s AS (SELECT user_id, ts, sum(new_s) OVER " +
       "(PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM g) " +
       "SELECT user_id, epoch_ms(min(ts))::BIGINT AS start_ms, " +
       "epoch_ms(max(ts))::BIGINT AS end_ms, count(*)::BIGINT AS n_events " +
       "FROM s GROUP BY user_id, sid"),

    "mm_decode_meta" ->
      ("SELECT doc_id AS id, 'video' AS media_type, 16 + doc_id % 48 AS width, " +
       "16 + (doc_id * 7) % 48 AS height, 3::BIGINT AS channels, " +
       "1000 + (doc_id % 60) * 500 AS duration_ms, " +
       "256 + (doc_id % 256) * 4 AS body_len FROM documents"),
    "mm_features" ->
      ("WITH b AS (SELECT doc_id AS id, p, " +
       "((doc_id % 1000003) * 31 + p * 7 + 13) % 256 AS byte FROM documents, " +
       "LATERAL (SELECT unnest(generate_series(0, 256 + (doc_id % 256) * 4 - 1)) AS p) t) " +
       "SELECT id, p % 8 AS d, sum(byte)::BIGINT AS stripe_sum, count(*)::BIGINT AS n " +
       "FROM b GROUP BY 1, 2"),
    "mm_resize" ->
      ("WITH k AS (SELECT doc_id AS id, 256 + (doc_id % 256) * 4 AS n FROM documents), " +
       "s AS (SELECT id, ((doc_id_i * n) // 64) AS p FROM (SELECT id, n, " +
       "unnest(generate_series(0, 63)) AS doc_id_i FROM k)) " +
       "SELECT id, 8::BIGINT AS out_w, 8::BIGINT AS out_h, 64::BIGINT AS out_len, " +
       "sum(((id % 1000003) * 31 + p * 7 + 13) % 256)::BIGINT AS body_sum " +
       "FROM s GROUP BY 1"),
    "mm_frame_sample" ->
      ("SELECT doc_id AS id, i AS frame_idx, i * 250 AS frame_ts_ms FROM documents, " +
       "LATERAL (SELECT unnest(generate_series(0, (1000 + (doc_id % 60) * 500) // 250)) AS i) t"),

    "ev_window_agg" ->
      ("SELECT event_type, ts::date AS day, count(*) AS n, " +
       "round((sum(value::DECIMAL(18,2)) / count(*))::DOUBLE, 6) AS avg_value " +
       "FROM events GROUP BY 1, 2"),
    // trend replay: identical decimal sums, identical one-shot double
    // formula — NULLIF guards the all-same-x degenerate group
    "ev_trend" ->
      ("WITH b AS (SELECT event_type, (ts::DATE - DATE '2024-01-01')::BIGINT AS x, " +
       "value AS y FROM events WHERE value IS NOT NULL), " +
       "a AS (SELECT event_type, count(*)::BIGINT AS n, sum(x::DECIMAL(38,0)) AS sx, " +
       "sum(y::DECIMAL(28,10)) AS sy, sum((x * y)::DECIMAL(38,10)) AS sxy, " +
       "sum((x * x)::DECIMAL(38,0)) AS sxx FROM b GROUP BY 1), " +
       "s2 AS (SELECT event_type, n, " +
       "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
       "NULLIF(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) AS sl, " +
       "CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd FROM a) " +
       "SELECT event_type, n, round(sl, 6) AS slope, " +
       "round((syd - sl * sxd) / n, 6) AS intercept FROM s2"),
    // median/MAD replay with the same interpolating exact percentile
    "ev_anomaly_robust" ->
      ("WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med " +
       "FROM events WHERE value IS NOT NULL GROUP BY 1), " +
       "d AS (SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad " +
       "FROM events e JOIN m USING (event_type) WHERE e.value IS NOT NULL GROUP BY 1), " +
       "s AS (SELECT m.event_type, med, mad FROM m JOIN d USING (event_type)) " +
       "SELECT event_id, e.event_type, " +
       "round(CASE WHEN mad > 0 THEN abs(e.value - med) / (1.4826 * mad) END, 6) AS robust_z " +
       "FROM events e JOIN s ON e.event_type = s.event_type " +
       "WHERE CASE WHEN mad > 0 THEN abs(e.value - med) / (1.4826 * mad) > 3.5 " +
       "ELSE abs(e.value - med) > 0 END"),
    // staircase-decay replay: integer half-life buckets (// = the same
    // truncation as the Spark cast), exact 2^-k weights
    "ev_trending" ->
      ("WITH r AS (SELECT max(epoch(ts)::BIGINT) AS ref FROM events) " +
       "SELECT event_type, count(*) AS n, " +
       "round(sum(power(2.0, -((r.ref - epoch(ts)::BIGINT) // 86400))), 6) AS decayed " +
       "FROM events, r WHERE ts IS NOT NULL GROUP BY event_type, r.ref"),
    // CMS inner-product replay: both tables from the same salted hashes,
    // row-wise products, min over rows; exact side is the frequency join
    "sketch_join_size" ->
      ("WITH js AS (SELECT unnest(range(4)) AS j), " +
       "ca AS (SELECT j, bucket, count(*)::BIGINT AS c FROM (" +
       "SELECT j, ('0x'||substr(md5(j::VARCHAR||':'||user_id::VARCHAR),1,8))::BIGINT % 256 AS bucket " +
       "FROM events CROSS JOIN js WHERE user_id IS NOT NULL) GROUP BY 1, 2), " +
       "cb AS (SELECT j, bucket, count(*)::BIGINT AS c FROM (" +
       "SELECT j, ('0x'||substr(md5(j::VARCHAR||':'||o_custkey::VARCHAR),1,8))::BIGINT % 256 AS bucket " +
       "FROM orders CROSS JOIN js WHERE o_custkey IS NOT NULL) GROUP BY 1, 2), " +
       "ip AS (SELECT ca.j, sum(ca.c * cb.c) AS ip FROM ca " +
       "JOIN cb ON ca.j = cb.j AND ca.bucket = cb.bucket GROUP BY 1), " +
       "es AS (SELECT coalesce(min(coalesce(ip.ip, 0)), 0)::BIGINT AS est FROM js LEFT JOIN ip USING (j)), " +
       "ex AS (SELECT coalesce(sum(n1 * n2), 0)::BIGINT AS exact FROM " +
       "(SELECT user_id AS k, count(*) AS n1 FROM events GROUP BY 1) a JOIN " +
       "(SELECT o_custkey AS k, count(*) AS n2 FROM orders GROUP BY 1) b USING (k)) " +
       "SELECT exact, est FROM ex, es"),
    // lag-pair replay with the same (ts, event_id) order
    "ev_transitions" ->
      ("WITH g AS (SELECT user_id, event_type, " +
       "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev " +
       "FROM events), " +
       "c AS (SELECT prev AS from_type, event_type AS to_type, count(*) AS n " +
       "FROM g WHERE prev IS NOT NULL GROUP BY 1, 2), " +
       "t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1) " +
       "SELECT c.from_type, c.to_type, c.n::BIGINT AS n, " +
       "round(c.n * 1.0 / t.tot, 6) AS p FROM c JOIN t USING (from_type)"),
    // Poisson-bootstrap replay: same md5(id:r) uniforms, same embedded
    // CDF-threshold literals, same DECIMAL weighted sums
    "ev_bootstrap" -> {
      val cs = graft.events.EventOps.poissonCdf1
      val branch = cs.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString(" ")
      "WITH x AS (SELECT event_type, event_id, value, " +
      "unnest(generate_series(0, 7)) AS rep FROM events WHERE value IS NOT NULL), " +
      "h AS (SELECT event_type, rep, value, " +
      "('0x'||substr(md5(event_id::VARCHAR || ':' || rep::VARCHAR), 1, 8))::BIGINT " +
      "/ 4294967296.0 AS u FROM x), " +
      s"w AS (SELECT event_type, rep, value, CASE $branch ELSE 5 END AS w FROM h) " +
      "SELECT event_type, rep, sum(w)::BIGINT AS n_eff, " +
      "round(CAST(sum((w * value)::DECIMAL(38,10)) AS DOUBLE) / sum(w), 6) AS mean " +
      "FROM w GROUP BY 1, 2"
    },
    // the merged state must equal the full rebuild — one direct groupBy
    "ev_agg_apply" ->
      ("SELECT event_type, count(*) AS n, " +
       "round(CAST(sum(value::DECIMAL(28,6)) AS DOUBLE), 6) AS sum_v, " +
       "round(min(value), 6) AS min_v, round(max(value), 6) AS max_v, " +
       "round(CAST(sum(value::DECIMAL(28,6)) AS DOUBLE) / count(*), 6) AS avg_v " +
       "FROM events WHERE value IS NOT NULL GROUP BY 1"),
    // EWMA replay: the SAME 8 lag terms summed in the same left-to-right
    // order with exact 2^-k weight literals — bit-identical before round(6)
    "ev_ewma" -> ewmaOracleSql,
    // the stateful streaming build's batch flush — same numbers, same oracle
    "stream_ewma" -> ewmaOracleSql,
    "scd2_history" -> scd2OracleSql,
    // the covering version per key at the instant
    "scd2_asof" ->
      (s"SELECT * FROM ($scd2OracleSql) h WHERE valid_from_ms <= 1705363200000 " +
       "AND (valid_to_ms IS NULL OR 1705363200000 < valid_to_ms)"),
    // the incremental apply MUST equal the full rebuild — same oracle
    "scd2_apply" -> scd2OracleSql,
    // the stateful streaming build's batch flush — same oracle again
    "stream_scd2" -> scd2OracleSql,
    // windowed trend replay: same five decimal sums with the day window as
    // an extra group key; x = hour-of-day within the window
    "stream_trend" ->
      ("WITH b AS (SELECT date_trunc('day', ts)::DATE AS day, event_type, " +
       "hour(ts)::BIGINT AS x, value AS y FROM events WHERE value IS NOT NULL), " +
       "a AS (SELECT day, event_type, count(*)::BIGINT AS n, " +
       "sum(x::DECIMAL(38,0)) AS sx, sum(y::DECIMAL(28,10)) AS sy, " +
       "sum((x * y)::DECIMAL(38,10)) AS sxy, sum((x * x)::DECIMAL(38,0)) AS sxx " +
       "FROM b GROUP BY 1, 2), " +
       "s2 AS (SELECT day, event_type, n, " +
       "(n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
       "NULLIF(n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0) AS sl, " +
       "CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd FROM a) " +
       "SELECT day, event_type, n, round(sl, 6) AS slope, " +
       "round((syd - sl * sxd) / n, 6) AS intercept FROM s2"),
    // windowed counting-Bloom replay: same salted-hash position contract
    // as sketch_bloom with the tumbling day window as an extra group key
    "stream_bloom" ->
      ("SELECT date_trunc('day', ts)::DATE AS day, " +
       "('0x'||substr(md5(j::VARCHAR||':'||user_id::VARCHAR),1,8))::BIGINT % 2048 AS pos, " +
       "count(*)::BIGINT AS n FROM events CROSS JOIN " +
       "(SELECT unnest(range(5)) AS j) WHERE user_id IS NOT NULL " +
       "GROUP BY 1, 2"),
    "ev_sessionize" ->
      ("WITH g AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL " +
       "OR date_diff('millisecond', lag(ts) OVER w, ts) > 1800000 THEN 1 ELSE 0 END AS new_s " +
       "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)) " +
       "SELECT user_id, sum(new_s)::BIGINT AS n_sessions FROM g GROUP BY 1"),
    "ev_range_join" ->
      ("SELECT l.user_id AS user_id, l.event_id AS l_id, r.event_id AS r_id " +
       "FROM events l JOIN events r ON l.user_id = r.user_id " +
       "WHERE l.event_type = 'error' AND r.event_type = 'purchase' " +
       "AND abs(epoch_ms(l.ts) - epoch_ms(r.ts)) <= 3600000"),
    "ev_asof_join" ->
      ("WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'), " +
       "c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click') " +
       "SELECT p.event_id AS event_id, c.value AS asof_value " +
       "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts"),
    "ev_asof_forward" ->
      ("WITH p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'), " +
       "c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click') " +
       "SELECT p.event_id AS event_id, " +
       "CASE WHEN c.ts IS NOT NULL AND epoch_ms(c.ts) - epoch_ms(p.ts) <= 600000 " +
       "THEN c.value END AS asof_value " +
       "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts"),
    "ev_json" ->
      ("SELECT event_type, sum(json_extract_string(props, '$.k')::BIGINT)::BIGINT AS sum_k " +
       "FROM events GROUP BY 1"),

    "q1_agg" ->
      ("SELECT l_returnflag, l_linestatus, " +
       "sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty, " +
       "sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_price, " +
       "count(*) AS n FROM lineitem GROUP BY 1, 2"),
    "skew_join" ->
      ("SELECT s_nationkey, sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty, " +
       "count(*) AS n FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY 1"),
    // bloom pruning never changes the join result (no false negatives;
    // the exact join removes false positives) — the oracle is the plain join
    "bloom_join" ->
      ("SELECT o_orderkey, sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS revenue " +
       "FROM orders JOIN lineitem ON l_orderkey = o_orderkey " +
       "WHERE o_orderpriority = '1-URGENT' GROUP BY 1"),
    "sink_roundtrip" ->
      "SELECT doc_id, lang, source, n_chars FROM documents",
    // JSONL carries the values losslessly under the explicit schema —
    // identity oracle, same as the parquet sink
    "jsonl_roundtrip" ->
      "SELECT doc_id, lang, source, n_chars FROM documents",
    // CSV quoting must carry the raw text column losslessly — identity
    "csv_roundtrip" ->
      "SELECT doc_id, text, lang, source FROM documents",
    // compaction moves bytes, never rows — identity
    "compact_roundtrip" ->
      "SELECT doc_id, lang, source, n_chars FROM documents",
    // Morton-code replay: explicit bit interleave, pure integer arithmetic
    "zorder_layout" ->
      (s"SELECT o_orderkey, (${zOracleExpr("(o_custkey % 1024)", "(o_orderkey % 1024)", 10)})::BIGINT AS z " +
       "FROM orders"),
    "olap_rollup" ->
      ("SELECT l_returnflag, l_linestatus, " +
       "sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty, count(*) AS n " +
       "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"),
    "olap_pivot" ->
      ("SELECT CAST(ts AS DATE) AS day, " +
       "count(*) FILTER (event_type = 'view')::BIGINT AS n_view, " +
       "count(*) FILTER (event_type = 'click')::BIGINT AS n_click, " +
       "count(*) FILTER (event_type = 'purchase')::BIGINT AS n_purchase " +
       "FROM events GROUP BY 1"),
    "olap_cube" ->
      ("SELECT l_returnflag, l_linestatus, " +
       "sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty, count(*) AS n " +
       "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"),
    "ev_percentiles" ->
      ("SELECT event_type, round(quantile_cont(value, 0.25), 6) AS p25, " +
       "round(quantile_cont(value, 0.5), 6) AS p50, " +
       "round(quantile_cont(value, 0.9), 6) AS p90 FROM events GROUP BY 1"),
    "ev_funnel" -> funnelOracleSql,
    // the stateful streaming funnel's batch flush — same chain, same oracle
    "stream_funnel" -> funnelOracleSql,
    // the same chain with the 6 h gap bound on each hop (epoch-ms compare)
    "ev_funnel_window" ->
      ("WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events " +
       "WHERE event_type = 'view' GROUP BY 1), " +
       "s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id) " +
       "WHERE event_type = 'click' AND ts > t1 " +
       "AND epoch_ms(ts) - epoch_ms(t1) <= 21600000 GROUP BY 1), " +
       "s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id) " +
       "WHERE event_type = 'purchase' AND ts > t2 " +
       "AND epoch_ms(ts) - epoch_ms(t2) <= 21600000 GROUP BY 1) " +
       "SELECT u.user_id, CASE WHEN t3 IS NOT NULL THEN 3 WHEN t2 IS NOT NULL THEN 2 " +
       "WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS stage " +
       "FROM (SELECT DISTINCT user_id FROM events) u " +
       "LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"),
    "ev_retention" ->
      ("WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) AS cohort FROM events " +
       "WHERE ts IS NOT NULL GROUP BY 1), " +
       "a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS p FROM events " +
       "WHERE ts IS NOT NULL), " +
       "act AS (SELECT cohort, date_diff('day', cohort, p)::INT AS k, count(*)::BIGINT AS n_active " +
       "FROM a JOIN f USING (user_id) GROUP BY 1, 2), " +
       "sz AS (SELECT cohort, count(*) AS n_users FROM f GROUP BY 1) " +
       "SELECT act.cohort, k, n_active, round(n_active * 1.0 / n_users, 6) AS retention " +
       "FROM act JOIN sz USING (cohort)"),
    "text_pii_redact" ->
      ("WITH x AS (SELECT doc_id, text || ' contact u' || doc_id || " +
       "'@example.com ip 10.0.' || (doc_id % 256) || '.9 tel 555-867-' || " +
       "lpad((doc_id % 10000)::VARCHAR, 4, '0') AS t FROM documents) " +
       "SELECT doc_id, " +
       "regexp_replace(regexp_replace(regexp_replace(t, " +
       "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'), " +
       "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '[IPV4]', 'g'), " +
       "'\\b\\d{3}[- .]\\d{3}[- .]\\d{4}\\b', '[PHONE]', 'g') AS redacted, " +
       "len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))::BIGINT AS n_email, " +
       "len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))::BIGINT AS n_ipv4, " +
       "len(regexp_extract_all(t, '\\b\\d{3}[- .]\\d{3}[- .]\\d{4}\\b'))::BIGINT AS n_phone FROM x"),
    "window_topk" ->
      ("WITH r AS (SELECT o_custkey, o_orderkey, row_number() OVER " +
       "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk FROM orders) " +
       "SELECT o_custkey, o_orderkey, rk FROM r WHERE rk <= 3"),
    // open/close replayed via first/last row_number flags — no arg_min on
    // composite keys needed; high/low/open/close are EXISTING row values
    // (no float accumulation), so no rounding
    "ev_ohlc" ->
      ("WITH b AS (SELECT event_type, ts::DATE AS day, value, " +
       "row_number() OVER (PARTITION BY event_type, ts::DATE " +
       "ORDER BY ts, event_id) AS rf, " +
       "row_number() OVER (PARTITION BY event_type, ts::DATE " +
       "ORDER BY ts DESC, event_id DESC) AS rl FROM events) " +
       "SELECT event_type, day, min(CASE WHEN rf = 1 THEN value END) AS open, " +
       "max(value) AS high, min(value) AS low, " +
       "min(CASE WHEN rl = 1 THEN value END) AS close, count(*) AS n " +
       "FROM b GROUP BY 1, 2"),
    "olap_grouping_sets" ->
      ("SELECT l_returnflag, l_linestatus, " +
       "sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty, count(1) AS n " +
       "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())"),
    "window_lag" ->
      ("SELECT event_id, date_diff('second', " +
       "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s " +
       "FROM events"),
    "window_ntile" ->
      ("WITH q AS (SELECT event_type, value, ntile(4) OVER " +
       "(PARTITION BY event_type ORDER BY value, event_id) AS q FROM events) " +
       "SELECT event_type, q, count(*)::BIGINT AS n, round(max(value), 6) AS q_max " +
       "FROM q GROUP BY 1, 2"),
    "window_pct" ->
      ("SELECT event_id, event_type, " +
       "round(percent_rank() OVER (PARTITION BY event_type ORDER BY value), 6) AS pr, " +
       "round(cume_dist() OVER (PARTITION BY event_type ORDER BY value), 6) AS cd " +
       "FROM events"),
    "ev_anomaly" ->
      ("WITH s AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd " +
       "FROM events GROUP BY 1) " +
       "SELECT event_id, e.event_type, round((value - mu) / sd, 6) AS z " +
       "FROM events e JOIN s ON e.event_type = s.event_type " +
       "WHERE abs((value - mu) / sd) > 2"),
    "window_running" ->
      ("SELECT o_custkey, o_orderkey, " +
       "(sum(o_totalprice::DECIMAL(18,2)) OVER (PARTITION BY o_custkey " +
       "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE " +
       "AS running_total FROM orders"),
  )

  /** Exhaustive 5-gram Jaccard ≥ 0.5 over an inverted shingle index — the
    * shared oracle for the exact, MinHash, and SimHash dedup variants (the
    * hash-based variants are recall-preserving pre-filters + exact verify,
    * so their output contract equals the exhaustive computation). */
  /** PageRank oracle: chained CTE stages, one per iteration, replicating
    * Algorithms.pageRank exactly — contribs = Σ rank/deg per dst, dangling
    * mass = n − Σ rank over nodes with out-edges, next = (1−d) + d·(contrib
    * + dm/n). The (1−d) and d literals are printed from the same Scala
    * doubles the Spark side uses, so both engines iterate identical
    * floating-point recurrences (round-to-6 happens only at the end). */
  private def pagerankOracle(iters: Int, damping: Double): String = {
    val d = damping.toString
    val oneMinusD = (1 - damping).toString
    // MATERIALIZED: each stage references the previous 2-3x; without the
    // hint DuckDB inlines CTEs and the 10-stage chain expands exponentially
    val base =
      "WITH v AS MATERIALIZED (SELECT n_nationkey + 2000000000 AS id FROM nation " +
      "UNION ALL SELECT r_regionkey + 1000000000 FROM region), " +
      "e AS MATERIALIZED (SELECT n_nationkey + 2000000000 AS src, n_regionkey + 1000000000 AS dst FROM nation), " +
      "deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1), " +
      "nv AS MATERIALIZED (SELECT count(*)::DOUBLE AS n FROM v), " +
      "r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS rank FROM v), "
    val stages = (0 until iters).map { i =>
      s"c$i AS MATERIALIZED (SELECT e.dst AS id, sum(r.rank / deg.deg) AS contrib " +
      s"FROM e JOIN r$i r ON e.src = r.id JOIN deg ON e.src = deg.id GROUP BY 1), " +
      s"d$i AS MATERIALIZED (SELECT (SELECT n FROM nv) - coalesce(sum(rank), 0) AS dm " +
      s"FROM r$i WHERE id IN (SELECT id FROM deg)), " +
      s"r${i + 1} AS MATERIALIZED (SELECT v.id, $oneMinusD + $d * (coalesce(c.contrib, 0) " +
      s"+ (SELECT dm FROM d$i) / (SELECT n FROM nv)) AS rank " +
      s"FROM v LEFT JOIN c$i c ON v.id = c.id)"
    }.mkString(", ")
    base + stages + s" SELECT id, round(rank, 6) AS rank FROM r$iters"
  }

  /** Personalized variant of [[pagerankOracle]]: teleport vector p = 1/|S|
    * over region 0's nations, ranks initialize to p (unit mass), dangling
    * mass restarts at the seeds (dm·p). Same double-typed unrolled-CTE
    * device so both engines iterate identical FP recurrences. */
  private def pprOracle(iters: Int, damping: Double): String = {
    val d = damping.toString
    val oneMinusD = (1 - damping).toString
    val base =
      "WITH v AS MATERIALIZED (SELECT n_nationkey + 2000000000 AS id FROM nation " +
      "UNION ALL SELECT r_regionkey + 1000000000 FROM region), " +
      "e AS MATERIALIZED (SELECT n_nationkey + 2000000000 AS src, n_regionkey + 1000000000 AS dst FROM nation), " +
      "s AS MATERIALIZED (SELECT n_nationkey + 2000000000 AS id FROM nation WHERE n_regionkey = 0), " +
      "deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1), " +
      "p AS MATERIALIZED (SELECT v.id, CASE WHEN v.id IN (SELECT id FROM s) " +
      "THEN 1.0::DOUBLE / (SELECT count(*) FROM s) ELSE 0.0::DOUBLE END AS p FROM v), " +
      "r0 AS MATERIALIZED (SELECT id, p AS rank FROM p), "
    val stages = (0 until iters).map { i =>
      s"c$i AS MATERIALIZED (SELECT e.dst AS id, sum(r.rank / deg.deg) AS contrib " +
      s"FROM e JOIN r$i r ON e.src = r.id JOIN deg ON e.src = deg.id GROUP BY 1), " +
      s"d$i AS MATERIALIZED (SELECT 1.0::DOUBLE - coalesce(sum(rank), 0) AS dm " +
      s"FROM r$i WHERE id IN (SELECT id FROM deg)), " +
      s"r${i + 1} AS MATERIALIZED (SELECT p.id, $oneMinusD * p.p + $d * (coalesce(c.contrib, 0) " +
      s"+ (SELECT dm FROM d$i) * p.p) AS rank " +
      s"FROM p LEFT JOIN c$i c ON p.id = c.id)"
    }.mkString(", ")
    base + stages + s" SELECT id, round(rank, 6) AS rank FROM r$iters"
  }

  /** Stratified-sampling config shared by the query and its oracle: the
    * oracle CASE is generated from the SAME map and threshold function the
    * Spark plan uses, so both engines compare identical md5-prefix strings. */
  private val SampleRates = Map("src0" -> 0.2, "src1" -> 0.5, "src2" -> 1.0)
  private val SampleDefaultRate = 0.8

  private def stratifiedOracle: String = {
    import graft.text.TextOps.rateThresholdHex
    val cases = SampleRates.toSeq.sortBy(_._1)
      .map { case (s, r) => s"WHEN '$s' THEN '${rateThresholdHex(r)}'" }
      .mkString(" ")
    "SELECT doc_id, source FROM documents WHERE substr(md5(doc_id::VARCHAR), 1, 8) < " +
      s"(CASE source $cases ELSE '${rateThresholdHex(SampleDefaultRate)}' END)"
  }

  private def cosSql(a: String, b: String): String =
    s"round(list_cosine_similarity(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[])), 6)"

  /** Shared deterministic-quantizer CTEs (= Similarity.ivfCentroids +
    * ivfAssign): centroids in md5-of-id order, nearest-cell assignment. */
  private def ivfCentAsgSql(numCells: Int): String =
    "cent AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cell, " +
    s"embedding AS c_emb FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $numCells), " +
    "asg AS (SELECT vec_id, embedding, cell FROM (SELECT e.vec_id, e.embedding, c.cell, " +
    s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.cell ASC) AS rk " +
    "FROM embeddings e CROSS JOIN cent c) WHERE rk = 1)"

  /** Cluster-bucketed semantic dedup oracle: within-cell exact-cosine pairs
    * over the same deterministic quantizer as Similarity.semanticNearDup. */
  private def semanticDedupOracle(numCells: Int, threshold: Double): String =
    s"WITH ${ivfCentAsgSql(numCells)} " +
    s"SELECT a, b, sim FROM (SELECT x.vec_id AS a, y.vec_id AS b, " +
    s"${cosSql("x.embedding", "y.embedding")} AS sim " +
    "FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id) " +
    s"WHERE sim >= $threshold"

  /** k-means oracle: md5-ordered init, then per iteration an assignment CTE
    * (rounded-cosine argmax, cell tie-break) and a per-dimension mean CTE
    * (DECIMAL(28,12)-exact sum ÷ count in double) — the identical float
    * recurrence Similarity.kmeansCentroids runs, so centroids agree to the
    * last bit before the final round-to-6. */
  private def kmeansOracle(k: Int, iters: Int): String = {
    val init =
      "c0 AS (SELECT row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cell, " +
      s"CAST(embedding AS DOUBLE[]) AS c_emb FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $k)"
    val stages = (1 to iters).map { i =>
      s"a$i AS (SELECT cell, embedding FROM (SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS embedding, c.cell, " +
      s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.cell ASC) AS rk " +
      s"FROM embeddings e CROSS JOIN c${i - 1} c) WHERE rk = 1), " +
      s"m$i AS (SELECT cell, gs - 1 AS p, sum(embedding[gs]::DECIMAL(28,12))::DOUBLE / count(*) AS m " +
      s"FROM a$i, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS gs) t GROUP BY 1, 2), " +
      s"c$i AS (SELECT cell, list(m ORDER BY p) AS c_emb FROM m$i GROUP BY cell)"
    }.mkString(", ")
    s"WITH $init, $stages SELECT cell, p, round(m, 6) AS m FROM m$iters"
  }

  /** PQ oracle prelude (= Similarity.pqTrain/pqEncode, m=4 × d=16, ksub=8,
    * iters=2): per-subspace slices, md5-ordered init, unrolled L2²-argmin /
    * DECIMAL-mean k-means rounds. L2² spelled as the same three inner
    * products the Spark side evaluates, rounded to 6 at assignment. */
  private def pqL2(v: String, c: String): String =
    s"round(list_inner_product($v, $v) + list_inner_product($c, $c) " +
    s"- 2 * list_inner_product($v, $c), 6)"

  private def pqPrelude(m: Int = 4, d: Int = 16, ksub: Int = 8, iters: Int = 2): String = {
    val sv =
      s"sv AS (SELECT vec_id, s.sub, CAST(embedding[s.sub*$d+1 : s.sub*$d+$d] AS DOUBLE[]) AS v " +
      s"FROM embeddings, LATERAL (SELECT unnest(generate_series(0, ${m - 1})) AS sub) s), " +
      "ids AS (SELECT vec_id, row_number() OVER (ORDER BY md5(vec_id::VARCHAR), vec_id) - 1 AS cell " +
      s"FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $ksub), " +
      "c0 AS (SELECT sv.sub, ids.cell, sv.v AS c FROM ids JOIN sv USING (vec_id))"
    val rounds = (1 to iters).map { i =>
      s"a$i AS (SELECT sub, cell, v FROM (SELECT sv.vec_id, sv.sub, sv.v, c.cell, " +
      s"row_number() OVER (PARTITION BY sv.vec_id, sv.sub " +
      s"ORDER BY ${pqL2("sv.v", "c.c")} ASC, c.cell ASC) AS rk " +
      s"FROM sv JOIN c${i - 1} c ON sv.sub = c.sub) WHERE rk = 1), " +
      s"m$i AS (SELECT sub, cell, gs - 1 AS p, " +
      "sum(v[gs]::DECIMAL(28,12))::DOUBLE / count(*) AS mu " +
      s"FROM a$i, LATERAL (SELECT unnest(generate_series(1, len(v))) AS gs) t GROUP BY 1, 2, 3), " +
      s"c$i AS (SELECT sub, cell, list(mu ORDER BY p) AS c FROM m$i GROUP BY sub, cell)"
    }.mkString(", ")
    // codes: argmin against the FINAL codebook
    val codes =
      s"codes AS (SELECT vec_id, sub, cell AS code FROM (SELECT sv.vec_id, sv.sub, c.cell, " +
      s"row_number() OVER (PARTITION BY sv.vec_id, sv.sub " +
      s"ORDER BY ${pqL2("sv.v", "c.c")} ASC, c.cell ASC) AS rk " +
      s"FROM sv JOIN c$iters c ON sv.sub = c.sub) WHERE rk = 1)"
    s"WITH $sv, $rounds, $codes"
  }

  /** IVF oracle: centroid CTE in md5-of-id order (= Similarity.ivfCentroids),
    * nearest-cell assignment CTE, nprobe probe CTE, exact cosine rank within
    * probed cells — the same deterministic pipeline as Similarity.ivfKnn. */
  private def ivfOracle(numCells: Int, nprobe: Int, k: Int): String =
    s"WITH ${ivfCentAsgSql(numCells)}, " +
    "probe AS (SELECT q_id, q_emb, cell FROM (SELECT q.vec_id AS q_id, q.embedding AS q_emb, c.cell, " +
    s"row_number() OVER (PARTITION BY q.vec_id ORDER BY ${cosSql("q.embedding", "c.c_emb")} DESC, c.cell ASC) AS rk " +
    s"FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10) WHERE rk <= $nprobe), " +
    s"s AS (SELECT p.q_id, a.vec_id, ${cosSql("p.q_emb", "a.embedding")} AS sim " +
    "FROM probe p JOIN asg a ON p.cell = a.cell AND a.vec_id <> p.q_id), " +
    "r AS (SELECT q_id, vec_id, sim, row_number() OVER " +
    "(PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) " +
    s"SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= $k"

  /** LSH oracle: the seeded hyperplane constants (Similarity.hyperplanes —
    * the very arrays the Spark plan ships as literals) are embedded as SQL
    * array literals, so DuckDB reproduces bucket membership exactly; then
    * bucket-join candidates + exact cosine rank, as Similarity.lshKnn. */
  private def lshOracle(dim: Int, numBits: Int, tables: Int, k: Int,
                        qFilter: String = "vec_id < 10"): String = {
    def bucketExpr(seed: Int): String =
      graft.ml.Similarity.hyperplanes(dim, numBits, seed).zipWithIndex.map { case (hp, b) =>
        val lits = hp.mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), $lits) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
    val branches = (0 until tables).map { t =>
      s"SELECT vec_id, embedding, $t AS tbl, ${bucketExpr(t)} AS bucket FROM embeddings"
    }.mkString(" UNION ALL ")
    s"WITH cb AS ($branches), " +
    s"qb AS (SELECT * FROM cb WHERE $qFilter), " +
    "cand AS (SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS vec_id FROM qb " +
    "JOIN cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket AND cb.vec_id <> qb.vec_id), " +
    s"s AS (SELECT c.q_id, c.vec_id, ${cosSql("q.embedding", "e.embedding")} AS sim " +
    "FROM cand c JOIN embeddings q ON q.vec_id = c.q_id JOIN embeddings e ON e.vec_id = c.vec_id), " +
    "r AS (SELECT q_id, vec_id, sim, row_number() OVER " +
    "(PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) " +
    s"SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= $k"
  }

  /** Multi-probe LSH oracle: the same seeded hyperplane literals as
    * lshOracle; the query side unnests the original bucket plus every
    * single-bit xor flip (= Similarity.lshMultiProbeKnn's probe set). */
  private def multiProbeOracle(dim: Int, numBits: Int, tables: Int, k: Int): String = {
    def bucketExpr(seed: Int): String =
      graft.ml.Similarity.hyperplanes(dim, numBits, seed).zipWithIndex.map { case (hp, b) =>
        val lits = hp.mkString("[", ", ", "]")
        s"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), $lits) > 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
    val branches = (0 until tables).map { t =>
      s"SELECT vec_id, $t AS tbl, ${bucketExpr(t)} AS bucket FROM embeddings"
    }.mkString(" UNION ALL ")
    val probes = ("bucket" +: (0 until numBits).map(b => s"xor(bucket, ${1L << b})"))
      .mkString("list_value(", ", ", ")")
    s"WITH cb AS ($branches), " +
    "qb0 AS (SELECT vec_id, tbl, bucket FROM cb WHERE vec_id < 10), " +
    s"qb AS (SELECT vec_id, tbl, unnest($probes) AS bucket FROM qb0), " +
    "cand AS (SELECT DISTINCT qb.vec_id AS q_id, cb.vec_id AS vec_id FROM qb " +
    "JOIN cb ON qb.tbl = cb.tbl AND qb.bucket = cb.bucket AND cb.vec_id <> qb.vec_id), " +
    s"s AS (SELECT c.q_id, c.vec_id, ${cosSql("q.embedding", "e.embedding")} AS sim " +
    "FROM cand c JOIN embeddings q ON q.vec_id = c.q_id JOIN embeddings e ON e.vec_id = c.vec_id), " +
    "r AS (SELECT q_id, vec_id, sim, row_number() OVER " +
    "(PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS rank FROM s) " +
    s"SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= $k"
  }

  /** Shared CTE prelude for the repetition-signal oracles: per-token counts
    * (tf = top-token fraction), word bigrams (bs = duplicate-bigram
    * fraction), and the per-doc token/length/stopword signals (gq) the
    * Gopher filter combines. */
  private def repetitionOracle(select: String): String =
    "WITH toks AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')) AS tok FROM documents), " +
    "tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2), " +
    "tf AS (SELECT doc_id, round(max(c) * 1.0 / sum(c), 6) AS top_token_frac FROM tc GROUP BY 1), " +
    "ws AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS w FROM documents), " +
    "bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS b FROM ws, " +
    "LATERAL (SELECT unnest(generate_series(1, len(w)-1)) AS i) t WHERE len(w) >= 2), " +
    "bs AS (SELECT doc_id, round(1 - count(DISTINCT b) * 1.0 / count(*), 6) AS dup_bigram_frac FROM bg GROUP BY 1), " +
    "gq AS (SELECT doc_id, len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> ''))::DOUBLE AS n_tok, " +
    "len(regexp_replace(text, '\\s+', '', 'g'))::DOUBLE / nullif(len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')), 0) AS mean_len, " +
    "len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> ''), " +
    "x -> x IN ('the','a','of','and','to','in','is','on','for','with')))::DOUBLE " +
    "/ nullif(len(list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '')), 0) AS stop_r FROM documents) " +
    select

  /** Shared CTE prelude for the span-dedup oracles: positioned 8-grams,
    * cross-doc duplicated grams (count(DISTINCT doc) ≥ 2), marked
    * positions, and the gaps-and-islands merge (break when the gap
    * exceeds k = 8 — same rule as TextOps.duplicateSpans). */
  private val spanOraclePrelude: String =
    "WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws FROM documents), " +
    "g AS (SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+7], ' ') AS gram " +
    "FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS i) t WHERE len(ws) >= 8), " +
    "dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2), " +
    "m AS (SELECT doc_id, pos FROM g JOIN dup USING (gram)), " +
    "b AS (SELECT doc_id, pos, CASE WHEN pos - lag(pos) OVER " +
    "(PARTITION BY doc_id ORDER BY pos) > 8 THEN 1 ELSE 0 END AS brk FROM m), " +
    "isl AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos " +
    "ROWS UNBOUNDED PRECEDING) AS island FROM b) "

  private def jaccardOracle(select: String): String =
    "WITH toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), w -> w <> '') AS ws FROM documents), " +
    "sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4] AS shingle " +
    "FROM toks, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i) t WHERE len(ws) >= 5), " +
    "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
    "inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS c FROM sh x " +
    "JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id GROUP BY 1, 2) " +
    "SELECT " + select + " FROM (SELECT a, b, round(c * 1.0 / (sa.sz + sb.sz - c), 6) AS jaccard " +
    "FROM inter JOIN sizes sa ON a = sa.doc_id JOIN sizes sb ON b = sb.doc_id) " +
    "WHERE jaccard >= 0.5"
}
