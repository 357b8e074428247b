package graft

import graft.events.EventOps
import graft.sketch.Sketches
import graft.text.TextOps
import org.apache.spark.sql.functions.{col, lit}

/** KMV distinct sketch: exact under k, estimator replay above k, merge
  * determinism across partition layouts. */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
    .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("kmv: exact count when distinct values < k") {
    val d = Seq(("a", "x"), ("a", "y"), ("a", "x"), ("a", "z"), ("b", "x"))
      .toDF("g", "v")
    val got = Sketches.kmvDistinct(d, "g", $"v", k = 64)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("a" -> 3.0, "b" -> 1.0))
  }

  test("kmv: k-th order statistic estimate matches the JVM replay") {
    val n = 500
    val d = (1 to n).map(i => ("g", s"tok$i")).toDF("g", "v")
    val k = 16
    val hashes = (1 to n).map(i => md5hex(s"tok$i")).sorted
    val hk = java.lang.Long.parseLong(hashes(k - 1).substring(0, 15), 16)
    val expect = BigDecimal((k - 1).toDouble * 1152921504606846976.0 / hk.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = Sketches.kmvDistinct(d, "g", $"v", k)
      .collect()(0).getDouble(1)
    assert(got == expect)
    // sanity: the estimate is within 2x of truth at k = 16
    assert(got > n / 2.0 && got < n * 2.0)
  }

  test("kmv: estimate is layout-independent (merge associativity)") {
    val d = (1 to 300).map(i => ("g", s"tok${i % 120}")).toDF("g", "v")
    val one = Sketches.kmvDistinct(d.coalesce(1), "g", $"v", 32).collect()(0).getDouble(1)
    val many = Sketches.kmvDistinct(d.repartition(13), "g", $"v", 32).collect()(0).getDouble(1)
    assert(one == many)
  }

  // ── HyperLogLog ───────────────────────────────────────────────────────

  /** JVM replay of the engine's HLL: same md5 halves, same 32-bit rank
    * frame, same estimator with round-4. */
  private def hllReplay(values: Seq[String], p: Int): Double = {
    val m = 1L << p
    val regs = scala.collection.mutable.Map.empty[Long, Long]
    for (v <- values) {
      val h = md5hex(v)
      val h1 = java.lang.Long.parseLong(h.substring(0, 8), 16)
      val h2 = java.lang.Long.parseLong(h.substring(8, 16), 16)
      val rho = if (h2 == 0L) 33L else 33L - (64 - java.lang.Long.numberOfLeadingZeros(h2))
      val idx = h1 % m
      regs(idx) = math.max(regs.getOrElse(idx, 0L), rho)
    }
    val md = m.toDouble
    val alpha = if (p >= 7) 0.7213 / (1.0 + 1.079 / md)
                else Seq(0.673, 0.697, 0.709)(p - 4)
    val s = (md - regs.size) + regs.values.map(r => math.pow(2.0, -r)).sum
    val raw = alpha * md * md / s
    val zeros = md - regs.size
    val est = if (raw <= 2.5 * md && zeros > 0) md * math.log(md / zeros) else raw
    BigDecimal(est).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("hll: matches the JVM replay exactly in both estimator branches") {
    // 90 distinct → linear-counting branch; 2000 distinct → raw branch
    for (n <- Seq(90, 2000)) {
      val d = (1 to n).map(i => ("g", s"val$i")).toDF("g", "v")
      val got = Sketches.hllDistinct(d, Seq("g"), $"v", p = 9).collect()(0).getDouble(1)
      assert(got == hllReplay((1 to n).map(i => s"val$i"), 9), s"n=$n")
      // and it is an actual estimate: within 15% at p=9 (stderr ~4.6%)
      assert(math.abs(got - n) < 0.15 * n, s"n=$n got=$got")
    }
  }

  test("hll: layout-independent; merge of halves == sketch of the union") {
    val all = (1 to 600).map(i => ("g", s"u${i % 400}")).toDF("g", "v")
    val one = Sketches.hllDistinct(all.coalesce(1), Seq("g"), $"v", 9).collect()(0).getDouble(1)
    val many = Sketches.hllDistinct(all.repartition(13), Seq("g"), $"v", 9).collect()(0).getDouble(1)
    assert(one == many)
    val ra = Sketches.hllRegisters(all.filter($"v" < "u3"), Seq("g"), $"v", 9)
    val rb = Sketches.hllRegisters(all.filter($"v" >= "u3"), Seq("g"), $"v", 9)
    val merged = Sketches.hllEstimate(Sketches.hllMerge(ra, rb, Seq("g")), Seq("g"), 9)
      .collect()(0).getDouble(1)
    assert(merged == one, "register merge must equal the one-shot sketch")
  }

  test("hll: duplicates don't move the estimate (a set, not a bag)") {
    val once = (1 to 150).map(i => ("g", s"x$i")).toDF("g", "v")
    val thrice = (1 to 450).map(i => ("g", s"x${(i - 1) % 150 + 1}")).toDF("g", "v")
    assert(Sketches.hllDistinct(once, Seq("g"), $"v", 9).collect()(0).getDouble(1)
      == Sketches.hllDistinct(thrice, Seq("g"), $"v", 9).collect()(0).getDouble(1))
  }

  // ── Count-Min ─────────────────────────────────────────────────────────

  test("cms: never undercounts, exact for most keys at low load") {
    val data = (1 to 50).flatMap(i => Seq.fill(i)(s"k$i")).map(Tuple1(_)).toDF("k")
    val est = Sketches.cmsLookup(
      Sketches.cmsTable(data, $"k", org.apache.spark.sql.functions.lit(1L), 4, 1024),
      data, "k", 4, 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = (1 to 50).map(i => s"k$i" -> i.toLong).toMap
    for ((k, t) <- truth) assert(est(k) >= t, s"$k undercounted: ${est(k)} < $t")
    // 50 keys into 4 rows of 1024 buckets: collisions are rare — at least
    // 45 of 50 estimates must be exact
    assert(truth.count { case (k, t) => est(k) == t } >= 45)
  }

  test("cms: heavy hitters keeps every true heavy; merge == one-shot build") {
    val heavy = (1 to 3).flatMap(i => Seq.fill(100)(s"hot$i"))
    val light = (1 to 200).map(i => s"cold$i")
    val d = (heavy ++ light).map(Tuple1(_)).toDF("k")
    val hits = Sketches.cmsHeavyHitters(d, $"k", "k", 4, 1024, 100L)
      .collect().map(_.getString(0)).toSet
    assert(Set("hot1", "hot2", "hot3").subsetOf(hits))
    assert(!hits.exists(_.startsWith("cold")), "cold keys can't reach 100 at this load")
    val one = org.apache.spark.sql.functions.lit(1L)
    val whole = Sketches.cmsTable(d, $"k", one, 4, 1024)
    val halves = Sketches.cmsMerge(
      Sketches.cmsTable(d.limit(250), $"k", one, 4, 1024),
      Sketches.cmsTable(d.exceptAll(d.limit(250)), $"k", one, 4, 1024))
    val a = Sketches.cmsLookup(whole, d, "k", 4, 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = Sketches.cmsLookup(halves, d, "k", 4, 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  // ── Bloom ─────────────────────────────────────────────────────────────

  test("bloom: no false negatives; absent keys overwhelmingly resolve false") {
    val build = (1 to 100).map(i => Tuple1(s"in$i")).toDF("v")
    val bits = Sketches.bloomBits(build, $"v", k = 5, mBits = 4096)
    val probe = ((1 to 100).map(i => s"in$i") ++ (1 to 100).map(i => s"out$i"))
      .map(Tuple1(_)).toDF("v")
    val got = Sketches.bloomMightContain(bits, probe, "v", k = 5, mBits = 4096)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert((1 to 100).forall(i => got(s"in$i")), "a built key can never probe false")
    // fpr ≈ (1 − e^(−kn/m))^k ≈ 2e-5 here: all 100 absents should be false
    val fps = (1 to 100).count(i => got(s"out$i"))
    assert(fps <= 2, s"$fps false positives out of 100 at fpr ~2e-5")
  }

  test("bloom: bit positions replay the salted-md5 contract") {
    val bits = Sketches.bloomBits(Seq(Tuple1("abc")).toDF("v"), $"v", 3, 4096)
      .collect().map(_.getLong(0)).toSet
    val expect = (0 until 3).map { j =>
      java.lang.Long.parseLong(md5hex(s"$j:abc").substring(0, 8), 16) % 4096
    }.toSet
    assert(bits == expect)
  }

  test("bottom-k sample: JVM replay, layout independence, merge, quantiles") {
    val n = 1000
    val rows = (1 to n).map(i => ("g", i.toLong, i.toDouble))
    val d = rows.toDF("g", "id", "v")
    val k = 64
    // exact replay: the k smallest md5(id) rows
    val expect = rows.map { case (_, id, v) => (md5hex(id.toString), v) }
      .sortBy(_._1).take(k).toSet
    val got = Sketches.bottomKSample(d, Seq("g"), $"id", $"v", k)
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSet
    assert(got == expect)
    // partition-layout independence
    val many = Sketches.bottomKSample(d.repartition(13), Seq("g"), $"id", $"v", k)
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSet
    assert(many == got)
    // merge of halves == one-shot sample of the union (shared-hash
    // coordination)
    val h1 = Sketches.bottomKSample(d.filter($"id" <= n / 2), Seq("g"), $"id", $"v", k)
    val h2 = Sketches.bottomKSample(d.filter($"id" > n / 2), Seq("g"), $"id", $"v", k)
    val merged = Sketches.sampleMerge(h1, h2, Seq("g"), k)
      .collect().map(r => (r.getString(1), r.getDouble(2))).toSet
    assert(merged == got)
    // quantiles: ceil(q*n)-th smallest sampled value; roughly right on the
    // uniform 1..1000 data (±O(1/sqrt(k)) rank error)
    val qs = Sketches.sampleQuantiles(
        Sketches.bottomKSample(d, Seq("g"), $"id", $"v", k), Seq("g"), Seq(0.5, 0.9))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val sampleSorted = expect.toSeq.map(_._2).sorted
    assert(qs(0.5) == sampleSorted(math.ceil(0.5 * k).toInt - 1))
    assert(qs(0.9) == sampleSorted(math.ceil(0.9 * k).toInt - 1))
    assert(math.abs(qs(0.5) - 500) < 200 && math.abs(qs(0.9) - 900) < 150)
  }

  test("sketches ignore NULLs (COUNT DISTINCT / membership semantics)") {
    val withNulls = Seq(("g", Option("a")), ("g", Option("b")), ("g", None),
      ("g", Option("a")), ("g", None)).toDF("g", "v")
    val clean = withNulls.filter($"v".isNotNull)
    // kmv: exact branch — 2 distincts, the nulls contribute nothing
    val kmv = Sketches.kmvDistinct(withNulls, "g", $"v", 64).collect()(0).getDouble(1)
    assert(kmv == 2.0)
    // hll: estimate equals the null-free corpus's estimate (no phantom
    // null-idx register shifting the linear-counting branch)
    val est = Sketches.hllDistinct(withNulls, Seq("g"), $"v", 9).collect()(0).getDouble(1)
    val estClean = Sketches.hllDistinct(clean, Seq("g"), $"v", 9).collect()(0).getDouble(1)
    assert(est == estClean)
    // cms: the count table matches the null-free build
    val c1 = Sketches.cmsTable(withNulls, $"v", org.apache.spark.sql.functions.lit(1L), 2, 64)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val c2 = Sketches.cmsTable(clean, $"v", org.apache.spark.sql.functions.lit(1L), 2, 64)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(c1 == c2)
    // bloom: no phantom bit positions
    assert(Sketches.bloomBits(withNulls, $"v", 3, 256).count() ==
      Sketches.bloomBits(clean, $"v", 3, 256).count())
  }

  test("wide-frame hll: matches a JVM replay; survives ranks past the 32-bit cap") {
    // exact replay of the 48-bit-frame estimator on a small corpus
    val n = 3000
    val d = (1 to n).map(i => ("g", s"v$i")).toDF("g", "v")
    val p = 9; val m = 1 << p
    val regs = scala.collection.mutable.Map.empty[Long, Long]
    (1 to n).foreach { i =>
      val hx = md5hex(s"v$i")
      val idx = java.lang.Long.parseLong(hx.substring(0, 8), 16) % m
      val frame = java.lang.Long.parseLong(hx.substring(8, 20), 16)
      val r = if (frame == 0L) 49L else 49L - (64 - java.lang.Long.numberOfLeadingZeros(frame))
      regs(idx) = math.max(regs.getOrElse(idx, 0L), r)
    }
    val hsl = regs.values.map(r => 1L << (49 - r)).sum +
      (m - regs.size).toLong * (1L << 49)
    val s = hsl.toDouble / (1L << 49).toDouble
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val raw = alpha * m * m / s
    val zeros = (m - regs.size).toDouble
    val expect = math.rint((if (raw <= 2.5 * m && zeros > 0) m * math.log(m / zeros)
                            else raw) * 1e4) / 1e4
    val got = Sketches.hllDistinctWide(d, Seq("g"), $"v", p).collect()(0).getDouble(1)
    assert(got == expect)
    assert(math.abs(got - n) / n < 0.15, s"estimate $got vs true $n")
    // the wide frame REPRESENTS ranks the 32-bit frame cannot: registers at
    // r = 40 (≈ one-in-2^39 hash tails — cardinality ~2^48 territory) feed
    // the estimator and yield the correspondingly huge estimate instead of
    // the rho32 ceiling of 33
    val bigRegs = (0 until m).map(i => ("g", i.toLong, 40L)).toDF("g", "idx", "r")
    val big = Sketches.hllEstimateWide(bigRegs, Seq("g"), p).collect()(0).getDouble(1)
    assert(big > math.pow(2.0, 40) * m / 2, s"saturated estimate: $big")
    // merge algebra is unchanged: union+max register tables
    val (h1, h2) = (d.filter($"v" < "v2"), d.filter($"v" >= "v2"))
    val merged = Sketches.hllMerge(
      Sketches.hllRegistersWide(h1, Seq("g"), $"v", p),
      Sketches.hllRegistersWide(h2, Seq("g"), $"v", p), Seq("g"))
    val viaMerge = Sketches.hllEstimateWide(merged, Seq("g"), p).collect()(0).getDouble(1)
    assert(viaMerge == got)
  }

  test("hll: one estimator serves both frames (32-bit and wide agree bit for bit)") {
    // on a register table whose ranks fit the 32-bit frame (r <= 33), the
    // 32-bit and the wide-frame estimators must return raw-bit-identical
    // doubles: the 32-bit harmonic sum is exact in a double, the wide one
    // exact as a scaled long, so both see the same S
    val rnd = new scala.util.Random(11)
    for (p <- 4 to 13) {
      val m = 1 << p
      // group "lc": 1/8 of the registers set (linear-counting branch);
      // "raw": every register set with ranks >= 3 (raw branch); "mix":
      // every register set, ranks over the whole frame incl. 1 and 33
      val lc = rnd.shuffle((0 until m).toList).take(math.max(1, m / 8))
        .map(i => ("lc", i.toLong, 1L + rnd.nextInt(33)))
      val raw = (0 until m).map(i => ("raw", i.toLong, 3L + rnd.nextInt(31)))
      val mix = (0 until m).map(i => ("mix", i.toLong,
        if (i == 0) 1L else if (i == 1) 33L else 1L + rnd.nextInt(33)))
      val regs = (lc ++ raw ++ mix).toDF("g", "idx", "r")
      def est(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val a = est(Sketches.hllEstimate(regs, Seq("g"), p))
      val b = est(Sketches.hllEstimateWide(regs, Seq("g"), p))
      assert(a.keySet == Set("lc", "raw", "mix"))
      for (g <- a.keys) assert(java.lang.Double.doubleToRawLongBits(a(g)) ==
        java.lang.Double.doubleToRawLongBits(b(g)), s"p=$p group $g: ${a(g)} vs ${b(g)}")
      // the fixture reaches both branches: linear counting returns
      // m·ln(m/zeros), rounded to 4 decimals
      val zeros = (m - lc.size).toDouble
      assert(a("lc") == BigDecimal(m * StrictMath.log(m / zeros))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, s"p=$p lc")
      assert(a("raw") > 2.5 * m, s"p=$p raw")
    }
  }

  test("md5 draw: assignSplits, shuffleShards and bootstrapMeans salts replay on the JVM") {
    // one row per id; the NULL id pins each salt's NULL behaviour:
    // assignSplits salts with concat_ws, which SKIPS a NULL id (it draws
    // md5("s")); shuffleShards and bootstrapMeans salt with concat, which
    // turns the whole salt NULL (no shard; every replicate weight falls
    // through the inverse CDF to its cap, 5)
    val ids = Seq(Some(1L), Some(2L), Some(42L), Some(1234567L), Some(-5L), None)
    val df = ids.map(i => (i, i.fold("null-id")(_.toString), 1.5)).toDF("id", "g", "v")
    def u32(s: String) = java.lang.Long.parseLong(md5hex(s).substring(0, 8), 16) / 4294967296.0
    def key(r: org.apache.spark.sql.Row) = if (r.isNullAt(0)) None else Some(r.getLong(0))
    val splitNames = (0 until 64).map(i => f"s$i%02d")
    // 64 dyadic fractions: the split index is floor(64·u), six bits of u
    val splits = TextOps.assignSplits(df, "id", "s", splitNames.map(_ -> 1.0 / 64))
      .collect().map(r => key(r) -> r.getString(1)).toMap
    val shards = TextOps.shuffleShards(df, "id", 997, "s")
      .collect().map(r => key(r) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // only n_eff is read: a one-row group's zero-weight replicate would
    // divide by zero in `mean`
    val boot = EventOps.bootstrapMeans(df, "id", col("v"), replicates = 8, Seq("g"))
      .select("g", "rep", "n_eff")
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    def poissonW(u: Double) = EventOps.poissonCdf1.indexWhere(u < _) match {
      case -1 => 5L
      case k => k.toLong
    }
    for (id <- ids) {
      val salt = id.fold("s")(i => s"s:$i")
      assert(splits(id) == splitNames((u32(salt) * 64).toInt), s"split of $id")
      assert(shards(id) == id.map(i =>
        java.lang.Long.parseLong(md5hex(s"s:$i").substring(0, 8), 16) % 997), s"shard of $id")
      for (rep <- 0 until 8) {
        val w = id.fold(5L)(i => poissonW(u32(s"$i:$rep")))
        assert(boot((id.fold("null-id")(_.toString), rep)) == w, s"weight of $id in rep $rep")
      }
    }
  }

  test("heavy hitters: exact phi-frequent set, partitioning-independent") {
    // Zipf-ish skew: key i appears ceil(600/i) times, i = 1..80 → N ≈ 2968,
    // cardinality 80 > s, so the MG decrement/merge paths are all live
    val rows = (1 to 80).flatMap(i => Seq.fill((600 + i - 1) / i)(s"k$i"))
    val n = rows.size
    val s = 24
    val expect = rows.groupBy(identity).view.mapValues(_.size.toLong)
      .filter { case (_, c) => c * s > n }.toMap
    assert(expect.nonEmpty && expect.size < 24, s"fixture sanity: ${expect.size}")
    // several partition layouts and row orders must all verify to the same
    // exact answer, even though the MG candidate SET may differ
    for (parts <- Seq(1, 3, 32); seed <- Seq(1, 2)) {
      val shuffled = new scala.util.Random(seed).shuffle(rows)
      val df = shuffled.toDF("k").repartition(parts)
      val got = Sketches.heavyHitters(df, $"k", s, "k")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expect, s"parts=$parts seed=$seed")
    }
  }

  test("heavy hitters: MG summary merge bound and null contract") {
    // a merged MG(s) summary must retain every key with count > N/(s+1)
    val agg = new Sketches.MisraGriesAggregator(4)
    val stream = Seq.fill(30)("hot") ++ (1 to 40).map(i => s"cold$i")
    val (h1, h2) = stream.splitAt(13)
    val m = agg.merge(h1.foldLeft(agg.zero)(agg.reduce),
                      h2.foldLeft(agg.zero)(agg.reduce))
    assert(m.size <= 4 && m.contains("hot")) // 30 > 70/5
    // nulls are ignored end-to-end (COUNT semantics)
    val withNulls = (Seq.fill(9)(Some("a")) ++ Seq.fill(5)(None) ++
      Seq.fill(2)(Some("b"))).toDF("k")
    val got = Sketches.heavyHitters(withNulls, $"k", 2, "k")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 9L)) // N = 11 non-null; 9*2 > 11, 2*2 < 11
  }

  test("kmvIntersect: under-full samples are exact; estimator tracks truth") {
    import org.apache.spark.sql.functions.col
    // |A| = 6, |B| = 5, |A∩B| = 3 — all under k → exact everything
    val a = (1 to 6).map(Tuple1(_)).toDF("v")
    val b = (4 to 8).map(Tuple1(_)).toDF("v")
    val r = Sketches.kmvIntersect(a, col("v"), b, col("v"), k = 32).collect()(0)
    assert(r.getLong(0) == 8L && r.getLong(1) == 3L)       // union, common
    assert(r.getDouble(2) == 8.0 && r.getDouble(3) == 3.0) // exact path
    // overflowing samples: 600 ∪ 600 with 200 common → estimates near truth
    val big1 = (1 to 600).map(Tuple1(_)).toDF("v")
    val big2 = (401 to 1000).map(Tuple1(_)).toDF("v")
    val e = Sketches.kmvIntersect(big1, col("v"), big2, col("v"), k = 128).collect()(0)
    assert(e.getLong(0) == 128L)
    val (eu, ei) = (e.getDouble(2), e.getDouble(3))
    assert(eu > 700 && eu < 1350, s"union est $eu vs 1000")
    assert(ei > 80 && ei < 350, s"intersect est $ei vs 200")
    // disjoint sets → zero intersection, exactly
    val c = (2000 to 2600).map(Tuple1(_)).toDF("v")
    val z = Sketches.kmvIntersect(big1, col("v"), c, col("v"), k = 128).collect()(0)
    assert(z.getLong(1) == 0L && z.getDouble(3) == 0.0)
  }

  test("cmsInnerProduct: a collision-free row drives the min to 0 (disjoint keys)") {
    // two disjoint single-key streams: the true join size is 0; any hash
    // row where the two keys land in different buckets proves it — a row
    // with NO overlapping bucket must contribute 0 to the min, not vanish
    val a = Sketches.cmsTable(Seq.fill(5)("x").toDF("k"), col("k"), lit(1L), d = 4, w = 64)
    val b = Sketches.cmsTable(Seq.fill(3)("y").toDF("k"), col("k"), lit(1L), d = 4, w = 64)
    val est = Sketches.cmsInnerProduct(a, b).collect()(0).getLong(0)
    assert(est == 0L, s"disjoint keys must estimate join size 0, got $est")
    // and a genuine overlap still estimates exactly at this load
    val self = Sketches.cmsInnerProduct(a, a).collect()(0).getLong(0)
    assert(self == 25L, s"self inner product of 5 x's is 25, got $self")
  }

  test("sampleQuantiles: exact-integer ranks don't round up (0.07 x 100 = rank 7)") {
    // IEEE: 0.07 * 100 = 7.000000000000001 — a bare ceil reads the 8th
    // order statistic; the documented contract is the 7th
    val sample = (1 to 100).map(i => ("g", f"$i%03d", i.toDouble)).toDF("g", "h", "v")
      .select(col("g"), col("h"), col("v"))
    val got = Sketches.sampleQuantiles(
        sample.select(col("g"), col("h"), col("v")), Seq("g"), Seq(0.07, 0.5))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(got(0.07) == 7.0, s"rank must be ceil(0.07*100) = 7, got ${got(0.07)}")
    assert(got(0.5) == 50.0)
  }

  test("null probe keys produce NO output row (cmsLookup + bloomMightContain)") {
    val data = Seq("a", "b").toDF("k")
    val cms = Sketches.cmsTable(data, col("k"), lit(1L), d = 2, w = 32)
    val probes = Seq(Some("a"), None).toDF("k")
    val lk = Sketches.cmsLookup(cms, probes, "k", d = 2, w = 32).collect()
    assert(lk.length == 1 && lk(0).getString(0) == "a")
    val bits = Sketches.bloomBits(data, col("k"), k = 3, mBits = 128)
    val bm = Sketches.bloomMightContain(bits, probes, "k", k = 3, mBits = 128).collect()
    assert(bm.length == 1 && bm(0).getString(0) == "a" && bm(0).getBoolean(1))
  }
}
