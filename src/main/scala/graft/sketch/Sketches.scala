package graft.sketch

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.util.Md5Draw

/**
 * Deterministic cardinality sketches for corpus-scale statistics — the
 * 100 TB answer to "how many distinct X per group" when exact
 * count(DISTINCT) would shuffle every value: bounded state, map-side
 * partial aggregation, associative merge. Deterministic by construction
 * (md5 is the random oracle), so unlike HLL the estimate is
 * engine-reproducible and the external DuckDB oracle computes the exact
 * same number (beyond the reference, which has no sketch surface).
 *
 * Hash contract: every sketch hashes a value through [[graft.util.Md5Draw]]
 * (md5 hex of its string form; CMS and Bloom salt row j as md5 of
 * "j:value"), so sketches built anywhere interoperate and replay exactly.
 *
 * NULL contract: NULL values, keys and ids are ignored (COUNT(DISTINCT) /
 * membership semantics) — md5(NULL) is NULL and would otherwise land a
 * phantom register, bucket, bit or sample row. Bottom-k samples also drop
 * rows whose value casts to a NULL double (a non-numeric string with ANSI
 * off; an ANSI cast raises instead).
 */
object Sketches {

  /** 16^15 = 2^60 — the hash-prefix value space (first 15 hex chars of the
    * md5; 15 keeps the parse inside a signed 64-bit int). */
  val HashSpace: Double = Md5Draw.space(15)

  /** Insert `x` into `b`, a set sorted ascending by `key` and bounded at
    * the k smallest keys: a key already present leaves `b` as it is (a set,
    * not a bag), and a key above a full set's k-th is dropped. The one
    * bottom-k state of [[KmvAggregator]] and [[BottomKAggregator]]. */
  private def boundedInsert[T](b: Vector[T], x: T, k: Int)(key: T => String): Vector[T] = {
    val h = key(x)
    var lo = 0; var hi = b.size
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (key(b(mid)) < h) lo = mid + 1 else hi = mid
    }
    if (lo < b.size && key(b(lo)) == h) b
    else if (b.size < k) b.patch(lo, Seq(x), 0)
    else if (lo >= k) b
    else b.patch(lo, Seq(x), 0).take(k)
  }

  /**
   * K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002): keep
   * the k smallest DISTINCT md5 hashes seen; if fewer than k survive the
   * stream, the count is exact; otherwise the k-th smallest hash h_(k)
   * estimates the cardinality as (k−1) / (h_(k) / 2^60) — the k-th order
   * statistic of n uniform draws sits at ≈ k/n of the space.
   *
   * The buffer is a sorted ascending Vector of ≤ k hex strings — O(k)
   * state per group regardless of input size, reduced per-partition
   * (map-side combine) and merged associatively, which is exactly the
   * shape that survives a 1000-executor aggregation. Spark's built-in
   * approx_count_distinct (HLL) is the production default; this sketch is
   * the DETERMINISTIC sibling for pipelines that need reproducible,
   * engine-portable estimates.
   */
  final class KmvAggregator(k: Int) extends Aggregator[String, Vector[String], (Long, String)] {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    def zero: Vector[String] = Vector.empty
    def reduce(b: Vector[String], h: String): Vector[String] = insert(b, h)
    def merge(a: Vector[String], b: Vector[String]): Vector[String] = b.foldLeft(a)(insert)
    /** (#hashes in sketch, k-th smallest hash or "" when under-full). */
    def finish(b: Vector[String]): (Long, String) =
      (b.size.toLong, if (b.size < k) "" else b.last)
    private def insert(b: Vector[String], h: String): Vector[String] =
      if (h == null) b else boundedInsert(b, h, k)(identity)
    def bufferEncoder: Encoder[Vector[String]] = ExpressionEncoder()
    def outputEncoder: Encoder[(Long, String)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING)
  }

  /**
   * Per-group distinct-count estimate of `value` via a k-minimum-values
   * sketch: one hash projection + one partial-aggregating groupBy — no
   * count(DISTINCT) shuffle of the full value set.
   *
   * @return (groupCol, est DOUBLE) — exact when the group has < k distinct
   *         values, rounded to 6 decimals (the oracle-compare contract)
   */
  def kmvDistinct(df: DataFrame, groupCol: String, value: Column, k: Int): DataFrame = {
    val sketch = udaf(new KmvAggregator(k), Encoders.STRING)
    df.filter(value.isNotNull)
      .select(col(groupCol), Md5Draw.of(value).as("__h"))
      .groupBy(groupCol)
      .agg(sketch(col("__h")).as("__sk"))
      .select(col(groupCol),
        round(kmvEstimate(col("__sk._1"), Md5Draw.prefix(col("__sk._2"), 1, 15), k), 6)
          .as("est"))
  }

  /** The KMV estimate from `n` hashes kept and the k-th smallest hash's
    * 60-bit prefix `kth` (a long): exactly n when under-full, else
    * (k−1)·2^60 / h_(k). */
  private def kmvEstimate(n: Column, kth: Column, k: Int): Column =
    when(n < k, n.cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(HashSpace) / kth.cast("double"))

  /**
   * KMV set-operation estimates over two value sets (the theta-sketch
   * workflow): bottom-k md5 samples of each side, bottom-k of their union,
   * and the classic estimators — est_union from the union sample's k-th
   * hash, est_intersect = (matching fraction of the union sample) ×
   * est_union. The shared deterministic hash coordinates the samples
   * (bottom-k(A∪B) ∩ A ⊆ bottom-k(A), so sample membership IS set
   * membership), which also makes every estimate replay exactly in an
   * external engine. Under-full samples (union < k distinct) degrade to
   * EXACT counts. Each side is one distinct + top-k (TakeOrderedAndProject
   * — per-partition top-k, driver merge of k rows, never a global sort).
   *
   * @return one row (n_sample, n_common, est_union, est_intersect)
   */
  def kmvIntersect(a: DataFrame, aVal: Column, b: DataFrame, bVal: Column,
                   k: Int): DataFrame = {
    require(k >= 2, s"KMV needs k >= 2, got $k")
    def sample(df: DataFrame, v: Column): DataFrame =
      df.filter(v.isNotNull)
        .select(Md5Draw.of(v).as("h"))
        .distinct().orderBy("h").limit(k)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ha = sample(a, aVal)
    val hb = sample(b, bVal)
    val hu = ha.unionByName(hb).distinct().orderBy("h").limit(k)
    val common = hu.join(ha, Seq("h"), "left_semi").join(hb, Seq("h"), "left_semi")
    val stats = hu.agg(count(lit(1)).as("n_sample"),
        max(Md5Draw.prefix(col("h"), 1, 15)).as("__kth"))
      .crossJoin(broadcast(common.agg(count(lit(1)).as("n_common"))))
    val estU = kmvEstimate(col("n_sample"), col("__kth"), k)
    val out = stats.select(col("n_sample"), col("n_common"),
      round(estU, 6).as("est_union"),
      round(when(col("n_sample") < k, col("n_common").cast("double"))
        .otherwise(col("n_common") / col("n_sample").cast("double") * estU), 6)
        .as("est_intersect"))
    graft.util.CacheLifecycle.releaseOnFirstAction(out, ha, hb)
  }

  // ── HyperLogLog (registers-as-DataFrame) ──────────────────────────────
  //
  // One frame, two widths. The register index is the first 8 md5 hex chars
  // % 2^p; the rank comes from the next frame/4 hex chars — 32 bits (ranks
  // to 33) for per-group distincts, 48 bits (ranks to 49, the wide variant)
  // once a global count nears 2^32 and the 32-bit frame would saturate.
  // Independent hex ranges instead of one split hash keep every
  // intermediate inside a signed long on both engines. Wide and 32-bit
  // tables share the register addressing but never merge.

  /** Rank of a `frame`-bit hash: leading zeros in the frame + 1, i.e.
    * frame + 1 − bitlength. `bin` renders minimal-width on both Spark and
    * DuckDB, so `length(bin(h))` IS the bitlength; h = 0 ranks frame + 1. */
  private def rank(h: Column, frame: Int): Column =
    when(h === 0L, lit(frame + 1L)).otherwise(lit(frame + 1L) - length(bin(h)).cast("long"))

  /** The register table of `value` in a `frame`-bit rank frame. */
  private def registers(df: DataFrame, groupCols: Seq[String], value: Column, p: Int,
                        frame: Int): DataFrame = {
    val h = Md5Draw.of(value)
    df.filter(value.isNotNull)
      .select(groupCols.map(col) :+ (Md5Draw.prefix(h, 1, 8) % (1L << p)).as("idx")
        :+ rank(Md5Draw.prefix(h, 9, frame / 4), frame).as("r"): _*)
      .groupBy((groupCols :+ "idx").map(col): _*)
      .agg(max(col("r")).as("r"))
  }

  /**
   * Estimate from a `frame`-bit register table: E = α·m²/S with
   * S = Σ 2^−M[j] over all m registers (absent rows contribute 2^0),
   * linear counting below 2.5·m when any register is empty. S is summed
   * SCALED by 2^(frame+1): every term 2^(frame+1−r) is an integer, absent
   * registers contribute 2^(frame+1), and the total stays within a long
   * (≤ 2^49 for the 32-bit frame at p ≤ 16, ≤ 2^62 for the wide one at
   * p ≤ 13) — pure long arithmetic both engines replay bit-for-bit, then
   * one IEEE-rounded double conversion. For the 32-bit frame that
   * conversion is exact and S equals the plain double Σ 2^−r, itself exact
   * (dyadic terms ≥ 2^−33, total ≤ 2^16). Ranks must lie in the frame
   * (≤ frame + 1). Rounded to 4 decimals (the ln/÷ steps may differ by an
   * ulp across libm implementations).
   */
  private def estimate(regs: DataFrame, groupCols: Seq[String], p: Int,
                       frame: Int): DataFrame = {
    val m = (1L << p).toDouble
    val alpha = p match {
      case 4 => 0.673
      case 5 => 0.697
      case 6 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val scale = 1L << (frame + 1)
    val agged = regs.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__nz"),
        // pow is exact for integer powers of two within range; the long
        // cast is exact; the long sum is exact
        sum(pow(lit(2.0), lit((frame + 1).toDouble) - col("r").cast("double")).cast("long"))
          .as("__hsl"))
    val s = (col("__hsl") + (lit(1L << p) - col("__nz")) * lit(scale)).cast("double") /
      lit(scale.toDouble)
    val raw = lit(alpha * m * m) / s
    val zeros = lit(m) - col("__nz")
    val est = when(raw <= lit(2.5 * m) && zeros > 0,
      lit(m) * log(lit(m) / zeros)).otherwise(raw)
    agged.select(groupCols.map(col) :+ round(est, 4).as("est"): _*)
  }

  private def requirePrecision(p: Int, max: Int, what: String): Unit =
    require(p >= 4 && p <= max, s"${what}HLL precision must be in [4,$max], got $p")

  /**
   * HyperLogLog registers (Flajolet et al. 2007) as a DataFrame — the
   * sketch IS a ≤ m-row (groupCols…, idx, r) table: idx = hash % m over m =
   * 2^p registers, r = max rank in the 32-bit frame. This shape is the
   * 100 TB story: one narrow projection + one partially-aggregating groupBy
   * (map-side max), and the result is storable, incremental (union new
   * data's registers) and mergeable across corpora ([[hllMerge]]) without
   * touching raw data again. Deterministic (md5), so the external oracle
   * reproduces it bit-for-bit — unlike Spark's own approx_count_distinct,
   * whose xxhash64 HLL no second engine can replay.
   */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], value: Column, p: Int): DataFrame = {
    requirePrecision(p, 16, "")
    registers(df, groupCols, value, p, 32)
  }

  /** Merge two register tables of the same precision: union + max. The
    * algebra that lets 1000 executors (or 1000 days of partitions) sketch
    * independently and combine at read time. */
  def hllMerge(a: DataFrame, b: DataFrame, groupCols: Seq[String]): DataFrame =
    a.unionByName(b)
      .groupBy((groupCols :+ "idx").map(col): _*)
      .agg(max(col("r")).as("r"))

  /** Estimate from a 32-bit-frame register table.
    *
    * @return (groupCols…, est DOUBLE) rounded to 4 decimals */
  def hllEstimate(regs: DataFrame, groupCols: Seq[String], p: Int): DataFrame =
    estimate(regs, groupCols, p, 32)

  /** Per-group approximate distinct count of `value` — registers +
    * estimate in one call. */
  def hllDistinct(df: DataFrame, groupCols: Seq[String], value: Column, p: Int): DataFrame =
    hllEstimate(hllRegisters(df, groupCols, value, p), groupCols, p)

  /**
   * SLIDING-window distinct counts from per-slide registers — the merge
   * algebra doing its real job: the raw stream sketches ONCE per
   * epoch-aligned slide (state = slides × 2^p rows), and every
   * `slides`-wide window's estimate is a max-merge of its member slides'
   * registers — no second pass over raw data, and ANY window size that is
   * a multiple of the slide can be answered later from the same stored
   * register table. Window semantics match [[graft.streaming.StreamOps
   * .slidingWindowAgg]] (each slide belongs to `slides` overlapping
   * windows, epoch-aligned grid).
   *
   * @return (w_start BIGINT epoch seconds, est DOUBLE)
   */
  def hllSlidingDistinct(df: DataFrame, time: Column, value: Column,
                         slideSec: Long, slides: Int, p: Int): DataFrame = {
    require(slideSec > 0 && slides >= 1, s"bad slide spec: $slideSec x $slides")
    // NTZ timestamps don't cast to long directly; the session runs UTC so
    // the TIMESTAMP hop is identity. Seconds are ROUNDED half-up, not
    // truncated: the oracle buckets `epoch(ts)::BIGINT` and DuckDB's
    // double→BIGINT cast rounds half away from zero (same grid contract as
    // StreamOps.tsToOracleSecond — an event within 0.5 s below a slide
    // boundary belongs to the NEXT slide; bit-neutral at the checked SFs,
    // which have no such event, r15 alignment)
    val sec = graft.streaming.StreamOps.epochSecondRounded(time.cast("timestamp"))
    val bucket = floor(sec / slideSec).cast("long")
    val regs = hllRegisters(df.withColumn("__b", bucket), Seq("__b"), value, p)
    val merged = regs.withColumn("__o", explode(sequence(lit(0), lit(slides - 1))))
      .select(((col("__b") - col("__o")) * slideSec).as("w_start"),
        col("idx"), col("r"))
      .groupBy("w_start", "idx").agg(max(col("r")).as("r"))
    hllEstimate(merged, Seq("w_start"), p)
  }

  /** [[hllRegisters]] with the 48-bit rank frame. Same register-table shape
    * and merge algebra ([[hllMerge]] applies unchanged); p capped at 13 so
    * the estimator's scaled-integer harmonic sum stays inside a long. */
  def hllRegistersWide(df: DataFrame, groupCols: Seq[String], value: Column, p: Int): DataFrame = {
    requirePrecision(p, 13, "wide-frame ")
    registers(df, groupCols, value, p, 48)
  }

  /** [[hllEstimate]] for wide-frame registers.
    *
    * @return (groupCols…, est DOUBLE) rounded to 4 decimals */
  def hllEstimateWide(regs: DataFrame, groupCols: Seq[String], p: Int): DataFrame = {
    requirePrecision(p, 13, "wide-frame ")
    estimate(regs, groupCols, p, 48)
  }

  /** Per-group wide-frame distinct estimate — registers + estimate in one
    * call; the global-corpus-count entry point at 100 TB scale. */
  def hllDistinctWide(df: DataFrame, groupCols: Seq[String], value: Column, p: Int): DataFrame =
    hllEstimateWide(hllRegistersWide(df, groupCols, value, p), groupCols, p)

  // ── Count-Min sketch (count table as a DataFrame) ─────────────────────

  /** The n salted positions of `value` in [0, width): for j = 0 until n,
    * the first 8 md5 hex chars of "j:value" % width. A CMS's d row buckets
    * and a Bloom filter's k bit positions alike, for every maintainer of
    * either table (windowed sketches, bloom join pruning). */
  private[graft] def saltedPositions(value: Column, n: Int, width: Int): Seq[Column] =
    (0 until n).map(j => Md5Draw.prefix(
      Md5Draw.ofString(concat(lit(j.toString), lit(":"), value.cast("string"))), 1, 8) % width)

  /** The (groupCols…, j, bucket, c) count table of [[cmsTable]] per group:
    * the window column of the streaming windowed CMS is one such group. */
  private[graft] def cmsCounts(df: DataFrame, groupCols: Seq[String], key: Column,
                               weight: Column, d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 2, s"CMS needs d >= 1, w >= 2, got d=$d w=$w")
    df.filter(key.isNotNull)
      .select(groupCols.map(col) :+ weight.as("__w")
        :+ posexplode(array(saltedPositions(key, d, w): _*)): _*)
      .withColumnsRenamed(Map("pos" -> "j", "col" -> "bucket"))
      .groupBy((groupCols ++ Seq("j", "bucket")).map(col): _*)
      .agg(sum(col("__w")).as("c"))
  }

  /**
   * Count-Min sketch (Cormode & Muthukrishnan 2005) as a ≤ d·w-row
   * (j, bucket, c) DataFrame: d salted hash rows of w buckets, c = the
   * bucket's summed weight. One pass over the data, d-way explode collapsed
   * by map-side partial aggregation to ≤ d·w rows per partition — the
   * frequency-table answer at 100 TB where an exact per-key count would
   * shuffle every key. Mergeable: union + sum ([[cmsMerge]]). Estimates
   * overcount only (min over d rows), never undercount.
   */
  def cmsTable(df: DataFrame, key: Column, weight: Column, d: Int, w: Int): DataFrame =
    cmsCounts(df, Nil, key, weight, d, w)

  /** Merge two CMS tables built with the same (d, w): union + sum. */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("j", "bucket").agg(sum(col("c")).as("c"))

  /**
   * AMS-style inner product of two CMS tables (same (d, w), same salts):
   * upper-biased estimate of the JOIN SIZE Σ_k f_a(k)·f_b(k), min over the
   * d rows — the planner-side cardinality estimate at 100 TB: two d·w-row
   * tables meet; the raw relations never do. Exact when no two distinct
   * keys collide in some row (the min picks the collision-free row).
   *
   * @return one row (est BIGINT)
   */
  def cmsInnerProduct(a: DataFrame, b: DataFrame): DataFrame = {
    val ip = a.select(col("j"), col("bucket"), col("c").as("__ca"))
      .join(b.select(col("j"), col("bucket"), col("c").as("__cb")),
        Seq("j", "bucket"))
      .groupBy("j").agg(sum(col("__ca") * col("__cb")).as("__ip"))
    // EVERY hash row votes: a row with no overlapping bucket has inner
    // product 0 — exactly the collision-free row the min exists to find.
    // The bare inner-join group-by dropped it, inflating the min (or
    // returning NULL when NO row overlapped, where the truth is 0).
    a.select(col("j")).distinct()
      .join(ip, Seq("j"), "left")
      .agg(coalesce(min(coalesce(col("__ip"), lit(0L))), lit(0L))
        .cast("long").as("est"))
  }

  /**
   * Point-query a CMS for each distinct key in `keys`: the estimate is the
   * MIN over the d rows' buckets (a key missing a bucket row reads 0). The
   * sketch side is ≤ d·w rows — a broadcast join against any probe set, so
   * the big side never shuffles.
   *
   * @return (keyName, est LONG)
   */
  def cmsLookup(cms: DataFrame, keys: DataFrame, keyName: String, d: Int, w: Int): DataFrame = {
    val probes = keys.select(col(keyName)).filter(col(keyName).isNotNull).distinct()
      .select(col(keyName),
        posexplode(array(saltedPositions(col(keyName), d, w): _*)))
      .withColumnsRenamed(Map("pos" -> "j", "col" -> "bucket"))
    probes.join(broadcast(cms), Seq("j", "bucket"), "left")
      .groupBy(keyName)
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** Keys of `df` whose CMS-estimated total weight is ≥ minCount — the
    * heavy-hitter query. The candidate set is df's own distinct keys (at
    * true 100 TB scale feed a pre-filtered candidate DataFrame to
    * [[cmsLookup]] instead). */
  def cmsHeavyHitters(df: DataFrame, key: Column, keyName: String,
                      d: Int, w: Int, minCount: Long): DataFrame = {
    val keyed = df.select(key.as(keyName))
    val cms = cmsTable(keyed, col(keyName), lit(1L), d, w)
    cmsLookup(cms, keyed, keyName, d, w).filter(col("est") >= minCount)
  }

  // ── Bloom filter (bit positions as a DataFrame) ───────────────────────

  /**
   * Bloom filter as a ≤ mBits-row set of distinct bit positions: k salted
   * hashes per value. Built in one pass (explode + distinct with map-side
   * partial dedup); merging filters = union + distinct. The classic 100 TB
   * use is the bloom SEMI-JOIN: broadcast the compact position set to
   * prefilter a huge probe side before an exact join — no false negatives,
   * bounded false positives.
   */
  def bloomBits(df: DataFrame, value: Column, k: Int, mBits: Int): DataFrame = {
    require(k >= 1 && mBits >= 2, s"Bloom needs k >= 1, mBits >= 2, got k=$k mBits=$mBits")
    df.filter(value.isNotNull)
      .select(explode(array(saltedPositions(value, k, mBits): _*)).as("pos"))
      .distinct()
  }

  /**
   * Membership probe: for each distinct probe key, `might` = all k bit
   * positions present. `might = false` is definitive absence; `might =
   * true` admits the filter's false-positive rate ≈ (1 − e^(−kn/m))^k.
   * The bits side broadcasts; the probe side never shuffles its payload.
   *
   * @return (keyName, might BOOLEAN)
   */
  def bloomMightContain(bits: DataFrame, probe: DataFrame, keyName: String,
                        k: Int, mBits: Int): DataFrame = {
    probe.select(col(keyName)).filter(col(keyName).isNotNull).distinct()
      .select(col(keyName), explode(array(saltedPositions(col(keyName), k, mBits): _*)).as("pos"))
      .join(broadcast(bits.withColumn("__hit", lit(1))), Seq("pos"), "left")
      .groupBy(keyName)
      .agg((count(col("__hit")) === k).as("might"))
  }

  // ── Bottom-k uniform sample → quantile sketch ─────────────────────────
  //
  // Bottom-k sampling: the k rows with the SMALLEST md5(rowId) are a
  // simple random sample without replacement (md5 is the random oracle, so
  // the "random" permutation is deterministic and engine-reproducible).
  // The sample is the quantile sketch: mergeable (union two samples, keep
  // the k smallest again — coordinated by the shared hash), bounded at
  // O(k) per group, map-side combined. The deterministic sibling of
  // percentile_approx for pipelines that need reproducible, externally
  // replayable quantiles; error is the classic sample-quantile bound
  // (±O(1/√k) in rank).

  /** Bounded-state bottom-k collector: ≤ k (hash, value) pairs sorted by
    * hash ascending; duplicates of a hash collapse (row ids are expected
    * unique, so this only de-dups genuinely replayed rows). */
  final class BottomKAggregator(k: Int)
      extends Aggregator[(String, Double), Vector[(String, Double)], Vector[(String, Double)]] {
    require(k >= 1, s"bottom-k sample needs k >= 1, got $k")
    def zero: Vector[(String, Double)] = Vector.empty
    def reduce(b: Vector[(String, Double)], r: (String, Double)): Vector[(String, Double)] =
      insert(b, r)
    def merge(a: Vector[(String, Double)],
              b: Vector[(String, Double)]): Vector[(String, Double)] = b.foldLeft(a)(insert)
    def finish(b: Vector[(String, Double)]): Vector[(String, Double)] = b
    private def insert(b: Vector[(String, Double)],
                       r: (String, Double)): Vector[(String, Double)] =
      if (r == null || r._1 == null) b else boundedInsert(b, r, k)(_._1)
    def bufferEncoder: Encoder[Vector[(String, Double)]] = ExpressionEncoder()
    def outputEncoder: Encoder[Vector[(String, Double)]] = ExpressionEncoder()
  }

  /** The k smallest-`h` (h, v) rows per group of `df`. */
  private def bottomK(df: DataFrame, groupCols: Seq[String], h: Column, v: Column,
                      k: Int): DataFrame = {
    val agg = udaf(new BottomKAggregator(k),
      Encoders.tuple(Encoders.STRING, Encoders.scalaDouble))
    df.groupBy(groupCols.map(col): _*)
      .agg(agg(h, v).as("__s"))
      .select(groupCols.map(col) :+ explode(col("__s")).as("e"): _*)
      .select(groupCols.map(col) :+ col("e._1").as("h") :+ col("e._2").as("v"): _*)
  }

  /**
   * Per-group deterministic uniform row sample: the k rows with the
   * smallest md5(id). One partially-aggregating groupBy — O(k) state per
   * group at any scale. `id` must be row-unique or colliding rows collapse.
   *
   * @return (groupCols…, h, v) — ≤ k rows per group, h the sampling hash
   */
  def bottomKSample(df: DataFrame, groupCols: Seq[String], id: Column,
                    value: Column, k: Int): DataFrame =
    bottomK(df.filter(id.isNotNull && value.cast("double").isNotNull)
        .select(groupCols.map(col) :+ Md5Draw.of(id).as("__h")
          :+ value.cast("double").as("__v"): _*),
      groupCols, col("__h"), col("__v"), k)

  /** Merge two bottom-k samples of the same k: union, keep the k smallest
    * hashes per group again — the shared hash coordinates the samples, so
    * the merge IS a bottom-k sample of the union. */
  def sampleMerge(a: DataFrame, b: DataFrame, groupCols: Seq[String], k: Int): DataFrame =
    bottomK(a.unionByName(b), groupCols, col("h"), col("v"), k)

  /**
   * Quantile estimates from a bottom-k sample: for each q, the
   * ceil(q·n)-th smallest sampled value (discrete/lower quantile — no
   * interpolation, so the estimate is a VALUE from the data and replays
   * exactly in any engine).
   *
   * @return (groupCols…, q, est)
   */
  def sampleQuantiles(sample: DataFrame, groupCols: Seq[String],
                      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must be in (0, 1], got $qs")
    sample.groupBy(groupCols.map(col): _*)
      .agg(sort_array(collect_list(col("v"))).as("__vs"))
      .select(groupCols.map(col)
        :+ explode(array(qs.map(lit): _*)).as("q") :+ col("__vs"): _*)
      // ceil over an epsilon-backoff: the raw product rounds UP past exact
      // integers in IEEE doubles (0.07*100 = 7.000000000000001 -> rank 8
      // instead of the documented ceil(q*n) = 7); greatest(1) guards the
      // q*n < epsilon corner. The oracle applies the identical backoff.
      .select(groupCols.map(col) :+ col("q")
        :+ element_at(col("__vs"),
          greatest(ceil(col("q") * size(col("__vs")) - lit(1e-9)), lit(1L))
            .cast("int")).as("est"): _*)
  }

  /** Sample + estimate in one call — the per-group approximate-quantiles
    * entry point. */
  def quantileSketch(df: DataFrame, groupCols: Seq[String], id: Column,
                     value: Column, qs: Seq[Double], k: Int): DataFrame =
    sampleQuantiles(bottomKSample(df, groupCols, id, value, k), groupCols, qs)

  // ── Heavy hitters (Misra–Gries candidates + exact verify) ─────────────

  /**
   * Misra–Gries frequent-items summary: at most `s` (key → count) counters.
   * Seeing a tracked key increments its counter; an untracked key either
   * claims a free slot or decrements EVERY counter by one (dropping zeros)
   * — each decrement "spends" s+1 stream elements, so a merged summary
   * undercounts any key by at most N/(s+1), and every key with true count
   * > N/(s+1) is guaranteed to survive (Misra & Garcia 1982; merge rule
   * from Agarwal et al. 2012, "Mergeable Summaries": pointwise sum, then
   * subtract the (s+1)-th largest count from all and drop non-positives).
   *
   * The surviving SET can depend on encounter order, which is why the
   * summary is only the CANDIDATE stage of [[heavyHitters]] — the exact
   * verify downstream makes the final output order-independent.
   */
  final class MisraGriesAggregator(s: Int)
      extends Aggregator[String, Map[String, Long], Seq[String]] {
    require(s >= 1, s"Misra-Gries needs s >= 1 counters, got $s")
    def zero: Map[String, Long] = Map.empty
    def reduce(m: Map[String, Long], k: String): Map[String, Long] =
      if (k == null) m
      else m.get(k) match {
        case Some(c)              => m.updated(k, c + 1)
        case None if m.size < s   => m.updated(k, 1L)
        case None                 => // decrement-all: spends s+1 elements
          m.flatMap { case (k2, c) => if (c > 1) Some(k2 -> (c - 1)) else None }
      }
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = b.foldLeft(a) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) }
      if (sum.size <= s) sum
      else {
        // subtract the (s+1)-th largest count, keep strictly positive
        val cut = sum.valuesIterator.toIndexedSeq.sorted(Ordering[Long].reverse)(s)
        sum.flatMap { case (k, c) => if (c > cut) Some(k -> (c - cut)) else None }
      }
    }
    def finish(m: Map[String, Long]): Seq[String] = m.keys.toSeq.sorted
    def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder()
  }

  /**
   * EXACT φ-heavy-hitters with bounded state, φ = 1/s: every key whose
   * count strictly exceeds N/s, with its exact count. Two passes, neither
   * of which shuffles the raw key stream by key:
   *
   *  1. candidates — one global Misra–Gries aggregate (O(s) state,
   *     map-side partial reduce per partition, associative merge; only the
   *     ≤ s-entry summaries cross the wire). The merged summary provably
   *     contains every key with count > N/(s+1) ⊇ every key with
   *     count > N/s, so no true heavy hitter is missed.
   *  2. verify — broadcast the ≤ s candidate keys back over the stream and
   *     count THEM exactly (a groupBy on ≤ s distinct keys is a map-side
   *     combine into s rows, not a data-sized shuffle), then keep
   *     cnt · s > N (integer arithmetic — no float threshold).
   *
   * The MG candidate SET varies with partitioning; the verified OUTPUT is
   * exact and partitioning-independent — which is what makes it oracle-
   * checkable (`HAVING count(*) * s > N`). At 100 TB this is the
   * "top domains / most frequent tokens" primitive: state O(s), one scan
   * per pass, never a full-cardinality groupBy.
   *
   * @return (outName = key as string, cnt BIGINT), only rows with
   *         cnt · s > N
   */
  def heavyHitters(df: DataFrame, key: Column, s: Int,
                   outName: String = "key"): DataFrame = {
    val keyed = df.select(key.cast("string").as("__hh")).filter(col("__hh").isNotNull)
    val mg = udaf(new MisraGriesAggregator(s), Encoders.STRING)
    // candidates and N come out of ONE aggregate pass — a separate
    // count(*) action re-scanned the unpersisted key stream a third time
    val candAndN = keyed.agg(mg(col("__hh")).as("__ks"), count(lit(1)).as("__n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = candAndN.select(explode(col("__ks")).as("__hh"))
    val n = candAndN.select(col("__n"))
    val out = keyed.join(broadcast(cand), "__hh")
      .groupBy("__hh").agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(n))
      .filter(col("cnt") * s > col("__n"))
      .select(col("__hh").as(outName), col("cnt"))
    graft.util.CacheLifecycle.releaseOnFirstAction(out, candAndN)
  }
}
