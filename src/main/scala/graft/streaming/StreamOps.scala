package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.util.Md5Draw

/** Typed event row for the stateful operators (matches the driver's
  * `events` parquet schema, TESTDATA.md). */
final case class GEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                        event_type: String, value: Double)

/** Closed session emitted by [[StreamOps.sessionizeStateful]]. */
final case class GSession(user_id: Long, session_start: java.sql.Timestamp,
                          session_end: java.sql.Timestamp, n_events: Long,
                          sum_value: Double)

private final case class SessState(startMs: Long, lastMs: Long, n: Long, sum: Double)

/** SCD2 version row emitted by [[StreamOps.scd2Stream]]. */
final case class GScd2(user_id: Long, event_type: String, valid_from_ms: Long,
                       valid_to_ms: Option[Long], is_current: Boolean, version: Long)

private final case class Scd2State(attr: String, fromMs: Long, tieBreak: Long, ver: Long)

/** Per-event EWMA row emitted by [[StreamOps.ewmaStateful]]. */
final case class GEwma(event_id: Long, user_id: Long, ewma: Double)

/** Last `lookback - 1` values per key, NEWEST FIRST — the whole EWMA state. */
private final case class EwmaState(recent: Seq[Double])

/** Funnel stage row emitted by [[StreamOps.funnelStateful]] — on a stream,
  * one row per stage ADVANCE; in batch, one final row per key. */
final case class GFunnelStage(user_id: Long, stage: Int)

private final case class FunnelState(stage: Int, lastMs: Long)

/**
 * Structured Streaming operators (SURVEY §2.7 notes the reference has no
 * streaming surface; its closest analogue is the fs2 paged scan + insert-time
 * stats fibers, g4s-optimizer/.../matrix/BlockingMatrix.scala:39-94). Here
 * streams are first-class: every transform below runs identically on a
 * `readStream` source (incremental, watermark-bounded state) and on a batch
 * DataFrame (where the watermark is a no-op), which is what lets the driver's
 * DuckDB oracle check the batch path while MemoryStream specs check the
 * incremental path.
 *
 * Scale posture: all state is keyed and watermark-bounded, so state size is
 * O(active keys × window), independent of total history — the property that
 * matters at 100 TB of events.
 */
object StreamOps {

  /** `readStream` over a parquet events directory (file source; schema must
    * be supplied for streaming reads). Delegates ts normalization to the same
    * schema-adaptive path as [[graft.sources.Tables.events]], so legacy
    * nanos-as-long and native TIMESTAMP_NTZ fixtures both work. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    graft.sources.Tables.normalizeTs(
      spark.readStream.schema(schema).parquet(s"$dir/events.parquet"))
  }

  private def watermarked(events: DataFrame, time: String, wm: String): DataFrame =
    if (events.isStreaming) events.withWatermark(time, wm) else events

  /** Event time rounded to the oracle's SECOND grid. The sliding-window
    * oracles bucket by `epoch(ts)::BIGINT`, and DuckDB's double→BIGINT cast
    * rounds half away from zero — while Spark's `window()` buckets the raw
    * microsecond timestamp by truncation. The two disagree exactly for an
    * event within 0.5 s below a slide boundary (r14's stream_sliding
    * divergence: 1 such event at sf0.1, 0 at the smaller SFs — so this
    * rounding is bit-neutral at the checked SFs and closes the divergence
    * at sf0.1 and beyond). Integer micros math, exact for every epoch ≥ 0
    * (floor(+0.5 s) = half-away-from-zero on the non-negative domain all
    * event data lives in).
    * Tumbling operators are NOT rounded: their oracles use
    * `date_trunc`, which truncates the raw timestamp exactly as `window()`
    * does. */
  private[graft] def tsToOracleSecond(ts: Column): Column =
    timestamp_seconds(epochSecondRounded(ts))

  /** Epoch seconds of `ts` rounded half up — the oracle's
    * `epoch(ts)::BIGINT`, whose double→BIGINT cast rounds half away from
    * zero. Contract: NON-NEGATIVE epochs only (pre-1970 event times are out
    * of contract) — there half up equals half away from zero; a negative
    * epoch rounds a tie toward +∞ and can land one second off the oracle.
    * Integer micros math: `floor((m + 5e5) / 1e6)` is exact in double for
    * every |m| < 2^53 because ties land on representable integers. The one
    * shared rounding of the sliding-window, sliding-HLL and decay
    * operators. */
  private[graft] def epochSecondRounded(ts: Column): Column =
    floor((unix_micros(ts) + lit(500000L)) / lit(1000000.0))

  /**
   * Tumbling-window aggregate per event type: count + exact decimal mean.
   * Streaming: append-mode once the watermark passes the window end.
   */
  def windowedAgg(events: DataFrame, windowDur: String = "1 day",
                  wm: String = "1 hour"): DataFrame =
    watermarked(events, "ts", wm)
      .groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("sum_value"))

  /**
   * SLIDING-window aggregate per event type: each event lands in
   * windowDur/slide overlapping epoch-aligned windows (Spark's `window`
   * with a slide replicates the row per window before the aggregate — the
   * blow-up factor is the overlap count, bounded and explicit). State on a
   * stream is live-windows × groups; the watermark closes windows whose END
   * passed, so overlap widens the live set by the same bounded factor.
   * `windowDur` must be a multiple of `slide` (epoch-aligned grid — the
   * alignment the oracle replays with integer epoch arithmetic).
   *
   * @return (w_start BIGINT epoch seconds, event_type, n, sum_value)
   */
  /** Epoch-grid contract shared by every sliding operator here: windowDur
    * must be a POSITIVE month-free integer multiple of slide — the grid
    * the batch/oracle register-merge replays assume. Enforced at parse so
    * a bad grid is an error, not a silent batch/stream divergence. */
  private[graft] def requireEpochGrid(windowDur: String, slide: String): Unit = {
    def iv(sp: String) = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(sp))
    val (winIv, slideIv) = (iv(windowDur), iv(slide))
    def micros(i: org.apache.spark.unsafe.types.CalendarInterval): Long =
      i.days * 86400000000L + i.microseconds // months never enter the grid
    require(winIv.months == 0 && slideIv.months == 0 &&
      micros(winIv) > 0 && micros(slideIv) > 0 &&
      micros(winIv) % micros(slideIv) == 0,
      s"windowDur ($windowDur) must be a positive month-free multiple of " +
        s"slide ($slide) — the epoch-aligned grid the batch/oracle replay assumes")
  }

  def slidingWindowAgg(events: DataFrame, windowDur: String = "1 day",
                       slide: String = "6 hours", wm: String = "1 hour"): DataFrame = {
    requireEpochGrid(windowDur, slide)
    // second-rounding BEFORE the watermark/window keeps the streaming path
    // identical (the watermark then bounds the same rounded column the
    // window buckets) — see [[tsToOracleSecond]] for why sliding grids round
    watermarked(events.withColumn("ts", tsToOracleSecond(col("ts"))), "ts", wm)
      .groupBy(window(col("ts"), windowDur, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").cast("long").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))
  }

  /**
   * Windowed streaming HyperLogLog: maintains the HLL REGISTER table per
   * (tumbling window, groupCols) as ONE streaming aggregate — max(rank) is
   * monotone and commutative, so each micro-batch folds in with map-side
   * partial aggregation and state is bounded at ≤ live-windows × groups ×
   * 2^p rows regardless of how many distinct values stream past (the
   * property an exact streaming COUNT DISTINCT cannot have). The register
   * table IS the durable sketch: sink it per window and merge/estimate at
   * read time ([[graft.sketch.Sketches.hllMerge]]/[[graft.sketch.Sketches.hllEstimate]])
   * — at 100 TB the stream never holds raw values. Identical on batch
   * input (the oracle path). The sketch is [[graft.sketch.Sketches
   * .hllRegisters]] with the window as one more group column.
   */
  def windowedHllRegisters(events: DataFrame, groupCols: Seq[String], value: Column,
                           p: Int, windowDur: String = "1 day",
                           wm: String = "1 hour",
                           slide: Option[String] = None): DataFrame = {
    slide.foreach(requireEpochGrid(windowDur, _)) // same grid contract
    // a slide replicates each event into its windowDur/slide overlapping
    // windows before the max — state widens by the overlap factor, the
    // operator count does not (still ONE streaming aggregate)
    val w = slide.fold(window(col("ts"), windowDur))(s =>
      window(col("ts"), windowDur, s))
    // sliding grids bucket the second-rounded time ([[tsToOracleSecond]]);
    // tumbling windows keep the raw timestamp (date_trunc oracle semantics)
    val evIn = if (slide.isDefined)
      events.withColumn("ts", tsToOracleSecond(col("ts"))) else events
    windowStart(graft.sketch.Sketches.hllRegisters(
      windowed(evIn, w, wm), "__win" +: groupCols, value, p))
  }

  /** `events` watermarked on `ts`, with its `window` as the group column
    * `__win` — how a windowed sketch runs the batch sketch per window. */
  private def windowed(events: DataFrame, window: Column, wm: String): DataFrame =
    watermarked(events, "ts", wm).withColumn("__win", window)

  /** A per-window sketch table with `__win` replaced, in place, by its
    * start `w_start`. */
  private def windowStart(sketch: DataFrame): DataFrame =
    sketch.withColumn("__win", col("__win.start")).withColumnRenamed("__win", "w_start")

  /** Per-(window, groupCols) distinct estimate from [[windowedHllRegisters]].
    * The estimate is a SECOND aggregation, so on a stream run it at read
    * time over the sunk register table (one stateful operator per streaming
    * query); on batch input the whole chain is one plan. */
  def windowedHllDistinct(events: DataFrame, groupCols: Seq[String], value: Column,
                          p: Int, windowDur: String = "1 day",
                          wm: String = "1 hour",
                          slide: Option[String] = None): DataFrame =
    graft.sketch.Sketches.hllEstimate(
      windowedHllRegisters(events, groupCols, value, p, windowDur, wm, slide),
      "w_start" +: groupCols, p)

  /**
   * Windowed streaming Count-Min: the (j, bucket) → summed-weight table
   * per tumbling window as one streaming aggregate — sum is commutative,
   * so state is bounded at ≤ live-windows × d × w rows however many keys
   * stream past. The sunk table answers point-frequency/heavy-hitter
   * queries at read time ([[graft.sketch.Sketches.cmsLookup]] on the
   * window's slice; merge windows with [[graft.sketch.Sketches.cmsMerge]]).
   * Identical on batch input: [[graft.sketch.Sketches.cmsTable]]'s count
   * table with the window as a group column.
   */
  def windowedCmsTable(events: DataFrame, key: Column, weight: Column,
                       d: Int, w: Int, windowDur: String = "1 day",
                       wm: String = "1 hour"): DataFrame =
    windowStart(graft.sketch.Sketches.cmsCounts(
      windowed(events, window(col("ts"), windowDur), wm), Seq("__win"), key, weight, d, w))

  /**
   * Windowed streaming COUNTING Bloom filter: the (window, bit position) →
   * occurrence-count table as one summing streaming aggregate. The bit SET
   * is the group keys themselves (state ≤ live-windows × mBits rows no
   * matter how many values stream past); the counts upgrade it to a
   * counting Bloom for free (read-side deletions = decrement). Probe a
   * window's slice with [[graft.sketch.Sketches.bloomMightContain]] —
   * false negatives impossible within the window, same hash contract as
   * the batch filter so sketches built anywhere interoperate. Identical on
   * batch input (the oracle path).
   */
  def windowedBloomBits(events: DataFrame, value: Column, k: Int, mBits: Int,
                        windowDur: String = "1 day", wm: String = "1 hour"): DataFrame = {
    require(k >= 1 && mBits >= 2, s"Bloom needs k >= 1, mBits >= 2, got k=$k mBits=$mBits")
    watermarked(events, "ts", wm)
      .filter(value.isNotNull)
      .select(window(col("ts"), windowDur).as("w"),
        explode(array(graft.sketch.Sketches.saltedPositions(value, k, mBits): _*)).as("pos"))
      .groupBy(col("w"), col("pos"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("pos"), col("n"))
  }

  /**
   * Windowed streaming trend sums: the five classical least-squares sums
   * per (tumbling window, groupCols) as ONE streaming aggregate (all
   * DECIMAL-exact and combinable — [[graft.events.EventOps.trendSumAggs]],
   * so sums from any engine/pipeline merge identically). The sums table IS
   * the durable regression state: sink it per window and read
   * slope/intercept out with [[windowedTrend]]'s second aggregation-free
   * projection at query time. NULL x/y rows are ignored.
   */
  def windowedTrendSums(events: DataFrame, groupCols: Seq[String], x: Column,
                        y: Column, windowDur: String = "1 day",
                        wm: String = "1 hour"): DataFrame = {
    val aggs = graft.events.EventOps.trendSumAggs(x, y)
    watermarked(events, "ts", wm)
      .filter(x.isNotNull && y.isNotNull)
      .groupBy(window(col("ts"), windowDur).as("w") +: groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .select(col("w.start").as("w_start") +: groupCols.map(col)
        :+ col("n") :+ col("__sx") :+ col("__sy") :+ col("__sxy") :+ col("__sxx"): _*)
  }

  /** Per-(window, groupCols) slope/intercept from [[windowedTrendSums]].
    * The read-out is a stateless projection (not an aggregation), so the
    * whole chain is ONE stateful operator even on a stream. */
  def windowedTrend(events: DataFrame, groupCols: Seq[String], x: Column,
                    y: Column, windowDur: String = "1 day",
                    wm: String = "1 hour"): DataFrame =
    graft.events.EventOps.trendReadout(
      windowedTrendSums(events, groupCols, x, y, windowDur, wm),
      "w_start" +: groupCols)

  /**
   * Windowed streaming bottom-k sample: maintains ≤ k (md5-hash, value)
   * pairs per (tumbling window, groupCols) as ONE streaming aggregate —
   * the bottom-k insert/merge is a pure function of the SET of rows seen
   * (the shared hash coordinates partial samples), so the result is
   * deterministic under any partitioning and micro-batch split, and state
   * is bounded at ≤ live-windows × groups × k rows no matter how many rows
   * stream past. The sample table IS the durable quantile sketch: sink it
   * per window and read quantiles out with
   * [[graft.sketch.Sketches.sampleQuantiles]] (or merge windows with
   * [[graft.sketch.Sketches.sampleMerge]]). Identical on batch input:
   * [[graft.sketch.Sketches.bottomKSample]] with the window as one more
   * group column.
   */
  def windowedBottomKSample(events: DataFrame, groupCols: Seq[String], id: Column,
                            value: Column, k: Int, windowDur: String = "1 day",
                            wm: String = "1 hour"): DataFrame =
    windowStart(graft.sketch.Sketches.bottomKSample(
      windowed(events, window(col("ts"), windowDur), wm), "__win" +: groupCols, id, value, k))

  /** Per-(window, groupCols) quantile estimates from
    * [[windowedBottomKSample]]. The quantile read-out is a SECOND
    * aggregation, so on a stream run it at read time over the sunk sample
    * table (one stateful operator per streaming query); on batch input the
    * whole chain is one plan (the oracle path). */
  def windowedQuantiles(events: DataFrame, groupCols: Seq[String], id: Column,
                        value: Column, qs: Seq[Double], k: Int,
                        windowDur: String = "1 day", wm: String = "1 hour"): DataFrame =
    graft.sketch.Sketches.sampleQuantiles(
      windowedBottomKSample(events, groupCols, id, value, k, windowDur, wm),
      "w_start" +: groupCols, qs)

  /**
   * Windowed per-key counts: the (window, key) → exact count table as one
   * streaming aggregate. State is O(distinct keys in LIVE windows) —
   * watermark-bounded, independent of total history; when even the
   * live-window key set exceeds memory (e.g. raw URLs at 100 TB/day),
   * use [[windowedCmsTable]] instead and accept the overcount bound.
   * NULL keys are ignored. Identical on batch input.
   */
  def windowedKeyCounts(events: DataFrame, key: Column, windowDur: String = "1 day",
                        wm: String = "1 hour"): DataFrame =
    watermarked(events, "ts", wm)
      .filter(key.isNotNull)
      .groupBy(window(col("ts"), windowDur).as("w"), key.cast("string").as("k"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").as("w_start"), col("k"), col("cnt"))

  /**
   * Windowed EXACT φ-heavy hitters, φ = 1/s: per tumbling window, every
   * key whose count strictly exceeds N_window/s, with its exact count —
   * the streaming sibling of [[graft.sketch.Sketches.heavyHitters]]. The
   * count table ([[windowedKeyCounts]]) is THE streaming aggregate; the
   * per-window total + integer threshold (`cnt · s > N`) is a read-time
   * filter over the sunk table (a second aggregation — one stateful
   * operator per streaming query). The one-row-per-window totals side
   * broadcasts. Exact, deterministic, partitioning-independent — which is
   * what makes it oracle-checkable. On batch input the whole chain is one
   * plan.
   *
   * @return (w_start, outName = key as string, cnt), only rows with
   *         cnt · s > N_window
   */
  def windowedHeavyHitters(events: DataFrame, key: Column, s: Int,
                           windowDur: String = "1 day", wm: String = "1 hour",
                           outName: String = "key"): DataFrame = {
    require(s >= 1, s"heavy hitters needs s >= 1, got $s")
    val counts = windowedKeyCounts(events, key, windowDur, wm)
    val totals = counts.groupBy("w_start").agg(sum("cnt").as("__n"))
    counts.join(broadcast(totals), "w_start")
      .filter(col("cnt") * s > col("__n"))
      .select(col("w_start"), col("k").as(outName), col("cnt"))
  }

  /**
   * Gap-based session windows via the built-in `session_window` — the
   * declarative form of sessionization (merging windows within `gap`).
   * Works identically on batch and streaming input.
   */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
                       wm: String = "1 hour"): DataFrame =
    watermarked(events, "ts", wm)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))

  /**
   * Exactly-once dedup on a key set within the watermark horizon
   * (`dropDuplicatesWithinWatermark` on streams; plain dropDuplicates on
   * batch). State is bounded by the watermark — the streaming analogue of
   * [[graft.text.TextOps.dedupExact]].
   */
  def dedupStream(events: DataFrame, keys: Seq[String], wm: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", wm).dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
    else events.dropDuplicates(keys)

  /**
   * Dedup incoming rows against a STATIC historical corpus: left-anti join
   * on the key columns. On a stream this is a stream-static anti join —
   * STATELESS (the static side is re-read per micro-batch; nothing
   * accumulates in the state store), which makes it the incremental-ingest
   * complement of [[dedupStream]]: dedupStream bounds duplicates within the
   * watermark horizon, this drops anything history has already seen — the
   * streaming analogue of [[graft.text.TextOps.dedupExact]] against an
   * existing corpus. Identical code path on batch. At 100 TB the corpus
   * side should be a bucketed/partitioned fingerprint table so each
   * micro-batch probes, not scans.
   */
  def dedupAgainstCorpus(incoming: DataFrame, corpus: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(corpus.select(keys.map(col): _*).dropDuplicates(keys), keys, "left_anti")

  /** Per-row minhash band buckets: `numBands` STRING columns `bucket_b`.
    * The streaming-safe reformulation of the batch LSH banding
    * ([[graft.text.TextOps.minhashDedup]]): the per-doc min-aggregate over
    * exploded shingles becomes array_min over the row's OWN gram array —
    * identical values (min ignores duplicates), zero state, zero shuffle.
    * Hashes are md5 strings (not xxhash64) so an engine-independent oracle
    * reproduces every bucket; the ~2× hash cost is the contract price. */
  private def bandBucketCols(grams: Column, numHashes: Int,
                             bandRows: Int): Seq[Column] = {
    val sigs = (0 until numHashes).map(k =>
      array_min(transform(grams, g => Md5Draw.ofString(concat_ws(":", lit(k), g)))))
    (0 until numHashes / bandRows).map { b =>
      // a doc with NO grams (shorter than n words) gets a NULL bucket: a
      // null join key never matches, so gram-less docs neither drop nor
      // block anything (minhash over the empty set is undefined)
      when(size(grams) > 0, Md5Draw.ofString(concat_ws("|",
        (lit(b) +: (0 until bandRows).map(r => sigs(b * bandRows + r))): _*)))
        .as(s"bucket_$b")
    }
  }

  /**
   * NEAR-duplicate dedup of an incoming stream against a static historical
   * corpus — the LSH analogue of [[dedupAgainstCorpus]]'s exact-fingerprint
   * anti join. A document is dropped when ANY of its minhash band buckets
   * appears in the corpus (candidate-level contract: recall-oriented —
   * with numHashes=16/bandRows=4, a 0.9-similar pair collides in ≥1 band
   * w.p. ≈ 0.96; rare false-positive drops are the accepted dedup
   * trade-off, exactly as in batch LSH pipelines that skip the verify).
   *
   * Streaming legality is the design driver: the all-bands-miss condition
   * is per-document, but recombining exploded band rows would need a
   * stateful aggregation. Instead every band bucket is a per-row COLUMN
   * and survival is `numBands` chained stream-static LEFT ANTI joins —
   * each stateless, each probing one band's corpus bucket set. Identical
   * code path on batch. At 100 TB the corpus bucket table should be
   * bucketed by (band, bucket) so each micro-batch probes, not scans.
   */
  def nearDedupAgainstCorpus(incoming: DataFrame, corpus: DataFrame,
                             idCol: String, textCol: String,
                             n: Int = 5, numHashes: Int = 16,
                             bandRows: Int = 4): DataFrame = {
    require(numHashes % bandRows == 0)
    val numBands = numHashes / bandRows
    val shuffleP = corpus.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    // The md5 banding is the COMPUTE of this operator (numHashes hashes per
    // gram) — two things keep it parallel and single-pass:
    //  1. the gram array is PROJECTED once per row and every signature
    //     reads the projected column (inlining it would re-split the text
    //     numHashes times per row);
    //  2. both sides repartition BEFORE the banding projection — a small
    //     parquet corpus arrives as one partition, and the anti joins
    //     broadcast the bucket side, so nothing downstream would otherwise
    //     spread the hash work across cores (measured 29 s → 3 s at sf0.1).
    //     A stream keeps its micro-batch partitioning (no extra shuffle).
    def withBuckets(df: DataFrame): DataFrame = {
      val spread = if (df.isStreaming) df else df.repartition(shuffleP)
      val grams = graft.text.TextOps.gramArray(col(textCol), n)
      spread.withColumn("__grams", grams)
        .select(col("*") +: bandBucketCols(col("__grams"), numHashes, bandRows): _*)
        .drop("__grams")
    }
    // ONE corpus pass computes every band's buckets; the exploded
    // (band, bucket) set persists so each of the numBands anti joins probes
    // cached blocks instead of re-running the banding over the corpus per
    // band. On a stream the cache deliberately outlives the query (every
    // micro-batch probes it); on batch it releases after the first action.
    val corpusBuckets = withBuckets(corpus)
      .select(posexplode(array((0 until numBands).map(b => col(s"bucket_$b")): _*))
        .as(Seq("band", "bucket")))
      .filter(col("bucket").isNotNull).dropDuplicates()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val survivors = (0 until numBands).foldLeft(withBuckets(incoming)) { (df, b) =>
      df.join(corpusBuckets.filter(col("band") === b)
        .select(col("bucket").as(s"bucket_$b")), Seq(s"bucket_$b"), "left_anti")
    }
    val out = survivors.drop((0 until numBands).map(b => s"bucket_$b"): _*)
    if (incoming.isStreaming) out
    else graft.util.CacheLifecycle.releaseOnFirstAction(out, corpusBuckets)
  }

  /**
   * Stream-stream (or batch) interval join: right rows with the same key
   * whose time falls in `(left.time − windowSec, left.time]`. Right columns
   * come back prefixed `r_`.
   *
   * On streams both sides are watermarked and the time-range predicate is
   * exactly the bound Spark needs to size the join state (state retention =
   * watermark + window); on batch the watermark is a no-op and Catalyst
   * plans an equi-join on the key with the range as a residual filter —
   * a shuffle hash/sort-merge join, never a cross join.
   */
  def intervalJoin(left: DataFrame, right: DataFrame, key: String, time: String,
                   windowSec: Long, wm: String = "1 hour"): DataFrame = {
    val l = watermarked(left, time, wm)
    val r = watermarked(right, time, wm)
      .select(right.columns.map(c => col(c).as(s"r_$c")).toSeq: _*)
    l.join(r,
      col(key) === col(s"r_$key") &&
      col(s"r_$time") > col(time) - expr(s"INTERVAL $windowSec SECOND") &&
      col(s"r_$time") <= col(time))
  }

  /**
   * Custom-state sessionization with `flatMapGroupsWithState` — the escape
   * hatch for session logic `session_window` can't express (here: emit the
   * session only when it closes, carrying sum/count). Event-time timeout =
   * watermark-driven state eviction.
   *
   * In batch mode Spark runs the same function once per key with a
   * never-firing timeout, so sessions are closed by the end-of-group flush.
   */
  def sessionizeStateful(events: Dataset[GEvent], gapSeconds: Long): Dataset[GSession] = {
    val spark = events.sparkSession
    import spark.implicits._
    val streaming = events.isStreaming

    def close(uid: Long, s: SessState): GSession =
      GSession(uid, new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs),
        s.n, s.sum)

    val fn: (Long, Iterator[GEvent], GroupState[SessState]) => Iterator[GSession] =
      (uid, it, state) => {
        if (state.hasTimedOut) {
          val out = state.getOption.map(close(uid, _)).iterator
          state.remove()
          out
        } else {
          val evs = it.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption
          val closed = Seq.newBuilder[GSession]
          evs.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(s) if t - s.lastMs <= gapSeconds * 1000 =>
                cur = Some(SessState(s.startMs, math.max(s.lastMs, t), s.n + 1, s.sum + e.value))
              case Some(s) =>
                closed += close(uid, s)
                cur = Some(SessState(t, t, 1, e.value))
              case None =>
                cur = Some(SessState(t, t, 1, e.value))
            }
          }
          cur.foreach { s =>
            state.update(s)
            if (streaming)
              // timeout must be strictly past the current watermark
              state.setTimeoutTimestamp(
                math.max(s.lastMs + gapSeconds * 1000, state.getCurrentWatermarkMs() + 1))
          }
          // batch mode: no timeout will ever fire — flush the open session
          val tail = if (streaming) Iterator.empty else {
            val t = cur.map(close(uid, _)).iterator; state.remove(); t
          }
          closed.result().iterator ++ tail
        }
      }

    val src = if (events.isStreaming) events.withWatermark("ts", "1 hour") else events
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /**
   * Streaming SCD2 (CDC → dimension history): maintain each key's OPEN
   * version in `flatMapGroupsWithState` state and emit a version row the
   * moment a change CLOSES it — the incremental sibling of
   * [[graft.events.EventOps.scd2]], with the same run-collapse, tie-break,
   * and version-numbering semantics.
   *
   * Emission contract: a stream (append mode) emits CLOSED versions only —
   * the open row lives in state until its successor arrives (current rows
   * are a state snapshot, not sink rows). In BATCH mode the end-of-group
   * flush emits the open row too, so the batch output is exactly
   * `EventOps.scd2` (the oracle path; equality property-tested).
   *
   * Ordering contract (same as [[graft.events.EventOps.scd2Apply]]): events
   * are sorted within each micro-batch, but across batches each key's
   * changes must arrive in (ts, event_id) order — the per-key ordering a
   * CDC log gives. A change at or before the open version raises rather
   * than silently mis-ordering history. State is ONE row per key —
   * bounded by key cardinality, not history length.
   */
  def scd2Stream(events: Dataset[GEvent]): Dataset[GScd2] = {
    val spark = events.sparkSession
    import spark.implicits._
    val streaming = events.isStreaming
    val fn: (Long, Iterator[GEvent], GroupState[Scd2State]) => Iterator[GScd2] =
      (uid, it, state) => {
        val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var cur = state.getOption
        val out = Seq.newBuilder[GScd2]
        evs.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t < s.fromMs || (t == s.fromMs && e.event_id <= s.tieBreak) =>
              throw new IllegalStateException(
                s"scd2Stream: out-of-order change for key $uid at $t (open version from ${s.fromMs})")
            case Some(s) if s.attr == e.event_type => // same run: absorb
            case Some(s) =>
              out += GScd2(uid, s.attr, s.fromMs, Some(t), is_current = false, s.ver)
              cur = Some(Scd2State(e.event_type, t, e.event_id, s.ver + 1))
            case None =>
              cur = Some(Scd2State(e.event_type, t, e.event_id, 1L))
          }
        }
        cur.foreach(state.update)
        if (streaming) out.result().iterator
        else {
          // batch flush: the open version renders as the current row
          val tail = cur.map(s =>
            GScd2(uid, s.attr, s.fromMs, None, is_current = true, s.ver)).iterator
          state.remove()
          out.result().iterator ++ tail
        }
      }
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(fn)
  }

  /**
   * Continuous ingestion into the partitioned lake layout: every micro-batch
   * lands through [[graft.sources.Writer.writePartitioned]] under
   * `path/batch_id=N/`, so each batch keeps the same pruning/file-count/
   * sort guarantees as the batch sink AND the directory is idempotent under
   * replay — a restarted query overwrites its own batch directory instead
   * of duplicating rows (the classic exactly-once-to-files device
   * `foreachBatch` exists for; Spark's own file sink gets this from its
   * transaction log, but then the layout can't repartition per batch).
   * Downstream readers see one more partition column, `batch_id`.
   *
   * @return the started query (caller manages its lifecycle)
   */
  def writePartitionedStream(stream: DataFrame, path: String, partitionCols: Seq[String],
                             checkpoint: String, sortCols: Seq[String] = Nil)
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Writer.writePartitioned(
          batch, s"$path/batch_id=$batchId", partitionCols, sortCols = sortCols)
      }
      .start()

  /**
   * Incremental GRAPH ingestion: a stream of edge rows (src, dst, etype
   * [, props…]) lands in an append-only parquet lake, one directory per
   * micro-batch — idempotent (a replayed batch OVERWRITES its own
   * directory, never duplicates) and non-blocking (writers never touch a
   * base snapshot; the reference's ConcurrentDirectedGraph serializes
   * writers through one JVM lock — here ingestion and reads share nothing
   * but the lake listing). [[loadIngested]] assembles the CURRENT graph =
   * base + every landed increment as a fresh immutable GraphDB — the
   * batch-mutation contract ([[graft.GraphDB.addEdges]]) fed by a stream.
   */
  def ingestEdges(edges: DataFrame, lakePath: String,
                  checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    edges.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$lakePath/batch_id=$batchId")
      }
      .start()

  /** Base graph + all edge increments landed in `lakePath` (empty lake →
    * the base unchanged), appended through [[graft.GraphDB.addEdges]]. Each
    * call reads the CURRENT listing — a new GraphDB per refresh, whose stats
    * are one full recompute on first plan. */
  def loadIngested(spark: SparkSession, base: graft.graph.PropertyGraph,
                   lakePath: String): graft.GraphDB = {
    val dirs = new java.io.File(lakePath).listFiles()
    if (dirs == null || dirs.isEmpty) new graft.GraphDB(base)
    else {
      val inc = spark.read.parquet(lakePath).drop("batch_id")
      new graft.GraphDB(base).addEdges(inc)
    }
  }

  /**
   * Streaming bounded-lookback EWMA: one smoothed value PER EVENT, with the
   * last `lookback − 1` values per key as the whole state — the incremental
   * sibling of [[graft.events.EventOps.ewma]], emitting identical numbers
   * on the same in-order input (the fold runs in the same fixed order with
   * the same exact 2^-k weights, then the same HALF_UP round-to-6).
   *
   * Contracts: per-key EVENT-TIME ORDER across micro-batches (the same
   * in-order-arrival contract as [[sessionizeStateful]]'s cross-batch
   * sessions; within a batch rows sort by (ts, event_id)); state is
   * O(keys × lookback) and idle keys purge `idleMs` past the watermark —
   * a purge merely truncates that key's smoothing history, it cannot
   * corrupt it (the next event restarts the window, exactly like a key's
   * first event).
   */
  def ewmaStateful(events: Dataset[GEvent], alpha: Double = 0.5,
                   lookback: Int = 8, wm: String = "1 hour",
                   idleMs: Long = 86400000L): Dataset[GEwma] = {
    require(lookback >= 1 && alpha > 0 && alpha <= 1,
      s"need lookback >= 1 and alpha in (0, 1], got $lookback, $alpha")
    val spark = events.sparkSession
    import spark.implicits._
    val streaming = events.isStreaming
    val weights = Array.tabulate(lookback)(k => math.pow(1 - alpha, k))
    val fn: (Long, Iterator[GEvent], GroupState[EwmaState]) => Iterator[GEwma] =
      (uid, it, state) => {
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var recent = state.getOption.map(_.recent).getOrElse(Seq.empty)
          val out = evs.map { e =>
            // vals(k) = k-th previous value, k = 0 the event itself —
            // folded 0..lookback-1 with 0.0 for missing lags, the exact
            // term order of the batch expression
            val vals = e.value +: recent
            var num = 0.0; var den = 0.0
            var k = 0
            while (k < lookback) {
              if (k < vals.length) { num += weights(k) * vals(k); den += weights(k) }
              else { num += 0.0; den += 0.0 }
              k += 1
            }
            val ewma = BigDecimal(num / den)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            recent = (e.value +: recent).take(lookback - 1)
            GEwma(e.event_id, uid, ewma)
          }
          if (streaming) {
            state.update(EwmaState(recent))
            state.setTimeoutTimestamp(math.max(
              evs.last.ts.getTime + idleMs, state.getCurrentWatermarkMs() + 1))
          } else state.remove()
          out.iterator
        }
      }
    val src = if (streaming) events.withWatermark("ts", wm) else events
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }

  /**
   * Streaming ordered funnel: each key's furthest stage through `steps`,
   * maintained as TWO ints of state (stage reached, time it was reached) —
   * the incremental sibling of [[graft.events.EventOps.funnel]] with
   * identical first-occurrence-chain semantics (stage i advances on the
   * first step-i event STRICTLY after stage i−1's time, optionally within
   * `maxGapMs`); a sequential in-order scan reaches exactly the min-time
   * chain the batch fold computes, so the batch paths agree row-for-row.
   *
   * Emission: a stream (append) emits one (key, stage) row per ADVANCE —
   * the funnel dashboard's increment feed; batch emits one FINAL row per
   * key (stage 0 included, matching the batch funnel's contract). Same
   * in-order-arrival and idle-purge contracts as [[ewmaStateful]].
   */
  def funnelStateful(events: Dataset[GEvent], steps: Seq[String],
                     maxGapMs: Long = Long.MaxValue, wm: String = "1 hour",
                     idleMs: Long = 86400000L): Dataset[GFunnelStage] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val spark = events.sparkSession
    import spark.implicits._
    val streaming = events.isStreaming
    val fn: (Long, Iterator[GEvent], GroupState[FunnelState]) => Iterator[GFunnelStage] =
      (uid, it, state) => {
        if (state.hasTimedOut) { state.remove(); Iterator.empty }
        else {
          val evs = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val advances = Seq.newBuilder[GFunnelStage]
          evs.foreach { e =>
            if (st.stage < steps.length && e.event_type == steps(st.stage)) {
              val t = e.ts.getTime
              val ok = st.stage == 0 ||
                (t > st.lastMs && (maxGapMs == Long.MaxValue || t - st.lastMs <= maxGapMs))
              if (ok) {
                st = FunnelState(st.stage + 1, t)
                advances += GFunnelStage(uid, st.stage)
              }
            }
          }
          if (streaming) {
            state.update(st)
            state.setTimeoutTimestamp(math.max(
              evs.last.ts.getTime + idleMs, state.getCurrentWatermarkMs() + 1))
            advances.result().iterator
          } else {
            state.remove()
            Iterator.single(GFunnelStage(uid, st.stage))
          }
        }
      }
    val src = if (streaming) events.withWatermark("ts", wm) else events
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(fn)
  }
}
