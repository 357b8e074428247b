package graft.events

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Md5Draw

/**
 * Temporal operators over event streams (batch forms; streaming variants in
 * graft.streaming). No reference analogue — the reference's only temporal
 * aspect is its insert-time stats fibers; these are the standard
 * event-pipeline operators a Spark engine is expected to ship.
 */
object EventOps {

  /**
   * As-of join: for each left row, the nearest right row with the same key —
   * backward (latest rightTime ≤ leftTime, the default) or `forward`
   * (earliest rightTime ≥ leftTime), optionally bounded by
   * `toleranceMillis` (a match farther than the tolerance yields null, the
   * pandas merge_asof contract).
   *
   * Implemented as the union-merge trick: tag both sides, sort within key by
   * time (reversed for forward), and carry the last-seen right row with a
   * running window — one shuffle by key, no range cross-join, skew-safe
   * under AQE. This is the scalable shape for 100 TB (a per-key sort-merge,
   * same cost class as a sort-merge join); tolerance is a post-mask, not a
   * range join.
   */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, time: String,
               rightCols: Seq[String], forward: Boolean = false,
               toleranceMillis: Option[Long] = None): DataFrame = {
    require(!rightCols.contains("__t"),
      "asofJoin: the carried-struct field name __t is reserved")
    val lp = left.columns.filterNot(c => c == key || c == time)
    // ONE struct carries the matched right ROW (its timestamp + every
    // rightCol together). Carrying each column through its own
    // last(ignoreNulls) would tear values across DIFFERENT right rows the
    // moment any right column holds a null — pandas merge_asof (the
    // documented contract) takes all columns, nulls included, from the
    // single nearest row, and the tolerance mask must test THAT row's time.
    val rowStruct = struct(
      (col(time).as("__t") +: rightCols.map(c => col(c).as(c))): _*)
    val l = left.select(
      Seq(col(key), col(time)) ++ lp.map(col) :+
        lit(null).cast(right.select(rowStruct).schema.head.dataType).as("__r_row") :+
        lit(1).as("__side"): _*)
    val r = right.select(
      Seq(col(key), col(time)) ++
        lp.map(c => lit(null).cast(left.schema(c).dataType).as(c)) :+
        rowStruct.as("__r_row") :+
        lit(0).as("__side"): _*)
    // right rows sort before left rows at the same timestamp (side 0 < 1):
    // an exactly-simultaneous right row IS visible to the left row, in
    // either direction (≤ / ≥ are both inclusive).
    val ord = if (forward) col(time).desc else col(time).asc
    val w = Window.partitionBy(key).orderBy(ord, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(r)
      .withColumn("__last", last(col("__r_row"), ignoreNulls = true).over(w))
    val withinTol = toleranceMillis match {
      case Some(tol) =>
        abs(unix_millis(col(time)) - unix_millis(col("__last").getField("__t"))) <= tol
      case None => lit(true)
    }
    carried.filter(col("__side") === 1)
      .select(Seq(col(key), col(time)) ++ lp.map(col) ++
        rightCols.map(c => when(withinTol, col("__last").getField(c)).as(s"asof_$c")): _*)
  }

  /**
   * Time-range join: every (left, right) pair sharing `key` whose
   * timestamps differ by at most `deltaMillis`. The naive form is an
   * inequality theta-join — a per-key cross product that explodes on hot
   * keys. This is the binned decomposition instead: each side buckets its
   * timestamp into delta-width bins; any qualifying pair's bins differ by
   * at most 1, so the LEFT side expands to its bin and both neighbors
   * (a fixed 3× of one side, not |L|·|R|) and the join becomes an
   * EQUI-join on (key, bin) with the exact |Δt| ≤ delta post-filter.
   * Each right row owns exactly one bin and the three probed bins are
   * distinct, so no pair is emitted twice — no dedup pass.
   *
   * At 100 TB this is a plain shuffled (or AQE-skew-split) hash join whose
   * fan-out is bounded by real temporal co-occurrence, never the full
   * per-key history square. Timestamps are epoch-positive by contract
   * (long floor-division buckets; pre-1970 data would need floor, not
   * truncate-toward-zero).
   *
   * @return left row (key, leftTime, left payload…) ++ rightCols renamed
   *         `r_<col>` ++ `r_<rightTime>`
   */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String,
                leftTime: String, rightTime: String, deltaMillis: Long,
                rightCols: Seq[String]): DataFrame = {
    require(deltaMillis > 0, s"deltaMillis must be > 0, got $deltaMillis")
    val lp = left.columns.filterNot(_ == key)
    val l = left.select(col(key) +: lp.map(col): _*)
      .withColumn("__bin0", floor(unix_millis(col(leftTime)) / deltaMillis).cast("long"))
      .withColumn("__bin", explode(array(col("__bin0") - 1, col("__bin0"), col("__bin0") + 1)))
      .drop("__bin0")
    val r = right.select(col(key) +:
        (rightCols.map(c => col(c).as(s"r_$c")) :+ col(rightTime).as(s"r_$rightTime")): _*)
      .withColumn("__bin", floor(unix_millis(col(s"r_$rightTime")) / deltaMillis).cast("long"))
    l.join(r, Seq(key, "__bin"))
      .filter(abs(unix_millis(col(leftTime)) - unix_millis(col(s"r_$rightTime"))) <= deltaMillis)
      .drop("__bin")
  }

  /**
   * Ordered funnel analysis: the furthest stage each key reached walking
   * `steps` in order — stage i counts only if an event of step i occurred
   * STRICTLY AFTER the time stage i−1 was first reached (the standard
   * product-analytics funnel contract; simultaneous events don't advance).
   *
   * One filtered min-aggregation per step (k passes for a k-step funnel,
   * k is small and static), each a combinable groupBy joined back on the
   * key — no window over the whole event history, no per-key sort. Keys
   * that never reached step 1 report stage 0.
   *
   * `maxGapMs` adds the CONVERSION-WINDOW constraint: stage i must occur
   * within that many ms of the time stage i−1 was reached. Semantics stay
   * first-occurrence-chain (each stage = the EARLIEST qualifying hit); a
   * later stage-1 hit that would have enabled a within-gap stage 2 does
   * not resurrect the funnel — deterministic and one-pass, the documented
   * trade against ClickHouse-style any-chain windowFunnel.
   *
   * @return (key, stage INT, step_1_ts .. step_k_ts TIMESTAMP nullable)
   */
  def funnel(events: DataFrame, key: String, time: String, typeCol: String,
             steps: Seq[String], maxGapMs: Long = Long.MaxValue): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(maxGapMs > 0, s"maxGapMs must be positive, got $maxGapMs")
    val keys = events.select(col(key)).distinct()
    // fold: stage times accumulate as columns __t1..__tk
    val staged = steps.zipWithIndex.foldLeft(keys) { case (acc, (step, i)) =>
      val prev = if (i == 0) None else Some(s"__t$i")
      val hits = prev match {
        case None =>
          events.filter(col(typeCol) === step)
            .groupBy(col(key)).agg(min(col(time)).as(s"__t${i + 1}"))
        case Some(pcol) =>
          val within =
            if (maxGapMs == Long.MaxValue) lit(true)
            else unix_millis(col(time)) - unix_millis(col(pcol)) <= maxGapMs
          events.filter(col(typeCol) === step)
            .join(acc.select(col(key), col(pcol)), Seq(key))
            .filter(col(time) > col(pcol) && within)
            .groupBy(col(key)).agg(min(col(time)).as(s"__t${i + 1}"))
      }
      acc.join(hits, Seq(key), "left")
    }
    // fold ascending so the HIGHEST reached stage's check ends up outermost
    val stage = steps.indices.foldLeft(lit(0)) { (els, i) =>
      when(col(s"__t${i + 1}").isNotNull, lit(i + 1)).otherwise(els)
    }
    staged.select(
      col(key) +: stage.as("stage") +:
        steps.indices.map(i => col(s"__t${i + 1}").as(s"step${i + 1}_ts")): _*)
  }

  /**
   * Cohort retention: users grouped by first-activity day, the count and
   * fraction still active k days later — the standard growth-analytics
   * rollup. Three combinable aggregations (first-activity per user, distinct
   * active days per user, cohort sizes) and one broadcastable join; nothing
   * is per-event after the first distinct, so the shape is user-bounded
   * regardless of event volume.
   *
   * @return (cohort DATE, k INT days since cohort, n_active BIGINT,
   *         retention DOUBLE rounded to 6) ordered semantics-free
   */
  def retention(events: DataFrame, userCol: String, tsCol: String): DataFrame = {
    val day = to_date(col(tsCol))
    // a null timestamp is no activity: without the filter it survives the
    // distinct as (user, p = null) and emits a nonsense (cohort, k = null)
    // output row (min() already ignores nulls on the cohort side)
    val evs = events.filter(col(tsCol).isNotNull)
    val first = evs.groupBy(col(userCol)).agg(min(day).as("cohort"))
    val activeDays = evs.select(col(userCol), day.as("p")).distinct()
    val act = activeDays.join(first, Seq(userCol))
      .select(col("cohort"), datediff(col("p"), col("cohort")).as("k"))
      .groupBy("cohort", "k").agg(count(lit(1)).as("n_active"))
    // cohort size ≡ the k=0 row (a user's first-activity day is by
    // definition an active day), so sizes derive from `act` itself — no
    // third pass over the event table
    val sizes = act.filter(col("k") === 0)
      .select(col("cohort"), col("n_active").as("n_users"))
    act.join(broadcast(sizes), Seq("cohort"))
      .select(col("cohort"), col("k"), col("n_active"),
        round(col("n_active") / col("n_users"), 6).as("retention"))
  }

  /**
   * Gap-based sessionization: a new session starts when the gap to the
   * previous event of the same key exceeds `gapSeconds`.
   * @return input rows + session_id (per-key ordinal, 1-based)
   */
  def sessionize(events: DataFrame, key: String, time: String, gapSeconds: Long): DataFrame = {
    val byKey = Window.partitionBy(key).orderBy(col(time))
    events
      .withColumn("__prev", lag(col(time), 1).over(byKey))
      // unix_millis, not unix_timestamp: second truncation silently merged
      // sessions whose true gap exceeded gapSeconds by under a second —
      // the rest of the file works in milliseconds
      .withColumn("__new", when(col("__prev").isNull ||
        unix_millis(col(time)) - unix_millis(col("__prev")) > gapSeconds * 1000L, 1)
        .otherwise(0))
      .withColumn("session_id", sum(col("__new")).over(
        byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__prev", "__new")
  }

  /**
   * Slowly-changing-dimension type-2 build: collapse a change log
   * (key, time, attrs…) into versioned validity ranges — one row per run of
   * consecutive identical attribute values per key, with
   * `valid_from_ms`/`valid_to_ms` (null = still current), `is_current`, and
   * a 1-based `version` ordinal. The lakehouse dimension-history primitive:
   * replaying the full change log through this yields the same table an
   * incremental MERGE-based SCD2 pipeline maintains.
   *
   * Change detection is NULL-SAFE (`<=>` over the attr struct) and
   * deterministic under duplicate timestamps via the caller-named
   * `tieBreak` column (a unique change id).
   *
   * Scale shape: ONE shuffle on `key`, then two window passes over the
   * key-sorted rows (detect runs; number the survivors) — the same cost
   * class as sessionize/as-of, skew-safe under AQE. No self-join, no
   * driver-side state.
   *
   * @return (key, attrs…, valid_from_ms, valid_to_ms, is_current, version)
   */
  def scd2(changes: DataFrame, key: String, time: String, attrs: Seq[String],
           tieBreak: String): DataFrame = {
    require(attrs.nonEmpty, "scd2 needs at least one tracked attribute")
    val byKey = Window.partitionBy(key).orderBy(col(time), col(tieBreak))
    val attrStruct = struct(attrs.map(col): _*)
    val runs = changes
      .withColumn("__prev", lag(attrStruct, 1).over(byKey))
      // first row per key: lag = NULL, <=> = false → a new run. NULL attr
      // values compare equal to themselves (a null→null "change" is no
      // change), which is what the struct <=> gives for free.
      .filter(!(col("__prev") <=> attrStruct))
    val byFrom = byKey // same (key, time, tieBreak) ordering as run detection
    runs
      .withColumn("valid_from_ms", unix_millis(col(time)))
      .withColumn("valid_to_ms", lead(col("valid_from_ms"), 1).over(byFrom))
      .withColumn("is_current", col("valid_to_ms").isNull)
      .withColumn("version", row_number().over(byFrom).cast("long"))
      .select(col(key) +: attrs.map(col) :+ col("valid_from_ms")
        :+ col("valid_to_ms") :+ col("is_current") :+ col("version"): _*)
  }

  /**
   * Exact per-group least-squares trend: slope/intercept of y over x from
   * the five classical sums — n, Σx, Σy, Σxy, Σx² — accumulated in DECIMAL
   * (exact, partition-order-free), with ONE double expression at the end.
   * The drift-detection primitive ("is quality decaying over time?") as a
   * single combinable aggregation: map-side partials, one shuffle of
   * 5-number summaries per group, deterministic to the bit — which makes
   * it oracle-checkable where a float-summing regression would drift.
   * Degenerate groups (all x equal) yield NULL slope/intercept. NULL x/y
   * rows are ignored.
   *
   * @param x integer-valued column (e.g. days since an epoch — keep its
   *          magnitude small; the determinism contract is exact Σx² in
   *          DECIMAL(38,0))
   * @return (groupCols…, n, slope, intercept) — rounded to 6
   */
  def trend(df: DataFrame, groupCols: Seq[String], x: Column, y: Column): DataFrame = {
    val aggs = trendSumAggs(x, y)
    trendReadout(
      df.filter(x.isNotNull && y.isNotNull)
        .groupBy(groupCols.map(col): _*)
        .agg(aggs.head, aggs.tail: _*),
      groupCols)
  }

  /** The five classical-sum aggregate columns (n, Σx, Σy, Σxy, Σx² — all
    * DECIMAL-exact, combinable) — shared with the streaming windowed trend
    * so sums built anywhere read out identically. */
  private[graft] def trendSumAggs(x: Column, y: Column): Seq[Column] = {
    val xl = x.cast("long")
    Seq(count(lit(1)).as("n"),
      sum(xl.cast("decimal(38,0)")).as("__sx"),
      sum(y.cast("decimal(28,10)")).as("__sy"),
      sum((xl * y).cast("decimal(38,10)")).as("__sxy"),
      sum((xl * xl).cast("decimal(38,0)")).as("__sxx"))
  }

  /** slope/intercept read-out over a trend-sums table (the ONE double
    * expression; NULL on degenerate groups). */
  private[graft] def trendReadout(sums: DataFrame, keyCols: Seq[String]): DataFrame = {
    val sxd = col("__sx").cast("double")
    val syd = col("__sy").cast("double")
    val den = col("n") * col("__sxx").cast("double") - sxd * sxd
    val sl = when(den =!= 0, (col("n") * col("__sxy").cast("double") - sxd * syd) / den)
    sums.select(keyCols.map(col) :+ col("n")
      :+ round(sl, 6).as("slope")
      :+ round((syd - sl * sxd) / col("n"), 6).as("intercept"): _*)
  }

  /**
   * Incremental SCD2 merge: fold a NEW batch of change rows into an
   * existing history (the output of [[scd2]] or a previous apply) without
   * rebuilding from the full log. The maintained invariant (property-tested
   * in EventOpsSpec and oracle-checked as `scd2_apply`):
   * `scd2Apply(scd2(log ≤ T), key…)(log > T) == scd2(whole log)` —
   * bit-for-bit, versions included.
   *
   * Contract: every change is STRICTLY later than its key's current
   * `valid_from_ms`. Violations raise at execution (the check is folded
   * into a load-bearing column so Catalyst cannot prune it) — out-of-order
   * arrivals need a rebuild of the affected keys, silently mis-ordering
   * them would corrupt the history.
   *
   * Scale shape: [[scd2]] runs over the DELTA only; the history
   * contributes one filtered pass (closed rows ride through untouched —
   * never shuffled) plus a key join of its current slice against the
   * delta's first runs. At 100 TB this is the difference between touching
   * a day's changes and re-sorting years of log.
   */
  def scd2Apply(history: DataFrame, changes: DataFrame, key: String, time: String,
                attrs: Seq[String], tieBreak: String): DataFrame = {
    val attrStruct = struct(attrs.map(col): _*)
    val cur = history.filter(col("is_current"))
    val curInfo = cur.select(col(key), attrStruct.as("__cur_attrs"),
      col("valid_from_ms").as("__cur_from"), col("version").as("__cur_ver"))
    val delta0 = scd2(changes, key, time, attrs, tieBreak)
      .withColumnRenamed("version", "__dver")
      .join(curInfo, Seq(key), "left")
    // ordering contract: assert_true rides INSIDE valid_from_ms so the
    // check executes whenever the result does
    val delta = delta0.withColumn("valid_from_ms",
      col("valid_from_ms") + coalesce(assert_true(
        col("__cur_from").isNull || col("valid_from_ms") > col("__cur_from"),
        concat(lit("scd2Apply: change at or before the current version for key "),
          col(key).cast("string"))).cast("long"), lit(0L)))
    // the delta's FIRST run absorbs into the open current row when the
    // attrs are (null-safely) unchanged — no new version, and the current
    // row closes only when a LATER delta run supersedes it
    val absorbed = col("__dver") === lit(1L) && col("__cur_attrs").isNotNull &&
      (attrStruct <=> col("__cur_attrs"))
    val firstInfo = delta.filter(col("__dver") === 1)
      .select(col(key), col("valid_from_ms").as("__f_from"),
        col("valid_to_ms").as("__f_to"), absorbed.as("__abs"))
    val curUpdated = cur.join(firstInfo, Seq(key), "left")
      .withColumn("valid_to_ms",
        when(col("__f_from").isNull, col("valid_to_ms")) // no delta for this key
          .when(col("__abs"), col("__f_to"))  // absorbed: close at its successor (if any)
          .otherwise(col("__f_from")))        // changed: close at the first new run
      .withColumn("is_current", col("valid_to_ms").isNull)
      .drop("__f_from", "__f_to", "__abs")
    val deltaOut = delta
      .withColumn("__absk", max(when(absorbed, 1).otherwise(0))
        .over(Window.partitionBy(key)))
      .filter(!absorbed)
      .withColumn("version",
        coalesce(col("__cur_ver"), lit(0L)) + col("__dver") - col("__absk"))
      .select(col(key) +: attrs.map(col) :+ col("valid_from_ms")
        :+ col("valid_to_ms") :+ col("is_current") :+ col("version"): _*)
    history.filter(!col("is_current"))
      .unionByName(curUpdated)
      .unionByName(deltaOut)
  }

  /**
   * Equi-width histogram per group: bucket = ⌊(v − min)/width⌋ against the
   * GROUP's own min/max (a per-group aggregate broadcast back — the
   * histogram the profiler/monitor draws). The max lands in the last
   * bucket (clamped), so exactly `buckets` buckets span [min, max]. One
   * stats aggregate + one counting aggregate; no sort.
   *
   * @return (groupCols…, bucket INT, lo DOUBLE, hi DOUBLE, n BIGINT)
   */
  def histogram(df: DataFrame, groupCols: Seq[String], value: Column,
                buckets: Int = 10): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val v = value.cast("double")
    val stats = df.filter(v.isNotNull).groupBy(groupCols.map(col): _*)
      .agg(min(v).as("__lo"), max(v).as("__hi"))
    val width = (col("__hi") - col("__lo")) / buckets
    val raw = floor((v - col("__lo")) / width).cast("int")
    val b = when(col("__hi") === col("__lo"), lit(0))
      .otherwise(least(raw, lit(buckets - 1)))
    df.filter(v.isNotNull).join(broadcast(stats), groupCols)
      .withColumn("bucket", b)
      .groupBy((groupCols :+ "bucket").map(col): _*)
      .agg(count(lit(1)).as("n"),
        round(first(col("__lo") + col("bucket") * width), 6).as("lo"),
        round(first(col("__lo") + (col("bucket") + 1) * width), 6).as("hi"))
      .select((groupCols :+ "bucket").map(col) :+ col("lo") :+ col("hi") :+ col("n"): _*)
  }

  /**
   * Trailing-window active users (DAU/WAU-style): per observed day, the
   * exact distinct-user count for that day and for the trailing `windowDays`
   * window. The per-(user, day) distinct happens FIRST (event volume
   * collapses to user-days), then each user-day fans out to the windows it
   * feeds — the replicate-then-distinct shape that keeps the expensive
   * distinct on the small relation. Swap the exact distinct for the
   * per-day HLL register merge ([[graft.sketch.Sketches.hllSlidingDistinct]])
   * when user-days stop fitting.
   *
   * @return (day DATE, dau BIGINT, windowed BIGINT) for observed days only
   */
  def activeUsers(df: DataFrame, userCol: String, tsCol: String,
                  windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val ud = df.filter(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), col(tsCol).cast("date").as("day")).distinct()
    // ud is already distinct on (__u, day): a plain count equals the
    // distinct count without the second dedup pass
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud.withColumn("__o", explode(sequence(lit(0), lit(windowDays - 1))))
      .select(date_add(col("day"), col("__o")).as("day"), col("__u"))
      .groupBy("day").agg(countDistinct(col("__u")).as("windowed"))
    dau.join(wau, Seq("day"))
  }

  /**
   * Robust anomaly flags — the median/MAD upgrade of the mean/stddev
   * z-score (which an anomaly itself corrupts: one 10⁶ outlier inflates σ
   * until nothing else flags). Two exact-percentile passes (median, then
   * median of |v − med|) and a broadcast join back — per-group stats are
   * group-count-sized, the fact side never shuffles twice. Score =
   * |v − med| / (1.4826·MAD), flag at > `k`; MAD = 0 groups (constant
   * values) flag any deviation.
   *
   * @return (input columns…, robust_z DOUBLE rounded 6, is_anomaly)
   */
  def robustAnomalies(df: DataFrame, groupCols: Seq[String], value: String,
                      k: Double = 3.5): DataFrame = {
    val v = col(value).cast("double")
    val med = df.filter(v.isNotNull).groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile(`$value`, 0.5)").as("__med"))
    val dev = df.join(broadcast(med), groupCols)
      .filter(v.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile(abs(`$value` - __med), 0.5)").as("__mad"))
    val stats = med.join(dev, groupCols)
    val z = abs(v - col("__med")) / (lit(1.4826) * col("__mad"))
    // LEFT join: a group with no stats (all-null values) or a null group
    // key must come back with null flags, not silently vanish — "input
    // columns + flags" means the row count is preserved
    df.join(broadcast(stats), groupCols, "left")
      .withColumn("robust_z",
        round(when(col("__mad") > 0, z), 6))
      .withColumn("is_anomaly",
        when(col("__mad") > 0, z > k).otherwise(abs(v - col("__med")) > 0))
      .drop("__med", "__mad")
  }

  /**
   * Staircase-exponential decayed counts — the "trending now" aggregate:
   * each event contributes 2^(−⌊age/halfLife⌋) at the reference instant
   * (the corpus max timestamp, riding the plan as a broadcast singleton).
   * The STAIRCASE (integer exponents) is deliberate: every weight is an
   * exact binary fraction, so the per-group double sum is EXACT for any
   * addition order as long as Σterms < 2^(53−maxExponent) — deterministic
   * across engines and partitionings, where a smooth 2^(−age/h) sum would
   * hash-flake on libm pow and float order. One combinable aggregate.
   *
   * @return (groupCols…, n BIGINT, decayed DOUBLE rounded 6)
   */
  def decayedCounts(df: DataFrame, groupCols: Seq[String], time: String,
                    halfLifeSec: Long): DataFrame = {
    require(halfLifeSec > 0, s"halfLifeSec must be positive, got $halfLifeSec")
    // seconds ROUNDED half-up, not truncated: the oracle ages by
    // `epoch(ts)::BIGINT` and DuckDB's double→BIGINT cast rounds half away
    // from zero — with truncation an event 0.5 s younger than a half-life
    // boundary (relative to the ref instant) would land one staircase step
    // off the oracle's. Same grid contract as StreamOps.tsToOracleSecond;
    // bit-neutral at the checked SFs (no event sits on such a boundary
    // there), r15 alignment.
    val sec = graft.streaming.StreamOps.epochSecondRounded(col(time).cast("timestamp"))
    val ref = df.agg(max(sec).as("__ref"))
    df.filter(col(time).isNotNull)
      .crossJoin(broadcast(ref))
      .withColumn("__w", pow(lit(2.0),
        -((col("__ref") - sec) / lit(halfLifeSec)).cast("long")))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), round(sum(col("__w")), 6).as("decayed"))
  }

  /**
   * First-order transition matrix over per-key ordered event types — the
   * user-journey summary (Markov transition counts + conditional
   * probabilities). One window pass for the lag pairs, one combinable
   * (from, to) count, and the per-`from` totals join back as a broadcast
   * (the matrix is types², bounded) — event volume never shuffles twice.
   *
   * @return (from_type, to_type, n BIGINT, p DOUBLE rounded 6)
   */
  def transitionMatrix(df: DataFrame, key: String, time: String,
                       typeCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(time), col(tieBreak))
    val pairs = df.withColumn("__prev", lag(col(typeCol), 1).over(w))
      .filter(col("__prev").isNotNull)
      .groupBy(col("__prev").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum("n").as("__tot"))
    pairs.join(broadcast(totals), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("__tot"), 6).as("p"))
  }

  /** Cumulative Poisson(1) thresholds P(X ≤ k), k = 0..4 — computed once
    * and embedded as double literals on BOTH engines so the inverse-CDF
    * branch is bit-identical. Weights cap at 5 (P(X > 5) ≈ 6e-4 at λ=1 —
    * a bootstrap-fidelity footnote, not a correctness issue: both engines
    * apply the same cap). */
  private[graft] val poissonCdf1: Seq[Double] = {
    val e = math.exp(-1)
    Seq(e, 2 * e, 2.5 * e, 2.5 * e + e / 6, 2.5 * e + e / 6 + e / 24)
  }

  /**
   * One-pass Poisson bootstrap (the resampling scheme that works when the
   * data can't be held, let alone resampled R times): each row enters
   * replicate r with weight ~ Poisson(1), drawn DETERMINISTICALLY from
   * md5(id:r) — so the R "resamples" are one exploded scan with integer
   * weights, and the spread of the per-replicate means estimates the
   * sampling error of the mean. No shuffling of the data beyond one
   * combinable (groupCols, rep) aggregation; R multiplies the scan, never
   * the state.
   *
   * @return (groupCols…, rep INT, n_eff BIGINT = Σw, mean DOUBLE rounded 6;
   *         NULL where n_eff = 0)
   */
  def bootstrapMeans(df: DataFrame, idCol: String, value: Column,
                     replicates: Int, groupCols: Seq[String] = Nil): DataFrame = {
    require(replicates >= 2, s"need at least 2 replicates, got $replicates")
    val exploded = df.filter(value.isNotNull)
      .select(groupCols.map(col) :+ col(idCol) :+ value.as("__v"): _*)
      .withColumn("rep", explode(sequence(lit(0), lit(replicates - 1))))
    val u = Md5Draw.uniform(Md5Draw.ofString(
      concat(col(idCol).cast("string"), lit(":"), col("rep").cast("string"))), 8)
    // inverse CDF: first k with u < P(X ≤ k); cap at 5
    val w = poissonCdf1.zipWithIndex.foldRight(lit(5): Column) {
      case ((cdf, k), els) => when(col("__u") < lit(cdf), lit(k)).otherwise(els)
    }
    exploded.withColumn("__u", u).withColumn("__w", w)
      .groupBy((groupCols :+ "rep").map(col): _*)
      .agg(sum(col("__w").cast("long")).as("n_eff"),
        // a replicate that draws total weight 0 has no mean: NULL, not an
        // ANSI DIVIDE_BY_ZERO for the whole query
        round(try_divide(sum((col("__w") * col("__v")).cast("decimal(38,10)")).cast("double"),
          sum(col("__w").cast("long"))), 6).as("mean"))
  }

  /**
   * Point-in-time snapshot over an SCD2 history ([[scd2]]/[[scd2Apply]]
   * output): the one version per key whose validity interval covers `atMs`
   * — the "what did the dimension look like on date X" read every
   * reproducible-training and audit query needs. A pure partition-prunable
   * filter: no join, no window; on a `valid_from_ms`-partitioned lake the
   * scan touches only files overlapping the instant.
   */
  def scd2AsOf(history: DataFrame, atMs: Long): DataFrame =
    history.filter(col("valid_from_ms") <= atMs &&
      (col("valid_to_ms").isNull || lit(atMs) < col("valid_to_ms")))

  /**
   * Combinable per-key aggregate STATE — (n, DECIMAL-exact sum, min, max).
   * The state, not the read-out, is what an incremental pipeline persists:
   * every field merges associatively, so tomorrow's refresh aggregates the
   * DELTA only and folds it in with [[aggApply]] instead of rescanning the
   * 100 TB history. NULL values drop (COUNT/SUM/MIN/MAX semantics).
   */
  def aggState(df: DataFrame, keyCols: Seq[String], value: Column): DataFrame =
    df.filter(value.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(value.cast("decimal(28,6)")).as("sum_v"),
        min(value).as("min_v"), max(value).as("max_v"))

  /**
   * Incremental aggregate maintenance: fold a delta's state into an
   * existing state. Invariant (property-tested and oracle-checked as
   * `ev_agg_apply`): `aggApply(aggState(early), aggState(late)) ==
   * aggState(all)` — exactly, because every field is associative and the
   * sum is DECIMAL. Derived read-outs (avg = sum/n) come off the merged
   * state. One union + one combinable groupBy — the delta never joins the
   * history row-wise.
   */
  def aggApply(state: DataFrame, delta: DataFrame, keyCols: Seq[String]): DataFrame =
    state.unionByName(delta)
      .groupBy(keyCols.map(col): _*)
      .agg(sum("n").as("n"), sum("sum_v").as("sum_v"),
        min("min_v").as("min_v"), max("max_v").as("max_v"))

  /**
   * Bounded-lookback exponential moving average: per key, in `orderCols`
   * order, `ewma_i = Σ_{k<L} (1-α)^k · v_{i-k} / Σ_{k<L} (1-α)^k` over the
   * rows that exist (missing lags and NULL values drop out of BOTH sums) —
   * the FIR truncation of the classic recursive EWMA. The infinite-horizon
   * recurrence is a sequential scan Spark has no native operator for (and
   * its (1-α)^{-i} prefix-sum rewrite overflows doubles); truncating at L
   * makes it L lag expressions inside ONE window pass — at (1-α)=½, L=8
   * the dropped tail weighs < 0.4%, and the weights 2^-k are exact binary
   * fractions so the fixed left-to-right sum is bit-reproducible across
   * engines.
   *
   * Scale shape: one window shuffle on the key; L lags evaluate in the
   * same frame pass (no per-lag window, no collected lists).
   *
   * @return input columns + `ewma` (rounded to 6; NULL when no value in
   *         the lookback window)
   */
  def ewma(df: DataFrame, keyCols: Seq[String], orderCols: Seq[Column],
           value: Column, alpha: Double = 0.5, lookback: Int = 8): DataFrame = {
    require(lookback >= 1 && alpha > 0 && alpha <= 1,
      s"need lookback >= 1 and alpha in (0, 1], got $lookback, $alpha")
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(orderCols: _*)
    val terms = (0 until lookback).map { k =>
      val lv = lag(value, k).over(w)
      val wk = lit(math.pow(1 - alpha, k))
      (when(lv.isNotNull, wk * lv).otherwise(lit(0.0)),
        when(lv.isNotNull, wk).otherwise(lit(0.0)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    df.withColumn("ewma", round(when(den > 0, num / den), 6))
  }
}
