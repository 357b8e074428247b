package graft

import graft.events.EventOps
import org.apache.spark.sql.functions._

class EventOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asof join picks latest right row at or before left time") {
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:05"), "t1"),
      (1L, ts("2024-01-01 10:00:20"), "t2"),
      (2L, ts("2024-01-01 10:00:10"), "t3")
    ).toDF("key", "ts", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100.0),
      (1L, ts("2024-01-01 10:00:10"), 101.0),
      (2L, ts("2024-01-01 10:00:15"), 200.0)  // after t3 → no match
    ).toDF("key", "ts", "px")
    val got = EventOps.asofJoin(trades, quotes, "key", "ts", Seq("px"))
      .collect().map(r => (r.getString(2), Option(r.get(3)))).toMap
    assert(got == Map("t1" -> Some(100.0), "t2" -> Some(101.0), "t3" -> None))
  }

  test("scd2: runs collapse, ranges chain, nulls and duplicate timestamps handled") {
    val log = Seq(
      // user 1: A A B A — runs A, B, A
      (1L, ts("2024-01-01 10:00:00"), Some("A"), 1L),
      (1L, ts("2024-01-01 11:00:00"), Some("A"), 2L),
      (1L, ts("2024-01-01 12:00:00"), Some("B"), 3L),
      (1L, ts("2024-01-01 13:00:00"), Some("A"), 4L),
      // user 2: null null C — a null→null step is NOT a change
      (2L, ts("2024-01-01 10:00:00"), None, 5L),
      (2L, ts("2024-01-01 11:00:00"), None, 6L),
      (2L, ts("2024-01-01 12:00:00"), Some("C"), 7L),
      // user 3: duplicate timestamp — tie-break on the change id
      (3L, ts("2024-01-01 10:00:00"), Some("X"), 9L),
      (3L, ts("2024-01-01 10:00:00"), Some("Y"), 8L)
    ).toDF("key", "ts", "attr", "cid")
    val got = EventOps.scd2(log, "key", "ts", Seq("attr"), "cid")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]), r.getBoolean(4), r.getLong(5)))
      .toSet
    def ms(s: String) = ts(s).getTime
    assert(got == Set(
      (1L, Some("A"), ms("2024-01-01 10:00:00"), Some(ms("2024-01-01 12:00:00")), false, 1L),
      (1L, Some("B"), ms("2024-01-01 12:00:00"), Some(ms("2024-01-01 13:00:00")), false, 2L),
      (1L, Some("A"), ms("2024-01-01 13:00:00"), None, true, 3L),
      (2L, None, ms("2024-01-01 10:00:00"), Some(ms("2024-01-01 12:00:00")), false, 1L),
      (2L, Some("C"), ms("2024-01-01 12:00:00"), None, true, 2L),
      // cid 8 (Y) sorts before cid 9 (X) at the same timestamp
      (3L, Some("Y"), ms("2024-01-01 10:00:00"), Some(ms("2024-01-01 10:00:00")), false, 1L),
      (3L, Some("X"), ms("2024-01-01 10:00:00"), None, true, 2L)))
    // exactly one current row per key
    assert(got.count(_._5) == 3)
  }

  test("trend: hand-computed slope/intercept, degenerate group yields nulls") {
    val df = Seq(
      ("a", 0L, 1.0), ("a", 1L, 3.0), ("a", 2L, 5.0),     // y = 2x + 1 exactly
      ("b", 5L, 7.0), ("b", 5L, 9.0)                       // all x equal → null
    ).toDF("g", "x", "y")
    val got = EventOps.trend(df, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
    assert(got("a") == ((3L, Some(2.0), Some(1.0))))
    assert(got("b") == ((2L, None, None)))
  }

  test("scd2Apply: incremental merge equals full rebuild (randomized splits)") {
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 5) {
      // random change log: few keys, few attr values, duplicate timestamps
      val log = (1 to 60).map { cid =>
        val key = 1L + rnd.nextInt(4)
        val t = ts(f"2024-02-${1 + rnd.nextInt(20)}%02d 10:00:00")
        val attr = if (rnd.nextInt(6) == 0) None else Some(s"v${rnd.nextInt(3)}")
        (key, t, attr, cid.toLong)
      }
      val df = log.toDF("key", "ts", "attr", "cid")
      val cut = ts(f"2024-02-${8 + rnd.nextInt(6)}%02d 00:00:00")
      val hist = EventOps.scd2(df.filter($"ts" < cut), "key", "ts", Seq("attr"), "cid")
      val merged = EventOps.scd2Apply(hist, df.filter($"ts" >= cut),
        "key", "ts", Seq("attr"), "cid")
      val full = EventOps.scd2(df, "key", "ts", Seq("attr"), "cid")
      val m = merged.collect().map(_.toSeq).toSet
      val f = full.collect().map(_.toSeq).toSet
      assert(m == f, s"trial $trial (cut $cut)")
    }
  }

  test("scd2Apply: out-of-order change raises; delta-only keys start at version 1") {
    val hist = EventOps.scd2(
      Seq((1L, ts("2024-01-01 10:00:00"), "A", 1L)).toDF("key", "ts", "attr", "cid"),
      "key", "ts", Seq("attr"), "cid")
    // change at/before the current valid_from → load-bearing assert fires
    intercept[Exception] {
      EventOps.scd2Apply(hist,
        Seq((1L, ts("2024-01-01 10:00:00"), "B", 2L)).toDF("key", "ts", "attr", "cid"),
        "key", "ts", Seq("attr"), "cid").collect()
    }
    // a key unseen by history versions from 1
    val merged = EventOps.scd2Apply(hist,
      Seq((2L, ts("2024-01-02 10:00:00"), "C", 3L)).toDF("key", "ts", "attr", "cid"),
      "key", "ts", Seq("attr"), "cid")
    val v = merged.filter($"key" === 2L).select("version").collect().map(_.getLong(0))
    assert(v.toSeq == Seq(1L))
  }

  test("scd2: multi-attribute change detection is per-struct, not per-column") {
    val log = Seq(
      (1L, ts("2024-01-01 10:00:00"), "p", 1, 1L),
      (1L, ts("2024-01-01 11:00:00"), "p", 2, 2L), // second attr changes → new version
      (1L, ts("2024-01-01 12:00:00"), "p", 2, 3L)  // no change → absorbed
    ).toDF("key", "ts", "a1", "a2", "cid")
    val got = EventOps.scd2(log, "key", "ts", Seq("a1", "a2"), "cid")
    assert(got.count() == 2)
    assert(got.filter(col("is_current")).select("a2").collect().map(_.getInt(0)).toSeq == Seq(2))
  }

  test("asof join: simultaneous right row is visible") {
    val l = Seq((1L, ts("2024-01-01 10:00:10"), "x")).toDF("key", "ts", "v")
    val r = Seq((1L, ts("2024-01-01 10:00:10"), 7.0)).toDF("key", "ts", "px")
    val got = EventOps.asofJoin(l, r, "key", "ts", Seq("px")).collect()(0)
    assert(got.getDouble(3) == 7.0)
  }

  test("asof forward picks earliest right row at or after; tolerance masks far matches") {
    val trades = Seq(
      (1L, ts("2024-01-01 10:00:05"), "t1"),  // next quote at :10 (5 s away)
      (1L, ts("2024-01-01 10:00:20"), "t2"),  // next quote at 10:05:00 (280 s away)
      (2L, ts("2024-01-01 10:00:10"), "t3")   // no later quote
    ).toDF("key", "ts", "trade")
    val quotes = Seq(
      (1L, ts("2024-01-01 10:00:10"), 101.0),
      (1L, ts("2024-01-01 10:05:00"), 102.0),
      (2L, ts("2024-01-01 10:00:00"), 200.0)  // before t3 → no forward match
    ).toDF("key", "ts", "px")
    val fwd = EventOps.asofJoin(trades, quotes, "key", "ts", Seq("px"), forward = true)
      .collect().map(r => (r.getString(2), Option(r.get(3)))).toMap
    assert(fwd == Map("t1" -> Some(101.0), "t2" -> Some(102.0), "t3" -> None))
    val tol = EventOps.asofJoin(trades, quotes, "key", "ts", Seq("px"),
      forward = true, toleranceMillis = Some(60000L))
      .collect().map(r => (r.getString(2), Option(r.get(3)))).toMap
    assert(tol == Map("t1" -> Some(101.0), "t2" -> None, "t3" -> None))
    // simultaneous right row is visible forward too (≥ is inclusive)
    val simul = EventOps.asofJoin(trades,
      Seq((1L, ts("2024-01-01 10:00:05"), 99.0)).toDF("key", "ts", "px"),
      "key", "ts", Seq("px"), forward = true)
      .collect().map(r => (r.getString(2), Option(r.get(3)))).toMap
    assert(simul("t1").contains(99.0))
  }

  test("range join: binned decomposition equals brute-force theta join (seeded)") {
    val rnd = new scala.util.Random(7)
    val base = ts("2024-01-01 00:00:00").getTime
    // timestamps landing on exact bin edges and delta-exact gaps included
    def mk(n: Int, tag: String) = (0 until n).map { i =>
      val off = rnd.nextInt(40) * 30000L // 30 s grid, delta = 60 s → edge hits
      (rnd.nextInt(4).toLong, new java.sql.Timestamp(base + off), s"$tag$i")
    }
    val l = mk(60, "l").toDF("k", "ts", "lid")
    val r = mk(60, "r").toDF("k", "ts", "rid")
    val delta = 60000L
    val got = EventOps.rangeJoin(l, r, "k", "ts", "ts", delta, Seq("rid"))
      .select("lid", "r_rid").collect().map(x => (x.getString(0), x.getString(1)))
    val lr = l.collect().map(x => (x.getLong(0), x.getTimestamp(1).getTime, x.getString(2)))
    val rr = r.collect().map(x => (x.getLong(0), x.getTimestamp(1).getTime, x.getString(2)))
    val expect = for {
      (lk, lt, lid) <- lr; (rk, rt, rid) <- rr
      if lk == rk && math.abs(lt - rt) <= delta
    } yield (lid, rid)
    assert(got.sorted.toSeq == expect.sorted.toSeq) // incl. no duplicate pairs
    assert(expect.nonEmpty)
    // a pair exactly delta apart joins; delta + 1 ms does not (and the
    // second pair crosses a bin boundary relative to the first)
    val l2 = Seq((9L, new java.sql.Timestamp(base), "a"),
                 (9L, new java.sql.Timestamp(base + 100000L), "b")).toDF("k", "ts", "lid")
    val r2 = Seq((9L, new java.sql.Timestamp(base + delta), "x"),
                 (9L, new java.sql.Timestamp(base + 100000L + delta + 1), "y")).toDF("k", "ts", "rid")
    val g2 = EventOps.rangeJoin(l2, r2, "k", "ts", "ts", delta, Seq("rid"))
      .select("lid", "r_rid").collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(g2 == Set(("a", "x"), ("b", "x") /* 100000−60000 = 40000 ≤ delta */ ))
  }

  test("funnel: stage gated on strictly-after ordering, per key") {
    val ev = Seq(
      // u1: full ordered funnel
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:01:00"), "click"),
      (1L, ts("2024-01-01 10:02:00"), "purchase"),
      // u2: purchase BEFORE the first view→click chain completes → stage 2
      (2L, ts("2024-01-01 09:00:00"), "purchase"),
      (2L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 10:30:00"), "click"),
      // u3: click only (no view first) → stage 0
      (3L, ts("2024-01-01 10:00:00"), "click"),
      // u4: simultaneous view+click does NOT advance (strictly after)
      (4L, ts("2024-01-01 10:00:00"), "view"),
      (4L, ts("2024-01-01 10:00:00"), "click")
    ).toDF("user_id", "ts", "event_type")
    val got = EventOps.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 3, 2L -> 2, 3L -> 0, 4L -> 1))
  }

  test("ohlc: open/close pick by (ts, event_id) order, ties broken by id") {
    import org.apache.spark.sql.functions._
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 5.0),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 9.0), // same ts: id 1 wins open
      (3L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 1.0),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 7.0)
    ).toDF("event_id", "ts", "value")
    val r = ev.agg(
      min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
      max(col("value")).as("high"), min(col("value")).as("low"),
      max_by(col("value"), struct(col("ts"), col("event_id"))).as("close")).collect()(0)
    assert((r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)) == (5.0, 9.0, 1.0, 7.0))
  }

  test("funnel conversion window: out-of-gap stage stops the chain; no resurrection") {
    val ev = Seq(
      // user 1: view 10:00 → click 10:30 (in gap) → purchase 11:00 (in gap) = 3
      (1L, ts("2024-01-01 10:00:00"), "view"),
      (1L, ts("2024-01-01 10:30:00"), "click"),
      (1L, ts("2024-01-01 11:00:00"), "purchase"),
      // user 2: click lands 2h after view — outside the 1h gap = stage 1
      (2L, ts("2024-01-01 10:00:00"), "view"),
      (2L, ts("2024-01-01 12:00:00"), "click"),
      // user 3: first-occurrence chain pins t1 = 09:00; the 11:30 click is
      // within gap of the LATER 11:00 view but not of t1 — documented
      // no-resurrection semantics → stage 1
      (3L, ts("2024-01-01 09:00:00"), "view"),
      (3L, ts("2024-01-01 11:00:00"), "view"),
      (3L, ts("2024-01-01 11:30:00"), "click"))
      .toDF("user_id", "ts", "event_type")
    val got = EventOps.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"), maxGapMs = 3600 * 1000)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 1))
    // unconstrained default unchanged: user 2 converts to stage 2
    val free = EventOps.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(free == Map(1L -> 3, 2L -> 2, 3L -> 2))
  }

  test("bootstrapMeans: R rows per group, unit mean weight, deterministic replay") {
    val rows = (1 to 400).map(i => (i.toLong, "g" + (i % 2), i * 0.5))
      .toDF("id", "g", "v")
    val out = EventOps.bootstrapMeans(rows, "id", col("v"), replicates = 8, Seq("g"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3))))
    assert(out.length == 16) // 2 groups x 8 replicates
    // Poisson(1) weights: total effective n within 10% of the real n
    val totalW = out.map(_._2._1).sum
    assert(math.abs(totalW / (8.0 * 400) - 1.0) < 0.1, s"mean weight ${totalW / 3200.0}")
    // replicates genuinely differ (independent md5 draws per (id, rep))
    assert(out.map(_._2._2).distinct.length > 8)
    // per-replicate means hover around the true mean of each group
    val trueMeans = Map("g0" -> (2 to 400 by 2).map(_ * 0.5).sum / 200,
      "g1" -> (1 until 400 by 2).map(_ * 0.5).sum / 200)
    out.foreach { case ((g, _), (_, m)) =>
      assert(math.abs(m - trueMeans(g)) < trueMeans(g) * 0.15, s"$g: $m vs ${trueMeans(g)}")
    }
    // bit-for-bit deterministic
    val again = EventOps.bootstrapMeans(rows, "id", col("v"), replicates = 8, Seq("g"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> ((r.getLong(2), r.getDouble(3))))
    assert(again.toMap == out.toMap)
  }

  test("bootstrapMeans: a replicate drawing total weight 0 reads a NULL mean, not an error") {
    // one-row groups: each replicate draws weight 0 with probability e^-1,
    // so 3 groups x 8 replicates hold zero-weight draws; under the default
    // (ANSI) conf they must not fail the query with DIVIDE_BY_ZERO
    val rows = Seq((1L, "a", 2.5), (2L, "b", -1.0), (3L, "c", 7.0)).toDF("id", "g", "v")
    val out = EventOps.bootstrapMeans(rows, "id", col("v"), replicates = 8, Seq("g")).collect()
    assert(out.length == 24)
    val v = Map("a" -> 2.5, "b" -> -1.0, "c" -> 7.0)
    val (empty, drawn) = out.partition(_.getLong(2) == 0L)
    assert(empty.nonEmpty && drawn.nonEmpty)
    assert(empty.forall(_.isNullAt(3)))
    // a one-row group's weighted mean is its value whatever the weight
    assert(drawn.forall(r => r.getDouble(3) == v(r.getString(0))))
  }

  test("aggApply: any split point folds to the full rebuild, bit-for-bit") {
    val rows = (1 to 200).map(i =>
      ((i % 7).toString, i, if (i % 13 == 0) None else Some(i * 0.37 - 20)))
      .toDF("k", "seq", "value")
    val full = EventOps.aggState(rows, Seq("k"), col("value"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDecimal(2), r.getDouble(3), r.getDouble(4)))).toMap
    Seq(1, 50, 199).foreach { cut =>
      val merged = EventOps.aggApply(
        EventOps.aggState(rows.filter(col("seq") <= cut), Seq("k"), col("value")),
        EventOps.aggState(rows.filter(col("seq") > cut), Seq("k"), col("value")),
        Seq("k"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDecimal(2), r.getDouble(3), r.getDouble(4)))).toMap
      assert(merged == full, s"cut=$cut")
    }
    // a key absent from one side survives the merge untouched
    val only = EventOps.aggApply(
      EventOps.aggState(rows.filter(col("k") === "1"), Seq("k"), col("value")),
      EventOps.aggState(rows.filter(col("k") === "2"), Seq("k"), col("value")),
      Seq("k")).collect().map(_.getString(0)).toSet
    assert(only == Set("1", "2"))
  }

  test("ewma: hand-computed weights, NULL drop-out, lookback truncation, key isolation") {
    val df = Seq(
      (1L, 1L, 1, Some(1.0)), (2L, 1L, 2, Some(2.0)), (3L, 1L, 3, Some(4.0)),
      (4L, 2L, 1, Some(1.0)), (5L, 2L, 2, None), (6L, 2L, 3, Some(4.0)))
      .toDF("event_id", "user_id", "seq", "value")
    def run(lookback: Int) = EventOps.ewma(df, Seq("user_id"),
        Seq(col("seq").asc, col("event_id").asc), col("value"), lookback = lookback)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val got = run(8)
    // user 1: 1; (2 + .5·1)/1.5; (4 + .5·2 + .25·1)/1.75
    assert(got(1L) == 1.0 && got(2L) == 1.666667 && got(3L) == 3.0)
    // user 2 (key-isolated from user 1): NULL value drops from BOTH sums
    assert(got(4L) == 1.0 && got(5L) == 1.0 && got(6L) == 3.4)
    // lookback = 2 truncates the k = 2 term
    assert(run(2)(3L) == 3.333333)
  }

  test("asof join: null right values come from the NEAREST row, never an older one") {
    // pandas merge_asof contract: ALL carried columns, nulls included, come
    // from the single nearest right row — per-column last(ignoreNulls)
    // would tear px=100 from t=00 while the tolerance checks t=04
    val left = Seq((1L, ts("2024-01-01 10:00:05"), "l1")).toDF("key", "ts", "tag")
    val right = Seq(
      (1L, ts("2024-01-01 10:00:00"), Some(100.0)),
      (1L, ts("2024-01-01 10:00:04"), None)
    ).toDF("key", "ts", "px")
    // tolerance 2s: nearest row (t=04, px=null) is within → asof_px NULL
    val tol = EventOps.asofJoin(left, right, "key", "ts", Seq("px"),
      toleranceMillis = Some(2000L))
      .collect().map(r => Option(r.get(3))).toSeq
    assert(tol == Seq(None), s"expected the nearest row's NULL px, got $tol")
    // no tolerance: still the nearest row's null, not t=00's 100.0
    val plain = EventOps.asofJoin(left, right, "key", "ts", Seq("px"))
      .collect().map(r => Option(r.get(3))).toSeq
    assert(plain == Seq(None))
    // the right TIME column itself is carriable without ambiguity
    val withTs = EventOps.asofJoin(left, right, "key", "ts", Seq("px", "ts"))
      .collect().map(r => Option(r.get(4)).map(_.toString)).toSeq
    assert(withTs == Seq(Some("2024-01-01 10:00:04.0")))
  }

  test("robustAnomalies: rows of stat-less groups survive with null flags") {
    val d = Seq(
      (1L, "a", Some(1.0)), (2L, "a", Some(1.1)), (3L, "a", Some(50.0)),
      (4L, "b", None), (5L, "b", None) // group with NO stats (all-null values)
    ).toDF("event_id", "event_type", "value")
    val got = EventOps.robustAnomalies(d, Seq("event_type"), "value", k = 1.0)
    assert(got.count() == 5L, "the filter must preserve the input row count")
    val bRows = got.filter(col("event_type") === "b")
      .select("robust_z").collect().map(r => r.isNullAt(0))
    assert(bRows.length == 2 && bRows.forall(identity))
  }

  test("sessionize: millisecond gaps split exactly (no second truncation)") {
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00.100")),
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:30.900"))  // gap 30.8s
    ).toDF("user_id", "ts")
    val n = EventOps.sessionize(ev, "user_id", "ts", gapSeconds = 30)
      .agg(max("session_id")).collect()(0).getLong(0)
    assert(n == 2L, "a 30.8s gap must split a 30s-gap session")
  }

  test("sessionize splits on gaps over threshold") {
    val ev = Seq(
      (1L, ts("2024-01-01 10:00:00")),
      (1L, ts("2024-01-01 10:10:00")),   // same session (10 min)
      (1L, ts("2024-01-01 11:00:00")),   // new session (50 min gap)
      (2L, ts("2024-01-01 10:00:00"))
    ).toDF("user_id", "ts")
    val got = EventOps.sessionize(ev, "user_id", "ts", 1800)
      .groupBy("user_id").agg(max("session_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L))
  }
}
