package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.{GEvent, StreamOps}

class StreamingSpec extends SparkSpec {
  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val batchEvents = Seq(
    GEvent(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
    GEvent(2, ts("2024-01-01 10:10:00"), 1, "click", 2.0),
    GEvent(3, ts("2024-01-01 11:30:00"), 1, "click", 4.0), // gap 80min → new session
    GEvent(4, ts("2024-01-02 09:00:00"), 2, "purchase", 8.0))

  test("windowedAgg batch: daily tumbling windows") {
    val out = StreamOps.windowedAgg(batchEvents.toDF())
      .select($"w_start".cast("date").cast("string"), $"event_type", $"n", $"sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    assert(out === Set(("2024-01-01", "click", 3L, 7.0), ("2024-01-02", "purchase", 1L, 8.0)))
  }

  test("sessionWindowAgg batch: gap-merged session windows, end = last + gap") {
    val out = StreamOps.sessionWindowAgg(batchEvents.toDF())
      .select($"user_id", $"session_start".cast("string"), $"session_end".cast("string"), $"n_events")
      .as[(Long, String, String, Long)].collect().toSet
    assert(out === Set(
      (1L, "2024-01-01 10:00:00", "2024-01-01 10:40:00", 2L),
      (1L, "2024-01-01 11:30:00", "2024-01-01 12:00:00", 1L),
      (2L, "2024-01-02 09:00:00", "2024-01-02 09:30:00", 1L)))
  }

  test("sessionizeStateful batch: sessions closed at end of group") {
    val out = StreamOps.sessionizeStateful(batchEvents.toDS(), gapSeconds = 1800)
      .select($"user_id", $"session_start".cast("string"), $"session_end".cast("string"),
        $"n_events", $"sum_value")
      .as[(Long, String, String, Long, Double)].collect().toSet
    assert(out === Set(
      (1L, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2L, 3.0),
      (1L, "2024-01-01 11:30:00", "2024-01-01 11:30:00", 1L, 4.0),
      (2L, "2024-01-02 09:00:00", "2024-01-02 09:00:00", 1L, 8.0)))
  }

  private def drain(q: StreamingQuery): Unit = q.processAllAvailable()

  test("funnelStateful: batch ≡ EventOps.funnel; streaming advances across batches") {
    import org.apache.spark.sql.functions.col
    val evs = Seq(
      GEvent(1, ts("2024-01-01 10:00:00"), 1, "view", 0),
      GEvent(2, ts("2024-01-01 10:05:00"), 1, "click", 0),
      GEvent(3, ts("2024-01-01 10:10:00"), 1, "purchase", 0), // user 1 → 3
      GEvent(4, ts("2024-01-01 10:00:00"), 2, "click", 0),    // click before view
      GEvent(5, ts("2024-01-01 10:05:00"), 2, "view", 0),     // user 2 → 1
      GEvent(6, ts("2024-01-01 10:00:00"), 3, "other", 0))    // user 3 → 0
    val batch = StreamOps.funnelStateful(evs.toDS(), Seq("view", "click", "purchase"))
      .collect().map(f => f.user_id -> f.stage).toMap
    assert(batch == Map(1L -> 3, 2L -> 1, 3L -> 0))
    val viaFold = graft.events.EventOps.funnel(evs.toDF(), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(batch == viaFold)
    // streaming: stage advances span micro-batches (view in batch 1,
    // click+purchase in batch 2) — three advance rows for user 1
    val in = MemoryStream[GEvent]
    val q = StreamOps.funnelStateful(in.toDS(), Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("funl").outputMode("append").start()
    try {
      in.addData(evs.take(1): _*); drain(q)
      in.addData(evs.drop(1): _*); drain(q)
      val adv = spark.table("funl").select(col("user_id"), col("stage"))
        .as[(Long, Int)].collect().toSeq.sorted
      assert(adv == Seq((1L, 1), (1L, 2), (1L, 3), (2L, 1)))
    } finally q.stop()
  }

  test("ewmaStateful: streaming across batches ≡ batch ≡ EventOps.ewma") {
    import org.apache.spark.sql.functions.col
    // in-order per key (the cross-batch contract); interleaved keys
    val evs = (1 to 30).map { i =>
      GEvent(i.toLong, ts(f"2024-01-01 ${8 + i / 10}%02d:${(i % 10) * 5}%02d:00"),
        (i % 3).toLong, "t", (i * 7 % 11).toDouble)
    }
    val batch = StreamOps.ewmaStateful(evs.toDS()).collect()
      .map(g => g.event_id -> g.ewma).toMap
    // equality with the window-expression form, bit-for-bit after round(6)
    val viaExpr = graft.events.EventOps.ewma(
        evs.toDF(), Seq("user_id"),
        Seq(col("ts").asc, col("event_id").asc), col("value"))
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    assert(batch == viaExpr)
    // streaming over three micro-batches (split preserves per-key ts order)
    val in = MemoryStream[GEvent]
    val q = StreamOps.ewmaStateful(in.toDS())
      .writeStream.format("memory").queryName("ewmas").outputMode("append").start()
    try {
      in.addData(evs.take(10): _*); drain(q)
      in.addData(evs.slice(10, 20): _*); drain(q)
      in.addData(evs.drop(20): _*); drain(q)
      val stream = spark.table("ewmas")
        .as[(Long, Long, Double)].collect().map(t => t._1 -> t._3).toMap
      assert(stream == batch)
    } finally q.stop()
  }

  test("sliding epoch-grid contract: non-multiple, month, or non-positive durations reject") {
    val df = batchEvents.toDF()
    for ((w, sl) <- Seq(("1 day", "7 hours"), ("1 month", "1 day"),
        ("0 seconds", "6 hours"), ("-1 day", "6 hours"), ("1 day", "0 seconds")))
      intercept[IllegalArgumentException](StreamOps.slidingWindowAgg(df, w, sl))
    // the sliding-HLL path shares the SAME grid contract (the batch/oracle
    // register-merge replay assumes it)
    intercept[IllegalArgumentException](
      StreamOps.windowedHllDistinct(df, Nil, $"user_id", 9,
        windowDur = "1 day", slide = Some("7 hours")))
    // a valid grid still constructs
    StreamOps.slidingWindowAgg(df, "1 day", "6 hours")
  }

  test("slidingWindowAgg: 4 overlapping windows per event; streaming ≡ batch") {
    import org.apache.spark.sql.functions.col
    // batch: one event falls in exactly windowDur/slide = 4 windows, all
    // epoch-aligned to the 6-hour grid at/below its timestamp
    val one = Seq(GEvent(1, ts("2024-01-01 13:30:00"), 1, "click", 2.0)).toDF()
    val got = StreamOps.slidingWindowAgg(one)
      .select($"w_start", $"event_type", $"n", $"sum_value")
      .as[(Long, String, Long, Double)].collect().toSet
    val bucket = ts("2024-01-01 13:30:00").getTime / 1000 / 21600 * 21600
    assert(got == (0 to 3).map(o => (bucket - o * 21600L, "click", 1L, 2.0)).toSet)
    // streaming (complete mode) over two batches equals the batch run
    val in = MemoryStream[GEvent]
    val q = StreamOps.slidingWindowAgg(in.toDF())
      .writeStream.format("memory").queryName("slide").outputMode("complete").start()
    try {
      in.addData(batchEvents.take(2): _*)
      drain(q)
      in.addData(batchEvents.drop(2): _*)
      drain(q)
      val stream = spark.table("slide")
        .select(col("w_start"), col("event_type"), col("n"), col("sum_value"))
        .as[(Long, String, Long, Double)].collect().toSet
      val batch = StreamOps.slidingWindowAgg(batchEvents.toDF())
        .as[(Long, String, Long, Double)].collect().toSet
      assert(stream == batch)
    } finally q.stop()
  }

  test("windowedAgg streaming: append emission after watermark passes window end") {
    val in = MemoryStream[GEvent]
    val q = StreamOps.windowedAgg(in.toDF(), windowDur = "1 hour", wm = "10 minutes")
      .writeStream.format("memory").queryName("wagg").outputMode("append").start()
    try {
      in.addData(GEvent(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
                 GEvent(2, ts("2024-01-01 10:20:00"), 1, "click", 2.0))
      drain(q)
      // advance event time far past 11:00 + wm, twice (watermark lags a batch)
      in.addData(GEvent(3, ts("2024-01-01 13:00:00"), 2, "click", 4.0))
      drain(q)
      in.addData(GEvent(4, ts("2024-01-01 14:00:00"), 2, "click", 8.0))
      drain(q)
      val rows = spark.table("wagg")
        .select($"w_start".cast("string"), $"event_type", $"n", $"sum_value")
        .as[(String, String, Long, Double)].collect().toSet
      assert(rows.contains(("2024-01-01 10:00:00", "click", 2L, 3.0)))
    } finally q.stop()
  }

  test("sessionizeStateful streaming: session closed by event-time timeout") {
    val in = MemoryStream[GEvent]
    val q = StreamOps.sessionizeStateful(in.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      in.addData(GEvent(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
                 GEvent(2, ts("2024-01-01 10:10:00"), 1, "click", 2.0))
      drain(q)
      in.addData(GEvent(3, ts("2024-01-01 13:00:00"), 2, "click", 4.0))
      drain(q)
      in.addData(GEvent(4, ts("2024-01-01 15:00:00"), 2, "click", 8.0))
      drain(q)
      val rows = spark.table("sess")
        .select($"user_id", $"session_start".cast("string"), $"session_end".cast("string"),
          $"n_events", $"sum_value")
        .as[(Long, String, String, Long, Double)].collect().toSet
      assert(rows.contains((1L, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2L, 3.0)))
    } finally q.stop()
  }

  test("dedupStream streaming: duplicates dropped within watermark") {
    val in = MemoryStream[GEvent]
    val q = StreamOps.dedupStream(in.toDF(), Seq("event_id"), wm = "1 hour")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      in.addData(GEvent(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
                 GEvent(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      drain(q)
      in.addData(GEvent(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
                 GEvent(2, ts("2024-01-01 10:06:00"), 1, "click", 2.0))
      drain(q)
      val ids = spark.table("dedup").select($"event_id").as[Long].collect().toSeq
      assert(ids.sorted === Seq(1L, 2L))
    } finally q.stop()
  }

  test("batch windowedAgg runs on the events table") {
    val batch = StreamOps.windowedAgg(graft.sources.Tables.events(spark, SF))
    assert(batch.count() > 0)
  }

  test("intervalJoin batch: right rows within the preceding window only") {
    val purchases = Seq(
      GEvent(10, ts("2024-01-01 11:00:00"), 1, "purchase", 5.0),
      GEvent(11, ts("2024-01-01 12:00:00"), 2, "purchase", 5.0)).toDF()
    val clicks = Seq(
      GEvent(1, ts("2024-01-01 10:45:00"), 1, "click", 1.0), // in window (15 min before)
      GEvent(2, ts("2024-01-01 10:20:00"), 1, "click", 1.0), // outside (40 min before)
      GEvent(3, ts("2024-01-01 11:00:00"), 1, "click", 1.0), // boundary: ts == purchase ts → in
      GEvent(4, ts("2024-01-01 11:50:00"), 1, "click", 1.0), // wrong key for p11, after p10
      GEvent(5, ts("2024-01-01 11:58:00"), 2, "click", 1.0)).toDF()
    val out = StreamOps.intervalJoin(purchases, clicks, "user_id", "ts", windowSec = 1800)
      .select($"event_id", $"r_event_id").as[(Long, Long)].collect().toSet
    assert(out === Set((10L, 1L), (10L, 3L), (11L, 5L)))
  }

  test("intervalJoin streaming: stream-stream join equals the batch result") {
    val lin = MemoryStream[GEvent]
    val rin = MemoryStream[GEvent]
    val q = StreamOps.intervalJoin(lin.toDF(), rin.toDF(), "user_id", "ts",
        windowSec = 1800, wm = "10 minutes")
      .select($"event_id", $"r_event_id")
      .writeStream.format("memory").queryName("ij").outputMode("append").start()
    try {
      rin.addData(GEvent(1, ts("2024-01-01 10:45:00"), 1, "click", 1.0),
                  GEvent(2, ts("2024-01-01 10:20:00"), 1, "click", 1.0))
      lin.addData(GEvent(10, ts("2024-01-01 11:00:00"), 1, "purchase", 5.0))
      drain(q)
      // advance both watermarks so the 11:00 join state can emit/evict
      rin.addData(GEvent(9, ts("2024-01-01 13:00:00"), 9, "click", 0.0))
      lin.addData(GEvent(19, ts("2024-01-01 13:00:00"), 9, "purchase", 0.0))
      drain(q)
      val rows = spark.table("ij").as[(Long, Long)].collect().toSet
      assert(rows.contains((10L, 1L)))      // in-window click joined
      assert(!rows.contains((10L, 2L)))     // out-of-window click not joined
    } finally q.stop()
  }

  test("dedupAgainstCorpus: stream-static anti join equals batch") {
    val corpus = Seq((10L, "aa"), (11L, "bb")).toDF("doc_id", "fp")
    val batchIn = Seq((1L, "aa"), (2L, "cc"), (3L, "bb"), (4L, "dd")).toDF("doc_id", "fp")
    val batchOut = StreamOps.dedupAgainstCorpus(batchIn, corpus, Seq("fp"))
      .select("doc_id").as[Long].collect().toSet
    assert(batchOut == Set(2L, 4L))
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.dedupAgainstCorpus(in.toDF().toDF("doc_id", "fp"), corpus, Seq("fp"))
      .writeStream.format("memory").queryName("cdedup").outputMode("append").start()
    try {
      in.addData((1L, "aa"), (2L, "cc"))
      drain(q)
      in.addData((3L, "bb"), (4L, "dd"))
      drain(q)
      assert(spark.table("cdedup").select("doc_id").as[Long].collect().toSet == batchOut)
    } finally q.stop()
  }

  test("ingestEdges + loadIngested: streamed edges become queryable graph increments") {
    val root = java.nio.file.Files.createTempDirectory("graft-graph-ingest")
    val base = graft.graph.PropertyGraph(
      Seq((1L, "A", "a1"), (2L, "B", "b1"), (3L, "B", "b2"))
        .toDF("id", "label", "name"),
      Seq((1L, 2L, "X")).toDF("src", "dst", "etype"))
    // empty lake → base unchanged
    assert(StreamOps.loadIngested(spark, base, s"$root/lake")
      .query("MATCH (a:A)-[:X]->(b:B) RETURN b").collect().map(_.getLong(0)).toSeq == Seq(2L))
    val in = MemoryStream[(Long, Long, String)]
    val q = StreamOps.ingestEdges(in.toDF().toDF("src", "dst", "etype"),
      s"$root/lake", s"$root/ckpt")
    try {
      in.addData((1L, 3L, "X"))
      drain(q)
      val db1 = StreamOps.loadIngested(spark, base, s"$root/lake")
      assert(db1.query("MATCH (a:A)-[:X]->(b:B) RETURN b")
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
      in.addData((2L, 3L, "Y"))
      drain(q)
      // a fresh load sees the second increment; stats are fresh per load
      val db2 = StreamOps.loadIngested(spark, base, s"$root/lake")
      assert(db2.query("MATCH (b:B)-[:Y]->(c:B) RETURN b, c")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 3L)))
      assert(db2.stats.edgeCounts("X") == 2 && db2.stats.edgeCounts("Y") == 1)
      // the earlier load is an immutable snapshot — unaffected
      assert(db1.stats.edgeCounts.get("Y").isEmpty)
    } finally q.stop()
  }

  test("nearDedupAgainstCorpus: LSH band anti joins drop near-dups of history, stream equals batch") {
    // corpus doc 10 is a 9-word sentence; incoming doc 1 is a NEAR-dup
    // (one word changed — 5-gram signatures collide in some band), doc 2 is
    // unrelated, doc 3 is an EXACT dup (all bands collide)
    // fixture chosen so the near-dup PROVABLY collides (hashing is
    // deterministic md5: this 20-word/one-word-changed pair shares minhash
    // bands 0, 1 and 3 — verified against an independent replication)
    val corpusText = (1 to 20).map("w" + _).mkString(" ")
    val nearDup = (1 to 19).map("w" + _).mkString(" ") + " cat"
    val corpus = Seq((10L, corpusText)).toDF("doc_id", "text")
    val batchIn = Seq(
      (1L, nearDup),
      (2L, "completely unrelated words live in this document here"),
      (3L, corpusText)).toDF("doc_id", "text")
    val batchOut = StreamOps.nearDedupAgainstCorpus(batchIn, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(batchOut == Set(2L)) // both the exact and the near dup dropped
    // identical code path on an append-mode stream: numBands chained
    // stream-static anti joins, all stateless
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.nearDedupAgainstCorpus(
        in.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text")
      .select("doc_id")
      .writeStream.format("memory").queryName("neardedup").outputMode("append").start()
    try {
      in.addData((1L, nearDup), (2L,
        "completely unrelated words live in this document here"))
      drain(q)
      in.addData((3L, corpusText))
      drain(q)
      assert(spark.table("neardedup").as[Long].collect().toSet == batchOut)
    } finally q.stop()
  }

  test("writePartitionedStream: micro-batches land in the partitioned layout, idempotent per batch") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-stream-sink")
    val in = MemoryStream[GEvent]
    val q = StreamOps.writePartitionedStream(in.toDF(), s"$root/data",
      partitionCols = Seq("event_type"), checkpoint = s"$root/ckpt")
    try {
      in.addData(batchEvents.take(2): _*)
      drain(q)
      in.addData(batchEvents.drop(2): _*)
      drain(q)
      val back = spark.read.parquet(s"$root/data")
      // everything arrived exactly once, with batch_id + event_type partitions
      assert(back.count() == batchEvents.size)
      assert(back.columns.contains("batch_id") && back.columns.contains("event_type"))
      assert(back.select("event_id").as[Long].collect().toSet ==
        batchEvents.map(_.event_id).toSet)
      // partition pruning works on the layout
      assert(back.filter(col("event_type") === "purchase").count() == 1)
      // per-batch directories: batch 0 has the first two events only
      assert(spark.read.parquet(s"$root/data/batch_id=0").count() == 2)
    } finally q.stop()
  }

  test("KMV sketch runs incrementally: streaming complete-mode equals batch") {
    // the sketch Aggregator's bounded buffer IS its streaming state —
    // the same code path aggregates a stream with no modification
    val in = MemoryStream[(String, String)]
    val sketched = graft.sketch.Sketches.kmvDistinct(
      in.toDF().toDF("src", "tok"), "src", org.apache.spark.sql.functions.col("tok"), k = 8)
    val q = sketched.writeStream.format("memory").queryName("kmv")
      .outputMode("complete").start()
    try {
      val all = (1 to 40).map(i => ("a", s"t${i % 25}")) ++ (1 to 5).map(i => ("b", s"u$i"))
      in.addData(all.take(20): _*)
      drain(q)
      in.addData(all.drop(20): _*)
      drain(q)
      val stream = spark.sql("SELECT * FROM kmv").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val batch = graft.sketch.Sketches.kmvDistinct(
        all.toDF("src", "tok"), "src", $"tok", k = 8).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(stream == batch)
      assert(stream("b") == 5.0) // under k → exact
    } finally q.stop()
  }

  test("windowedHllRegisters streaming ≡ batch; read-side estimate matches") {
    // the register table is ONE streaming aggregate (max rank is monotone),
    // maintained incrementally across micro-batches in update mode; the
    // estimate over the final registers equals the one-shot batch estimate
    val in = MemoryStream[GEvent]
    val q = StreamOps.windowedHllRegisters(
        in.toDF(), Seq("event_type"), $"user_id", p = 6,
        windowDur = "1 day", wm = "1 hour")
      .writeStream.format("memory").queryName("hllregs").outputMode("complete").start()
    try {
      val evs = (1 to 120).map(i => GEvent(i.toLong,
        ts(f"2024-01-0${1 + i % 2}%d 10:00:00"), (i % 37).toLong, "click", 1.0))
      in.addData(evs.take(60): _*)
      drain(q)
      in.addData(evs.drop(60): _*)
      drain(q)
      val streamRegs = spark.table("hllregs")
        .select($"w_start".cast("string"), $"event_type", $"idx", $"r")
        .as[(String, String, Long, Long)].collect().toSet
      val batchRegs = StreamOps.windowedHllRegisters(
          evs.toDF(), Seq("event_type"), $"user_id", p = 6)
        .select($"w_start".cast("string"), $"event_type", $"idx", $"r")
        .as[(String, String, Long, Long)].collect().toSet
      assert(streamRegs == batchRegs)
      // read-side estimate over the sunk registers == one-shot batch chain
      val est = graft.sketch.Sketches.hllEstimate(
          spark.table("hllregs"), Seq("w_start", "event_type"), 6)
        .select($"w_start".cast("string"), $"event_type", $"est")
        .as[(String, String, Double)].collect().toSet
      val batchEst = StreamOps.windowedHllDistinct(
          evs.toDF(), Seq("event_type"), $"user_id", p = 6)
        .select($"w_start".cast("string"), $"event_type", $"est")
        .as[(String, String, Double)].collect().toSet
      assert(est == batchEst)
      // sanity: ~37 distinct users split over two daily windows
      est.foreach { case (_, _, e) => assert(e > 15 && e < 45, s"est $e") }
    } finally q.stop()
  }

  test("windowedCmsTable streaming ≡ batch; lookups never undercount") {
    import org.apache.spark.sql.functions.{col, lit}
    val in = MemoryStream[GEvent]
    val q = StreamOps.windowedCmsTable(in.toDF(), col("user_id"), lit(1L),
        d = 3, w = 64, windowDur = "1 day", wm = "1 hour")
      .writeStream.format("memory").queryName("cmswin").outputMode("complete").start()
    try {
      val evs = (1 to 200).map(i => GEvent(i.toLong,
        ts(f"2024-02-0${1 + i % 2}%d 09:00:00"), (i % 23).toLong, "click", 1.0))
      in.addData(evs.take(90): _*)
      drain(q)
      in.addData(evs.drop(90): _*)
      drain(q)
      val stream = spark.table("cmswin")
        .select($"w_start".cast("string"), $"j", $"bucket", $"c")
        .as[(String, Int, Long, Long)].collect().toSet
      val batch = StreamOps.windowedCmsTable(evs.toDF(), col("user_id"), lit(1L),
          d = 3, w = 64, windowDur = "1 day")
        .select($"w_start".cast("string"), $"j", $"bucket", $"c")
        .as[(String, Int, Long, Long)].collect().toSet
      assert(stream == batch)
      // read-side lookup on one window's slice never undercounts the truth
      val day1 = spark.table("cmswin").filter($"w_start".cast("string").startsWith("2024-02-01"))
        .select($"j", $"bucket", $"c")
      val probes = evs.filter(_.ts.toString.startsWith("2024-02-01"))
        .map(_.user_id).distinct.map(Tuple1(_)).toDF("user_id")
      val est = graft.sketch.Sketches.cmsLookup(day1, probes, "user_id", 3, 64)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val truth = evs.filter(_.ts.toString.startsWith("2024-02-01"))
        .groupBy(_.user_id).view.mapValues(_.size.toLong).toMap
      truth.foreach { case (u, t) => assert(est(u) >= t, s"user $u: ${est(u)} < $t") }
    } finally q.stop()
  }

  test("windowedTrendSums streaming ≡ batch; read-out equals direct trend") {
    import org.apache.spark.sql.functions.{col, hour}
    val in = MemoryStream[GEvent]
    val q = StreamOps.windowedTrendSums(in.toDF(), Seq("event_type"),
        hour(col("ts")), col("value"), windowDur = "1 day", wm = "1 hour")
      .writeStream.format("memory").queryName("trendw").outputMode("complete").start()
    try {
      // y = 2·hour + type-dependent offset, split across two days/batches
      val evs = (1 to 96).map { i =>
        val h = i % 24
        GEvent(i.toLong, ts(f"2024-07-0${1 + i % 2}%d $h%02d:30:00"),
          1L, if (i % 3 == 0) "a" else "b", 2.0 * h + (if (i % 3 == 0) 5.0 else 1.0))
      }
      in.addData(evs.take(40): _*)
      drain(q)
      in.addData(evs.drop(40): _*)
      drain(q)
      val stream = spark.table("trendw")
        .select($"w_start".cast("string"), $"event_type", $"n",
          $"__sx".cast("string"), $"__sxy".cast("string"))
        .as[(String, String, Long, String, String)].collect().toSet
      val batch = StreamOps.windowedTrendSums(evs.toDF(), Seq("event_type"),
          hour(col("ts")), col("value"))
        .select($"w_start".cast("string"), $"event_type", $"n",
          $"__sx".cast("string"), $"__sxy".cast("string"))
        .as[(String, String, Long, String, String)].collect().toSet
      assert(stream == batch)
      // read-out recovers the exact planted line per (window, type)
      val lines = StreamOps.windowedTrend(evs.toDF(), Seq("event_type"),
          hour(col("ts")), col("value"))
        .collect().map(r => (r.getString(1), r.getDouble(3), r.getDouble(4)))
      lines.foreach { case (t, slope, icept) =>
        assert(slope == 2.0 && icept == (if (t == "a") 5.0 else 1.0), s"($t, $slope, $icept)")
      }
    } finally q.stop()
  }

  test("windowedBloomBits streaming ≡ batch; window probes never false-negative") {
    import org.apache.spark.sql.functions.col
    val in = MemoryStream[GEvent]
    val q = StreamOps.windowedBloomBits(in.toDF(), col("user_id"), k = 3, mBits = 64,
        windowDur = "1 day", wm = "1 hour")
      .writeStream.format("memory").queryName("bloomwin").outputMode("complete").start()
    try {
      val evs = (1 to 120).map(i => GEvent(i.toLong,
        ts(f"2024-06-0${1 + i % 2}%d 09:00:00"), (i % 19).toLong, "click", 1.0))
      in.addData(evs.take(50): _*)
      drain(q)
      in.addData(evs.drop(50): _*)
      drain(q)
      val stream = spark.table("bloomwin")
        .select($"w_start".cast("string"), $"pos", $"n")
        .as[(String, Long, Long)].collect().toSet
      val batch = StreamOps.windowedBloomBits(evs.toDF(), col("user_id"), k = 3, mBits = 64,
          windowDur = "1 day")
        .select($"w_start".cast("string"), $"pos", $"n")
        .as[(String, Long, Long)].collect().toSet
      assert(stream == batch)
      // every key seen on day 1 must probe positive against day 1's slice
      val day1 = spark.table("bloomwin")
        .filter($"w_start".cast("string").startsWith("2024-06-01")).select("pos")
      val probes = evs.filter(_.ts.toString.startsWith("2024-06-01"))
        .map(_.user_id).distinct.map(Tuple1(_)).toDF("user_id")
      val might = graft.sketch.Sketches.bloomMightContain(day1, probes, "user_id",
          k = 3, mBits = 64)
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(might.values.forall(identity), s"false negative in $might")
    } finally q.stop()
  }

  test("scd2Stream: batch flush equals EventOps.scd2; stream emits the closed subset") {
    import org.apache.spark.sql.functions.col
    val evs = Seq(
      GEvent(1L, ts("2024-05-01 10:00:00"), 1L, "A", 0.0),
      GEvent(2L, ts("2024-05-01 11:00:00"), 1L, "A", 0.0), // absorbed
      GEvent(3L, ts("2024-05-01 12:00:00"), 1L, "B", 0.0),
      GEvent(4L, ts("2024-05-01 13:00:00"), 1L, "A", 0.0),
      GEvent(5L, ts("2024-05-01 10:30:00"), 2L, "C", 0.0)
    )
    // batch path ≡ the relational build
    val batch = StreamOps.scd2Stream(evs.toDS()).toDF()
      .collect().map(_.toSeq).toSet
    val relational = graft.events.EventOps.scd2(
        evs.toDF().select("user_id", "ts", "event_type", "event_id"),
        "user_id", "ts", Seq("event_type"), "event_id")
      .collect().map(_.toSeq).toSet
    assert(batch == relational)
    // stream: closed versions emit as successors arrive; open rows stay in state
    val in = MemoryStream[GEvent]
    val q = StreamOps.scd2Stream(in.toDS())
      .writeStream.format("memory").queryName("scd2s").outputMode("append").start()
    try {
      in.addData(evs.take(3): _*)
      drain(q)
      in.addData(evs.drop(3): _*)
      drain(q)
      val streamed = spark.table("scd2s").collect().map(_.toSeq).toSet
      val closedOnly = batch.filter(r => r(4) == false)
      assert(streamed == closedOnly)
    } finally q.stop()
    // out-of-order cross-batch arrival raises instead of corrupting history
    val in2 = MemoryStream[GEvent]
    val q2 = StreamOps.scd2Stream(in2.toDS())
      .writeStream.format("memory").queryName("scd2bad").outputMode("append").start()
    try {
      in2.addData(GEvent(9L, ts("2024-05-02 10:00:00"), 7L, "X", 0.0))
      drain(q2)
      in2.addData(GEvent(10L, ts("2024-05-02 09:00:00"), 7L, "Y", 0.0))
      val ex = intercept[Exception] { drain(q2); q2.processAllAvailable() }
      assert(String.valueOf(ex.getMessage).contains("out-of-order") ||
        ex.getCause != null)
    } finally q2.stop()
  }

  test("windowedBottomKSample streaming ≡ batch; read-side quantiles match") {
    // the bottom-k sample is a pure function of the row SET (shared md5
    // hash), so any micro-batch split converges to the same sample table
    val in = MemoryStream[GEvent]
    val q = StreamOps.windowedBottomKSample(
        in.toDF(), Seq("event_type"), $"event_id", $"value", k = 16,
        windowDur = "1 day", wm = "1 hour")
      .writeStream.format("memory").queryName("bksamp").outputMode("complete").start()
    try {
      val evs = (1 to 150).map(i => GEvent(i.toLong,
        ts(f"2024-03-0${1 + i % 2}%d 11:00:00"), (i % 29).toLong, "click", i * 0.5))
      in.addData(evs.take(70): _*)
      drain(q)
      in.addData(evs.drop(70): _*)
      drain(q)
      val stream = spark.table("bksamp")
        .select($"w_start".cast("string"), $"event_type", $"h", $"v")
        .as[(String, String, String, Double)].collect().toSet
      val batch = StreamOps.windowedBottomKSample(
          evs.toDF(), Seq("event_type"), $"event_id", $"value", k = 16)
        .select($"w_start".cast("string"), $"event_type", $"h", $"v")
        .as[(String, String, String, Double)].collect().toSet
      assert(stream == batch)
      assert(stream.groupBy(t => (t._1, t._2)).forall(_._2.size == 16)) // k per window
      // read-side quantiles over the sunk sample == one-shot batch chain
      val est = graft.sketch.Sketches.sampleQuantiles(
          spark.table("bksamp"), Seq("w_start", "event_type"), Seq(0.5, 0.9))
        .select($"w_start".cast("string"), $"event_type", $"q", $"est")
        .as[(String, String, Double, Double)].collect().toSet
      val batchEst = StreamOps.windowedQuantiles(
          evs.toDF(), Seq("event_type"), $"event_id", $"value", Seq(0.5, 0.9), k = 16)
        .select($"w_start".cast("string"), $"event_type", $"q", $"est")
        .as[(String, String, Double, Double)].collect().toSet
      assert(est == batchEst)
    } finally q.stop()
    // a value that does not cast to a double leaves the sample, exactly as
    // in the batch bottomKSample. An ANSI cast raises on "x" instead of
    // reading NULL, so this part runs with ANSI off.
    import org.apache.spark.sql.functions.{lit, when}
    val ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val few = (1 to 7).map(i => GEvent(i.toLong,
        ts(f"2024-03-0${1 + i % 2}%d 11:00:00"), 1L, "click", i * 0.5))
      val v = when($"event_id" === 7L, lit("x")).otherwise($"value".cast("string"))
      val in2 = MemoryStream[GEvent]
      val q2 = StreamOps.windowedBottomKSample(in2.toDF(), Seq("event_type"), $"event_id", v,
          k = 16)
        .writeStream.format("memory").queryName("bksampx").outputMode("complete").start()
      try {
        in2.addData(few: _*)
        drain(q2)
        val stream = spark.table("bksampx").select($"h", $"v").as[(String, Double)]
          .collect().toSet
        val batch = StreamOps.windowedBottomKSample(
            few.toDF(), Seq("event_type"), $"event_id", v, k = 16)
          .select($"h", $"v").as[(String, Double)].collect().toSet
        val numeric = graft.sketch.Sketches.bottomKSample(
            few.filter(_.event_id != 7L).toDF(), Seq("event_type"), $"event_id", $"value", 16)
          .select($"h", $"v").as[(String, Double)].collect().toSet
        assert(stream == batch)
        assert(batch == numeric) // under-full: every numeric row, not "x"
      } finally q2.stop()
    } finally spark.conf.set("spark.sql.ansi.enabled", ansi)
  }

  test("windowedKeyCounts streaming ≡ batch; read-side heavy hitters exact") {
    import org.apache.spark.sql.functions.col
    val in = MemoryStream[GEvent]
    val q = StreamOps.windowedKeyCounts(in.toDF(), col("user_id"),
        windowDur = "1 day", wm = "1 hour")
      .writeStream.format("memory").queryName("keycnt").outputMode("complete").start()
    try {
      // skew one user per day so the φ = 1/4 threshold has survivors
      val evs = (1 to 160).map { i =>
        val day = 1 + i % 2
        val uid = if (i % 3 == 0) day.toLong else (10 + i % 11).toLong
        GEvent(i.toLong, ts(f"2024-04-0$day%d 08:00:00"), uid, "click", 1.0)
      }
      in.addData(evs.take(80): _*)
      drain(q)
      in.addData(evs.drop(80): _*)
      drain(q)
      val stream = spark.table("keycnt")
        .select($"w_start".cast("string"), $"k", $"cnt")
        .as[(String, String, Long)].collect().toSet
      val batch = StreamOps.windowedKeyCounts(evs.toDF(), col("user_id"))
        .select($"w_start".cast("string"), $"k", $"cnt")
        .as[(String, String, Long)].collect().toSet
      assert(stream == batch)
      // read-side threshold over the sunk counts == batch heavy hitters.
      // (re-materialize the sink rows: self-joining the same memory VIEW
      // twice trips conflicting-attribute analysis — a real reader joins
      // two scans of the sunk files, which is what this simulates)
      val sunk = spark.table("keycnt").collect().toSeq
      val counts = spark.createDataFrame(
        spark.sparkContext.parallelize(sunk), spark.table("keycnt").schema)
      val totals = counts.groupBy("w_start")
        .agg(org.apache.spark.sql.functions.sum("cnt").as("__n"))
      val hh = counts.join(totals, "w_start").filter($"cnt" * 4 > $"__n")
        .select($"w_start".cast("string"), $"k", $"cnt")
        .as[(String, String, Long)].collect().toSet
      val batchHh = StreamOps.windowedHeavyHitters(evs.toDF(), col("user_id"), s = 4)
        .select($"w_start".cast("string"), $"key", $"cnt")
        .as[(String, String, Long)].collect().toSet
      assert(hh == batchHh && hh.nonEmpty)
      // exactness: every reported count is the true count
      val truth = evs.groupBy(e => (e.ts.toString.take(10), e.user_id.toString))
        .view.mapValues(_.size.toLong).toMap
      hh.foreach { case (w, k, c) => assert(truth((w.take(10), k)) == c) }
    } finally q.stop()
  }
}
