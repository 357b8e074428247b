package graft

import graft.text.TextOps

/** Dedup/text-analysis operators on hand-computable fixtures plus the real
  * documents table (planted near-dups at 5-gram Jaccard ≥ 0.9, TESTDATA.md). */
class TextSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),    // near-dup of 1
    (3L, "totally different words appear in this one here"),
    (4L, "the quick brown fox jumps over the lazy dog"),    // exact dup of 1
    (5L, "short text")                                      // < 5 words: no shingles
  ).toDF("doc_id", "text")

  test("lmCrossScore: hand-computed smoothing, OOV floor, in-domain ranks higher") {
    import org.apache.spark.sql.functions.col
    // reference: 4 tokens, vocab {a: 2, b: 1, c: 1} → N=4, V=3
    val ref = Seq((100L, "a a b c")).toDF("doc_id", "text")
    val cand = Seq(
      (1L, "a b"),      // ln(3/7), ln(2/7)
      (2L, "z z"))      // OOV floor: ln(1/7) twice
      .toDF("doc_id", "text")
    val got = TextOps.lmCrossScore(ref, cand, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3))))
      .toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((2L, r6((math.log(3.0 / 7) + math.log(2.0 / 7)) / 2), 0L)))
    assert(got(2L) == ((2L, r6(math.log(1.0 / 7)), 2L)))
    assert(got(1L)._2 > got(2L)._2, "in-domain text must outscore OOV salad")
  }

  test("shingles: n-grams, distinct, short docs dropped") {
    val sh = TextOps.shingles(docs, "doc_id", "text", 5)
    val byDoc = sh.groupBy("doc_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byDoc == Map(1L -> 5, 2L -> 5, 3L -> 4, 4L -> 5)) // 9 words → 5 5-grams
    assert(sh.filter($"doc_id" === 1 && $"shingle" === "the quick brown fox jumps").count() == 1)
  }

  test("exact dedup groups identical normalized text") {
    val d = TextOps.dedupExact(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(d == Set((1L, 2L), (2L, 1L), (3L, 1L), (5L, 1L))) // doc1+4 merged
  }

  test("jaccard pairs finds the near-dup, not the unrelated doc") {
    val pairs = TextOps.jaccardPairs(docs, "doc_id", "text", 5, 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 4L), (2L, 4L)))
    // doc1 vs doc2: 9 words, 5 shingles each, 4 shared → 4/6
    val j = TextOps.jaccardPairs(docs, "doc_id", "text", 5, 0.3)
      .filter($"a" === 1 && $"b" === 2).collect()(0).getDouble(2)
    assert(math.abs(j - 4.0 / 6.0) < 1e-6)
  }

  test("duplicate spans: maximal cross-doc spans, merge rule, within-doc excluded") {
    // docs 1/2 share one contiguous 6-token run ("alpha..zeta") embedded in
    // unique context; doc 3 is fully unique; doc 4 repeats ITS OWN phrase
    // (within-doc repetition must NOT mark — minDocs counts DISTINCT docs)
    val d = Seq(
      (1L, "u1 u2 alpha beta gamma delta eps zeta u3 u4"),
      (2L, "v1 alpha beta gamma delta eps zeta v2 v3 v4"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9"),
      (4L, "r1 r2 r3 r4 r1 r2 r3 r4 r1 r2 r3 r4")
    ).toDF("doc_id", "text")
    val spans = TextOps.duplicateSpans(d, "doc_id", "text", k = 4, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc1: grams at pos 2,3,4 (alpha.., beta.., gamma..) → span tokens 2..7
    // doc2: grams at pos 1,2,3 → span tokens 1..6
    assert(spans == Set((1L, 2L, 7L), (2L, 1L, 6L)))
    // cleaning cuts exactly the span and reconstructs canonical text
    val clean = TextOps.removeDuplicateSpans(d, "doc_id", "text", k = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(clean(1L) == ((4L, 6L, "u1 u2 u3 u4")))
    assert(clean(2L) == ((4L, 6L, "v1 v2 v3 v4")))
    assert(clean(3L) == ((9L, 0L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")))
    assert(clean(4L)._2 == 0L) // within-doc repetition untouched
    // two DISJOINT shared runs (gap > k) stay two spans
    val d2 = Seq(
      (1L, "a b c d x1 x2 x3 x4 x5 e f g h"),
      (2L, "a b c d y1 y2 y3 y4 y5 e f g h")).toDF("doc_id", "text")
    val s2 = TextOps.duplicateSpans(d2, "doc_id", "text", k = 4, minDocs = 2)
      .filter($"doc_id" === 1).collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(s2 == Set((0L, 3L), (9L, 12L)))
  }

  test("jaccard pairs: hot-shingle doc-frequency cap defuses the d² self-join") {
    // N docs sharing ONE boilerplate 5-gram (a viral footer) plus unique
    // filler: uncapped, the self-join's boilerplate key alone fans out to
    // N·(N−1)/2 candidate rows; the df-cap drops the shingle before the
    // join, so docs similar ONLY through boilerplate produce no pairs.
    val n = 40
    val boiler = "all rights reserved by us"
    val hotDocs = (1 to n).map(i =>
      (i.toLong, s"$boiler unique$i filler$i words$i here$i now$i")).toDF("doc_id", "text")
    // cap below N: the boilerplate shingle (df = N) is dropped → no pairs
    // at all (every remaining shingle is unique to its doc)
    val capped = TextOps.jaccardPairs(hotDocs, "doc_id", "text", 5, 0.01, maxDocFreq = n - 1)
    assert(capped.count() == 0)
    // cap at N: the shingle survives and the quadratic pair set appears —
    // proving the cap (not luck) is what bounded the join above
    val uncapped = TextOps.jaccardPairs(hotDocs, "doc_id", "text", 5, 0.01, maxDocFreq = n)
    assert(uncapped.count() == n.toLong * (n - 1) / 2)
    // capped-universe semantics: sizes shrink with the dropped shingle, so
    // surviving pairs score a TRUE Jaccard of the filtered sets. Two docs
    // sharing boilerplate AND a real near-dup shingle set keep their pair.
    val mixed = Seq(
      (1L, s"$boiler the quick brown fox jumps over the lazy dog"),
      (2L, s"$boiler the quick brown fox jumps over the lazy cat"),
      (3L, s"$boiler completely unrelated content sits in this document"))
      .toDF("doc_id", "text")
    val p = TextOps.jaccardPairs(mixed, "doc_id", "text", 5, 0.3, maxDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p == Set((1L, 2L)))
  }

  test("minhash and simhash dedup match exhaustive jaccard on documents table") {
    val documents = spark.read.parquet(s"$SF/documents.parquet")
    val exhaustive = TextOps.jaccardPairs(documents, "doc_id", "text", 5, 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val minhash = TextOps.minhashDedup(documents, "doc_id", "text")
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(minhash == exhaustive)
    val simhash = TextOps.simhashDedup(documents, "doc_id", "text")
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(simhash == exhaustive)
    assert(exhaustive.nonEmpty) // the data has planted near-dups
  }

  test("dedup scratch caches are released after the first materializing action") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val result = TextOps.minhashDedup(docs, "doc_id", "text", threshold = 0.3)
    result.select("a", "b").count() // first action: cache serves the 3 scans
    // the release listener fires async on the listener bus — poll briefly
    val deadline = System.currentTimeMillis() + 20000
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(leaked.isEmpty, s"shingle cache not released: RDDs $leaked")
    // a second action still computes the same (uncached) result
    assert(result.count() == 3)
  }

  test("vocabulary: tf counts every occurrence, df counts documents once") {
    val v = TextOps.vocabulary(docs, "doc_id", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(v("the") == (6L, 3L))  // docs 1, 2, 4: twice each
    assert(v("text") == (1L, 1L))
    assert(v("cat") == (1L, 1L))
  }

  test("tfidf: rare terms outrank ubiquitous ones; rank window is per-doc") {
    val top = TextOps.tfIdfTopTerms(docs, "doc_id", "text", 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(3)))
    assert(top.count(_._1 == 1L) == 2)
    // doc2's most distinctive term is its unique word, not the repeated 'the'
    assert(top.collect { case (2L, tok, 1) => tok }.head == "cat")
    // every doc has a rank-1 entry
    assert(top.filter(_._3 == 1).map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("stratified sampling keeps none at 0, all at 1, and is reproducible") {
    val ids = spark.range(0, 1000).toDF("doc_id")
      .withColumn("source", ($"doc_id" % 2 === 0).cast("string"))
    val all = TextOps.sampleStratified(ids, "doc_id", "source", Map("true" -> 1.0), 0.0)
    assert(all.filter($"source" === "true").count() == 500)
    assert(all.filter($"source" === "false").count() == 0)
    val half = TextOps.sampleStratified(ids, "doc_id", "source", Map.empty, 0.5)
    val n1 = half.count(); val n2 = half.count()
    assert(n1 == n2 && n1 > 350 && n1 < 650) // deterministic, ≈ rate
  }

  test("contamination: near-dup docs across corpus/benchmark split are flagged") {
    val bench = docs.filter($"doc_id" === 1)
    val corpus = docs.filter($"doc_id" =!= 1)
    val hits = TextOps.contamination(corpus, bench, "doc_id", "text", 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // docs 2 (near-dup) and 4 (exact dup) share ≥3 3-grams with doc 1; doc 3 none
    assert(hits.map(_._1).toSet == Set(2L, 4L))
    assert(hits.forall(_._2 == 1L))
    assert(hits.collect { case (4L, _, s) => s }.head == 7L) // 9 words → 7 3-grams
  }

  test("sequence packing: two-level prefix scan equals the naive global cumsum") {
    // ids straddle chunk boundaries (chunkSize = 4) so the chunk-offset
    // broadcast path is exercised; budget 10 packs docs 1..5 of sizes
    // 9,9,8,9,2 at exclusive offsets 0,9,18,26,35 → bins 0,0,1,2,3
    val packed = TextOps.packSequences(docs, "doc_id", "text", budget = 10, chunkSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(packed.toSeq == Seq(
      (1L, 9L, 0L, 0L), (2L, 9L, 0L, 9L), (3L, 8L, 1L, 8L),
      (4L, 9L, 2L, 6L), (5L, 2L, 3L, 5L)))
  }

  test("dedup clusters: transitive closure of pairs, canonical = min id, singletons kept") {
    // pairs 1-2, 2-4 form one cluster {1,2,4}; 3 and 5 are singletons
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("a", "b")
    val got = TextOps.dedupClusters(docs, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 1L, true), (2L, 1L, false), (3L, 3L, true), (4L, 1L, false), (5L, 5L, true)))
    // end-to-end over the minhash pair generator: 1, 2, 4 collapse (2 is a
    // near-dup of 1 at jaccard 0.5 exactly? verify via the exact pair set)
    val mh = TextOps.minhashDedup(docs, "doc_id", "text").select("a", "b")
    val e2e = TextOps.dedupClusters(docs, "doc_id", mh)
      .filter(!$"keep").collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(e2e.toSeq == Seq((2L, 1L), (4L, 1L)))
  }

  test("boilerplate: shared n-grams counted per doc, fraction over doc n-grams") {
    // with n=5, docs 1/2/4 share 'the quick brown fox jumps' etc.; doc 3
    // shares nothing; doc 5 has no 5-grams
    val got = TextOps.boilerplateStats(docs, "doc_id", "text", n = 5, minDocs = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // 9 words → 5 shingles; 1 and 4 are identical → all 5 boilerplate;
    // 2 differs in the last word → shares the first 4
    assert(got(1L) == ((5L, 5L, 1.0)) && got(4L) == ((5L, 5L, 1.0)))
    assert(got(2L) == ((5L, 4L, 0.8)))
    assert(got(3L) == ((4L, 0L, 0.0))) // 8 words → 4 shingles, none shared
    assert(!got.contains(5L))          // too short for any shingle
  }

  test("pii redaction: all kinds replaced, counts from the original text") {
    val pii = Seq(
      (1L, "mail a.user+x@sub.example.org then 10.0.0.1 and 555-867-5309 done"),
      (2L, "two mails a@b.io c@d.co one bad ip 999999 and no phone"),
      (3L, "clean text with nothing to hide")
    ).toDF("doc_id", "text")
    val got = TextOps.redactPii(pii, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == (("mail [EMAIL] then [IPV4] and [PHONE] done", 1L, 1L, 1L)))
    assert(got(2L)._2 == 2L && got(2L)._3 == 0L && got(2L)._4 == 0L)
    assert(got(3L) == (("clean text with nothing to hide", 0L, 0L, 0L)))
  }

  test("token counts, quality, langid, fingerprint are deterministic projections") {
    val tc = TextOps.tokenCounts(docs, "doc_id", "text")
      .filter($"doc_id" === 1).collect()(0)
    assert(tc.getLong(1) == 9 && tc.getLong(2) == 9)
    val q = TextOps.qualityScore(docs, "doc_id", "text").filter($"doc_id" === 1).collect()(0)
    assert(q.getDouble(q.fieldIndex("alpha_ratio")) > 0.7)
    val lid = TextOps.langId(docs, "doc_id", "text").filter($"doc_id" === 1).collect()(0)
    assert(lid.getString(1) == "en") // 'the' twice
    val fp = TextOps.fingerprint(docs, "doc_id", "text")
    // exact dups share a fingerprint
    assert(fp.filter($"doc_id".isin(1L, 4L)).select("fp").distinct().count() == 1)
  }

  test("chunk: overlap coverage, no redundant tail, short docs yield one chunk") {
    val d = Seq((1L, "abcdefghij"), (2L, "abc"), (3L, "abcdefghijklm")).toDF("doc_id", "text")
    // size 8, overlap 4 → step 4; nChunks = max(1, ceil((len-4)/4))
    val ch = TextOps.chunk(d, "doc_id", "text", 8, 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(ch == Set(
      (1L, 0, "abcdefgh"), (1L, 1, "efghij"),            // len 10 → 2 chunks
      (2L, 0, "abc"),                                    // short doc → 1 chunk
      (3L, 0, "abcdefgh"), (3L, 1, "efghijkl"), (3L, 2, "ijklm"))) // len 13 → 3
    // zero overlap degenerates to a plain fixed-width split
    val zeroOverlap = TextOps.chunk(d, "doc_id", "text", 5, 0)
      .filter($"doc_id" === 3).collect().map(_.getString(2)).toSeq
    assert(zeroOverlap == Seq("abcde", "fghij", "klm"))
  }

  test("encodeDocs: rank-by-frequency vocab, OOV as 0, per-doc positions") {
    val d = Seq((1L, "b b a a a c"), (2L, "a x b")).toDF("doc_id", "text")
    // freq: a=4, b=3, c=1, x=1 → vocab size 2 = {a→1, b→2}; c,x OOV
    val got = TextOps.encodeDocs(d, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet
    assert(got == Set(
      (1L, 0, "b", 2L), (1L, 1, "b", 2L), (1L, 2, "a", 1L),
      (1L, 3, "a", 1L), (1L, 4, "a", 1L), (1L, 5, "c", 0L),
      (2L, 0, "a", 1L), (2L, 1, "x", 0L), (2L, 2, "b", 2L)))
    // tie-break at the vocab boundary is (count desc, token asc): c before x
    val v3 = TextOps.encodeDocs(d, "doc_id", "text", 3)
      .filter($"tok" === "c" || $"tok" === "x")
      .collect().map(r => r.getString(2) -> r.getLong(3)).toMap
    assert(v3 == Map("c" -> 3L, "x" -> 0L))
  }

  test("bigramLogProb: conditional transition probs, short docs absent") {
    val d = Seq((1L, "a b a b"), (2L, "a c"), (3L, "x")).toDF("doc_id", "text")
    // bigrams: doc1 = (a,b),(b,a),(a,b); doc2 = (a,c)
    // c1(a)=3 [a→b ×2, a→c], c1(b)=1; c2(a,b)=2, c2(b,a)=1, c2(a,c)=1
    // doc1: mean ln of [2/3, 1/1, 2/3]; doc2: ln(1/3); doc3: no bigrams
    val got = TextOps.bigramLogProb(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val d1 = (math.log(2.0 / 3) + math.log(1.0) + math.log(2.0 / 3)) / 3
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L)._1 == 3L && math.abs(got(1L)._2 - d1) < 1e-6)
    assert(got(2L)._1 == 1L && math.abs(got(2L)._2 - math.log(1.0 / 3)) < 1e-6)
  }

  test("quotaPerGroup: caps each group under the given order, rank exposed") {
    val d = Seq(("s1", 1L, 0.9), ("s1", 2L, 0.8), ("s1", 3L, 0.7),
                ("s2", 4L, 0.5), ("s2", 5L, 0.5)).toDF("source", "doc_id", "score")
    val got = TextOps.quotaPerGroup(d, "source", 2, $"score".desc, $"doc_id".asc)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == Set(("s1", 1L, 1), ("s1", 2L, 2), ("s2", 4L, 1), ("s2", 5L, 2)))
  }

  test("epochMix: integral epochs copy exactly, zero drops, fractions deterministic") {
    val d = (1L to 40L).map(i => (i, if (i <= 10) "dup" else if (i <= 20) "drop" else "keep"))
      .toDF("doc_id", "source")
    val out = TextOps.epochMix(d, "doc_id", "source",
      Map("dup" -> 3.0, "drop" -> 0.0), defaultEpochs = 1.0)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc == Map("dup" -> 30L, "keep" -> 20L)) // drop absent entirely
    // each dup row appears with epochs 0, 1, 2
    val epochs = out.filter($"source" === "dup" && $"doc_id" === 1L)
      .select("epoch").collect().map(_.getInt(0)).sorted
    assert(epochs.toSeq == Seq(0, 1, 2))
    // fractional epochs: rerun is byte-identical (md5 draw, no rand())
    val frac = TextOps.epochMix(d, "doc_id", "source", Map("dup" -> 1.5))
    assert(frac.collect().toSet == TextOps.epochMix(d, "doc_id", "source",
      Map("dup" -> 1.5)).collect().toSet)
    val nDup = frac.filter($"source" === "dup").count()
    assert(nDup >= 10 && nDup <= 20) // 10 full copies + a strict subset
  }

  test("sampleWeighted: clamps, replays the md5 draw, monotone in weight") {
    val d = (1L to 200L).map(i => (i, i.toDouble / 200.0)).toDF("doc_id", "w")
    // weight 0 (and negative) drops everything; weight ≥ 1 keeps everything
    assert(TextOps.sampleWeighted(d, "doc_id", org.apache.spark.sql.functions.lit(0.0)).count() == 0L)
    assert(TextOps.sampleWeighted(d, "doc_id", org.apache.spark.sql.functions.lit(-3.0)).count() == 0L)
    assert(TextOps.sampleWeighted(d, "doc_id", org.apache.spark.sql.functions.lit(1.0)).count() == 200L)
    assert(TextOps.sampleWeighted(d, "doc_id", org.apache.spark.sql.functions.lit(7.5)).count() == 200L)
    // per-row weight: replicate the draw in the JVM
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = (1L to 200L).filter { i =>
      val thr = math.min((i / 200.0 * 1152921504606846976.0).toLong, 1152921504606846975L)
      md5hex(i.toString).substring(0, 15) <= f"$thr%015x"
    }.toSet
    val got = TextOps.sampleWeighted(d, "doc_id", $"w").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got == expect)
    assert(got.nonEmpty && got.size < 200) // a real subset at these weights
  }

  test("bpeTrain: greedy merges with deterministic tie-break; early stop when dry") {
    // words: aba(1), abab(1), ab(2), cd(1)
    // round 1: (a,b)=1+2+2=5 wins → ab
    // round 2: (ab,a)=1, (ab,ab)=1, (c,d)=1 — tie-break pair-asc → (ab,a)
    // round 3: (ab,ab) vs (c,d) → (ab,ab); round 4: (c,d); round 5: dry
    val d = Seq((1L, "aba abab"), (2L, "ab cd ab")).toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(d, "text", 5)
    assert(merges == Seq(("a", "b", "ab"), ("ab", "a", "aba"),
      ("ab", "ab", "abab"), ("c", "d", "cd")))
    // the DataFrame form carries ranks in merge order
    val mdf = TextOps.bpeMerges(d, "text", 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(mdf.toSeq == Seq((0L, "a", "b", "ab"), (1L, "ab", "a", "aba"),
      (2L, "ab", "ab", "abab"), (3L, "c", "d", "cd")))
  }

  test("bpeEncode: left-to-right application incl. consecutive pairs; no cross-word merges") {
    val train = Seq((1L, "aba abab"), (2L, "ab cd ab")).toDF("doc_id", "text")
    val merges = TextOps.bpeTrain(train, "text", 5)
    val rows = TextOps.bpeEncode(
      Seq((10L, "abab aba ab ba cd"), (11L, "a ba"), (12L, "!!")).toDF("doc_id", "text"),
      "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // 'abab' → a b a b → (a,b) merges BOTH consecutive pairs → ab ab → abab
    assert(rows(10L) == (("abab aba ab b a cd", 6L)))
    // 'a ba': the (a,b) pair spans a word boundary — must NOT merge
    assert(rows(11L) == (("a b a", 3L)))
    // no [a-z] words at all → empty tokens, zero count
    assert(rows(12L) == (("", 0L)))
  }

  test("bpe: incremental trainer ≡ brute-force recount trainer (seeded corpus)") {
    // the incremental pair-count bookkeeping must select exactly the same
    // merge sequence as recounting every word's pairs from scratch per round
    val rnd = new scala.util.Random(42)
    val alpha = "abcdef"
    val wf: Array[(Array[String], Long)] = (0 until 80).map { _ =>
      val len = 4 + rnd.nextInt(8)
      (Array.fill(len)(alpha(rnd.nextInt(alpha.length)).toString),
        (1 + rnd.nextInt(5)).toLong)
    }.toArray
    def clone2(a: Array[(Array[String], Long)]) = a.map { case (w, c) => (w.clone(), c) }
    def naive(wf0: Array[(Array[String], Long)], k: Int): Seq[(String, String, String)] = {
      var words = wf0
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
      def wrap(s: String) = "\u0001" + s + "\u0002"
      var done = false
      while (out.size < k && !done) {
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        words.foreach { case (w, c) =>
          (0 until w.length - 1).foreach(j =>
            counts.update((w(j), w(j + 1)), counts.getOrElse((w(j), w(j + 1)), 0L) + c))
        }
        if (counts.isEmpty) done = true
        else {
          val (a, b) = counts.toSeq
            .minBy { case ((a, b), c) => (-c, wrap(a) + " " + wrap(b)) }._1
          val m = a + b
          out += ((a, b, m))
          words = words.map { case (w, c) =>
            val nb = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < w.length) {
              if (i + 1 < w.length && w(i) == a && w(i + 1) == b) { nb += m; i += 2 }
              else { nb += w(i); i += 1 }
            }
            (nb.toArray, c)
          }
        }
      }
      out.toSeq
    }
    val expected = naive(clone2(wf), 120)
    val got = graft.text.TextOps.bpeTrainOnWordFreq(clone2(wf), 120)
    assert(got == expected)
  }

  test("bpe: trains and encodes at a realistic merge count (2000 merges)") {
    // the former chained-replace encode compiled one replace PER MERGE into
    // a single Catalyst expression — 2000 merges would not analyze; the
    // broadcast merge-rank mapPartitions encode must handle it routinely
    val rnd = new scala.util.Random(7)
    val alpha = "abcdefgh"
    val vocab = (0 until 700).map { _ =>
      val len = 6 + rnd.nextInt(10)
      (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    }.distinct
    val docs = vocab.grouped(10).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val merges = graft.text.TextOps.bpeTrain(docs, "text", 2000)
    assert(merges.size == 2000, s"corpus too small for 2000 merges: ${merges.size}")
    val enc = graft.text.TextOps.bpeEncode(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // lossless round-trip: deleting the token separators reproduces the
    // document's letter stream (BPE merges never add or drop characters)
    docs.collect().foreach { r =>
      val (toks, n) = enc(r.getLong(0))
      assert(toks.replace(" ", "") == r.getString(1).replace(" ", ""))
      assert(n == toks.split(" ").length.toLong)
      assert(n < r.getString(1).count(_ != ' ')) // merges actually applied
    }
  }

  test("sampleWeightedK: A-ES top-k replay, layout/scale invariance, zero-mass drop") {
    val docs = (1L to 400L).map(i => (i, (i % 97 + 1).toDouble)).toDF("doc_id", "w")
    // JVM replay of the exact draw: u = (48-bit md5 prefix + 1) / 2^48,
    // key = ln(u)/w, top-k by (key desc, id)
    val md = java.security.MessageDigest.getInstance("MD5")
    val replay = (1L to 400L).map { i =>
      val hex = md.digest(s"7:$i".getBytes("UTF-8")).map("%02x".format(_)).mkString
      val u = (java.lang.Long.parseLong(hex.substring(0, 12), 16) + 1L) / 281474976710656.0
      (i, math.log(u) / (i % 97 + 1).toDouble)
    }.sortBy { case (id, key) => (-key, id) }.take(50).map(_._1)
    val plan = TextOps.sampleWeightedK(docs, "doc_id", $"w", 50, "7")
    val got = plan.select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got.sorted == replay.sorted)
    // global top-k must be TakeOrderedAndProject (partition heaps), never
    // a full sort shuffle
    assert(plan.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
    // layout-independent
    val re = TextOps.sampleWeightedK(docs.repartition(17), "doc_id", $"w", 50, "7")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(re.sorted == got.sorted)
    // A-ES keys are scale-free: w → 3w selects the same set
    val scaled = TextOps.sampleWeightedK(docs, "doc_id", $"w" * 3.0, 50, "7")
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(scaled.sorted == got.sorted)
    // NULL / non-positive weights carry zero mass — never sampled
    val mixed = (1L to 40L).map(i =>
      (i, if (i % 2 == 0) null else java.lang.Double.valueOf(i.toDouble))).toDF("doc_id", "w")
    val m = TextOps.sampleWeightedK(mixed, "doc_id", $"w", 30, "7")
      .collect().map(_.getLong(0))
    assert(m.length == 20 && m.forall(_ % 2 == 1))
  }

  test("shuffleShards: valid seeded permutation, layout-independent; manifest totals") {
    val docs = (0L until 300L).map(i => (i, ("w " * ((i % 7).toInt + 1)).trim)).toDF("doc_id", "text")
    val k = 8
    val base = TextOps.shuffleShards(docs, "doc_id", k, "s1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every doc exactly once; shard in range; pos is 0..size-1 per shard
    assert(base.length == 300 && base.map(_._1).distinct.length == 300)
    assert(base.forall { case (_, s, _) => s >= 0 && s < k })
    base.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.size.toLong))
    }
    // layout-independent: a different partitioning yields the same triples
    val re = TextOps.shuffleShards(docs.repartition(13), "doc_id", k, "s1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(re.sorted.toSeq == base.sorted.toSeq)
    // a different seed is a genuinely different permutation
    val other = TextOps.shuffleShards(docs, "doc_id", k, "s2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(other.sorted.toSeq != base.sorted.toSeq)
    // manifest: per-shard totals equal a direct per-doc recomputation
    val byShard = base.map { case (id, s, _) => id -> s }.toMap
    val expect = docs.collect().map { r =>
      (byShard(r.getLong(0)), r.getString(1).split("\\s+").length.toLong,
        r.getString(1).length.toLong)
    }.groupBy(_._1).map { case (s, rs) =>
      s -> ((rs.size.toLong, rs.map(_._2).sum, rs.map(_._3).sum))
    }
    val got = TextOps.shardManifest(docs, "doc_id", "text", k, "s1")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got == expect)
  }

  test("assignSplits: stable, partition-independent, fractions roughly honored") {
    val d = (1L to 2000L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val s1 = TextOps.assignSplits(d, "doc_id", "sp", fr)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // layout independence: different partitioning, same assignment
    val s2 = TextOps.assignSplits(d.repartition(13), "doc_id", "sp", fr)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s1 == s2)
    val byS = s1.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(byS("train") > 1500 && byS("train") < 1700)
    assert(byS("val") > 130 && byS("val") < 280 && byS("test") > 130 && byS("test") < 280)
    // a different seed reshuffles; the same seed replays
    val s3 = TextOps.assignSplits(d, "doc_id", "other", fr)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(s3 != s1)
    intercept[IllegalArgumentException] {
      TextOps.assignSplits(d, "doc_id", "sp", Seq("a" -> 0.9, "b" -> 0.2))
    }
  }

  test("sourceOverlap: pairwise vocabulary intersection and Jaccard") {
    val d = Seq(
      (1L, "s1", "a b c"),
      (2L, "s1", "c d"),        // s1 vocab {a,b,c,d}
      (3L, "s2", "c d e"),      // s2 vocab {c,d,e}
      (4L, "s3", "x y")         // s3 vocab {x,y} — disjoint from both
    ).toDF("doc_id", "source", "text")
    val got = TextOps.sourceOverlap(d, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // disjoint pairs produce NO row (inner join on shared tokens)
    assert(got.keySet == Set(("s1", "s2")))
    assert(got(("s1", "s2")) == ((2L, 0.4))) // |{c,d}| / |{a,b,c,d,e}|
  }

  test("tokens: leading/trailing whitespace yields NO phantom empty tokens") {
    // a single leading space must not change shingles, counts, or dedup:
    // Spark's split (limit -1) keeps the "" tokens whitespace edges produce
    val d = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, " the quick brown fox jumps"),   // leading space
      (3L, "the quick brown fox jumps\t")   // trailing tab
    ).toDF("doc_id", "text")
    val sh = TextOps.shingles(d, "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    // all three docs produce exactly the SAME single 5-gram
    assert(sh.length == 3 && sh.map(_._2).distinct.length == 1)
    val counts = TextOps.tokenCounts(d, "doc_id", "text")
      .select($"doc_id", $"ws_tokens").as[(Long, Long)].collect().toMap
    assert(counts.values.forall(_ == 5L), counts.toString)
    // exact dedup: whitespace-edge variants fingerprint identically (trim)
    val fps = TextOps.fingerprint(d, "doc_id", "text")
      .select("fp").distinct().count()
    assert(fps == 1L, s"expected one fingerprint, got $fps")
  }

  test("gopherFilter: null-text and whitespace-only docs emit keep = false, not silence") {
    val d = Seq((1L, Some("the quick brown fox jumps over the lazy dog today")),
      (2L, None), (3L, Some("   "))).toDF("doc_id", "text")
    val got = TextOps.gopherFilter(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got.keySet == Set(1L, 2L, 3L), s"filter output lost rows: $got")
    assert(!got(2L) && !got(3L))
    // ANSI landmine: zero-token ratios must be NULL, not a divide-by-zero
    val q = TextOps.qualityScore(d, "doc_id", "text").collect()
    assert(q.length == 3)
    val lid = TextOps.langId(d, "doc_id", "text").collect()
    assert(lid.length == 3)
  }

  test("simhashDedup/packSequences argument contracts") {
    val sd = Seq(("doc_1", "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextOps.packSequences(sd, "doc_id", "text", budget = 10) // string id
    }
  }
}
