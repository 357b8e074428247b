package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.CacheLifecycle.releaseOnFirstAction
import graft.util.Md5Draw

/**
 * Text-analysis and deduplication operators for large-scale training-data
 * pipelines. Beyond the reference's own surface (it has no text ops); these
 * are the LLM-pipeline operators the rebuild adds as first-class components.
 *
 * Scale design: every operator is an inverted-index (explode + shuffle join
 * on the token/shingle/band key) or a pure per-row projection — never an
 * all-pairs cross join. At 100 TB the shingle join partitions by shingle
 * hash; hot (boilerplate) shingles are doc-frequency-capped before any
 * shingle self-join ([[jaccardPairs]] maxDocFreq); AQE handles residual skew.
 */
object TextOps {

  /** Whitespace tokens, lowercased; `ws` ARRAY<STRING> column. Empty
    * strings are dropped: Spark's `split` (limit −1) keeps the empty
    * tokens that leading/trailing whitespace produces, and a phantom ""
    * token corrupts every downstream shingle/count/ratio (a single
    * leading space would halve a 5-gram Jaccard). Every oracle mirrors
    * the filter (`list_filter(string_split_regex(…), w -> w <> '')`).
    *
    * Implementation note: `array_remove(arr, "")` — a codegen'd binary
    * expression — not the `filter` higher-order function, which is
    * CodegenFallback and interprets its lambda per element. The HOF
    * version measurably slowed every shingle-heavy query (dedup_clusters
    * 1.6→3 s, bpe_encode 0.4→2 s at sf0.1); semantics are identical
    * (`split` never yields null elements, so the HOF's null-drop
    * behavior is unreachable; null input maps to null either way). */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), "\\s+"), "")

  /** The document's word n-grams as ONE per-row array column (empty when
    * the doc is shorter than n words) — the streaming-safe building block:
    * everything derivable from it (minhash signatures, band buckets) stays
    * a per-row expression, no explode, no per-doc aggregation. */
  def gramArray(text: Column, n: Int): Column = {
    val ws = tokens(text)
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        k => concat_ws(" ", slice(ws, k + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /**
   * Word n-gram shingles, one row per distinct (id, shingle).
   * Docs shorter than n words contribute no shingles.
   */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val ws = tokens(col(textCol))
    df.select(col(idCol), ws.as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col(idCol), explode(
        transform(sequence(lit(0), size(col("ws")) - n),
          k => concat_ws(" ", slice(col("ws"), k + 1, lit(n))))).as("shingle"))
      // one exchange serves the whole family: HashPartitioning(id) satisfies
      // the clustering for BOTH the (id, shingle) distinct and every
      // downstream per-doc groupBy (signatures, sizes) — without it each of
      // those is its own full shuffle of the shingle table. The partition
      // count is pinned (AQE would coalesce this small-bytes exchange to ~1
      // partition, serializing the CPU-heavy per-doc aggregations that run
      // on it — measured 5× slowdown on the simhash vote aggregation)
      .repartition(df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col(idCol))
      .distinct()
  }

  /** Token counts: whitespace tokens + a BPE-ish regex segmentation
    * (word pieces vs punctuation runs). */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(textCol), lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0)))
        .cast("long").as("re_tokens"))

  /**
   * Quality signals: char length, alphabetic ratio, punctuation ratio,
   * stopword ratio, mean word length — composed into a [0,1] score.
   * Formula is deterministic and documented so the DuckDB oracle can
   * replicate it exactly.
   */
  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")

  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    // nullif: a zero denominator (empty text / zero tokens) must yield
    // NULL ratios on BOTH engines — Spark's ANSI division by zero ERRORS
    // while DuckDB's returns NULL, so the guard is load-bearing, not style
    val nChars = nullif(length(t).cast("double"), lit(0.0))
    val alpha = length(regexp_replace(t, "[^A-Za-z]", "")).cast("double")
    val punct = length(regexp_replace(t, "[^.,;:!?]", "")).cast("double")
    val ws = tokens(t)
    val nTok = nullif(size(ws).cast("double"), lit(0.0))
    val stop = size(filter(ws, w => w.isin(StopwordsEn: _*))).cast("double")
    val meanLen = (length(regexp_replace(t, "\\s+", "")).cast("double") / nTok)
    df.select(col(idCol),
      round(alpha / nChars, 6).as("alpha_ratio"),
      round(punct / nChars, 6).as("punct_ratio"),
      round(stop / nTok, 6).as("stopword_ratio"),
      round(meanLen, 6).as("mean_word_len"),
      // score: favors alphabetic text with some stopwords and 3-8 char words
      round(least(lit(1.0), greatest(lit(0.0),
        alpha / nChars * lit(0.5)
          + least(stop / nTok * lit(5.0), lit(1.0)) * lit(0.3)
          + when(meanLen.between(3, 8), 0.2).otherwise(0.0))), 6).as("score"))
  }

  /** Stopword-profile language ID: argmax of per-language stopword hit
    * ratios, alphabetical tie-break. A deliberately simple, fully
    * SQL-replicable n-gram-free heuristic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "on"),
    "es" -> Seq("el", "los", "las", "una", "es", "y", "que", "de"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = tokens(col(textCol))
    val scores = LangProfiles.map { case (lang, words) =>
      struct(
        (size(filter(ws, w => w.isin(words: _*))).cast("double")
          / nullif(size(ws).cast("double"), lit(0.0))).as("score"),
        lit(lang).as("lang"))
    }
    // argmax by (score, then reverse-alphabetical lang so ties pick first alphabetically)
    val best = scores.reduce((a, b) =>
      when(b.getField("score") > a.getField("score"), b).otherwise(a))
    df.select(col(idCol), best.getField("lang").as("pred_lang"),
      round(best.getField("score"), 6).as("lang_score"))
  }

  /**
   * Repetition signals (the Gopher/RefinedWeb-style quality rules for
   * machine-generated or boilerplate text): fraction of the document taken
   * by its single most frequent token, and the duplicate-bigram fraction
   * (1 − distinct/total word bigrams). Pure explode + per-doc aggregation —
   * partitions by doc id, no cross-doc shuffle beyond the groupBy.
   */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val tf = tok.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(round(max("c") / sum("c"), 6).as("top_token_frac"))
    val bg = df.select(col(idCol), explode(gramArray(col(textCol), 2)).as("b"))
    val bs = bg.groupBy(col(idCol))
      .agg(round(lit(1) - countDistinct("b") / count(lit(1)), 6).as("dup_bigram_frac"))
    tf.join(bs, Seq(idCol), "left")
      .select(col(idCol), col("top_token_frac"),
        coalesce(col("dup_bigram_frac"), lit(0.0)).as("dup_bigram_frac"))
  }

  /**
   * Gopher-style document filter: the standard rule battery for pretraining
   * corpora (word-count bounds, mean-word-length bounds, minimum stopword
   * presence, repetition caps) composed into one boolean `keep`. Every rule
   * is a deterministic expression so the DuckDB oracle replicates it bit-
   * for-bit; thresholds are parameters with the published-ish defaults.
   */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   minTokens: Long = 10, maxTokens: Long = 100000,
                   minMeanWordLen: Double = 2.0, maxMeanWordLen: Double = 10.0,
                   minStopwordRatio: Double = 0.02,
                   maxTopTokenFrac: Double = 0.20,
                   maxDupBigramFrac: Double = 0.60): DataFrame = {
    val rep = repetitionStats(df, idCol, textCol)
    val t = col(textCol)
    val ws = tokens(t)
    val nTok = size(ws).cast("double")
    val den = nullif(nTok, lit(0.0)) // ANSI-safe: see qualityScore
    val meanLen = length(regexp_replace(t, "\\s+", "")).cast("double") / den
    val stopR = size(filter(ws, w => w.isin(StopwordsEn: _*))).cast("double") / den
    val base = df.select(col(idCol), nTok.as("n_tok"), meanLen.as("mean_len"), stopR.as("stop_r"))
    // LEFT join + coalesce(false): a null-text / all-whitespace doc has no
    // repetition stats row — it must be emitted with keep = false, not
    // silently dropped (a filter whose output loses rows corrupts every
    // keep-rate metric and anti-join downstream)
    base.join(rep, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(
          col("n_tok").between(minTokens, maxTokens) &&
          col("mean_len").between(minMeanWordLen, maxMeanWordLen) &&
          col("stop_r") >= minStopwordRatio &&
          col("top_token_frac") < maxTopTokenFrac &&
          col("dup_bigram_frac") < maxDupBigramFrac, lit(false)).as("keep"))
  }

  /**
   * Per-source corpus statistics: doc counts, size, exact-duplicate rate
   * (via the md5 fingerprint), language spread. The whole-corpus health
   * dashboard for a crawl/training-data pipeline — one groupBy over the
   * corpus, combinable aggregates only.
   */
  def corpusStats(df: DataFrame, sourceCol: String, idCol: String, textCol: String,
                  langCol: String): DataFrame =
    df.select(col(sourceCol), col(idCol), col(langCol),
        length(col(textCol)).cast("long").as("nc"), fingerprintOf(col(textCol)).as("fp"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum("nc").as("total_chars"),
        countDistinct("fp").as("n_unique"),
        round(lit(1) - countDistinct("fp") / count(lit(1)), 6).as("dup_rate"),
        countDistinct(col(langCol)).as("n_langs"))

  /**
   * Deterministic train/val/test split assignment: md5(seed:id) mapped to
   * [0, 1) picks each row's split by cumulative fraction boundaries. A pure
   * per-row projection (zero shuffle, runs inside the scan stage), stable
   * across reruns/layouts/engines — the property a training pipeline needs
   * so a document NEVER migrates between splits when the corpus is
   * re-processed. Fractions must sum to ≤ 1; the last named split absorbs
   * the remainder.
   *
   * @param fracs (splitName, fraction) in declaration order
   * @return input id column + `split`
   */
  def assignSplits(df: DataFrame, idCol: String, seed: String,
                   fracs: Seq[(String, Double)]): DataFrame = {
    require(fracs.nonEmpty && fracs.forall(_._2 > 0) && fracs.map(_._2).sum <= 1.0 + 1e-9,
      s"fractions must be positive and sum to <= 1, got $fracs")
    // 32-bit hash / 2^32 ∈ [0, 1) — same uniform device as sampleStratified
    val u = Md5Draw.uniform(Md5Draw.ofString(concat_ws(":", lit(seed), col(idCol))), 8)
    val cum = fracs.scanLeft(0.0)(_ + _._2).tail
    val split = fracs.zip(cum).dropRight(1)
      .foldRight(lit(fracs.last._1): Column) { case (((name, _), hi), acc) =>
        when(u < hi, name).otherwise(acc)
      }
    df.select(col(idCol), split.as("split"))
  }

  /**
   * Pairwise vocabulary overlap between corpus sources: |Va ∩ Vb| and the
   * Jaccard index over the sources' distinct-token vocabularies — the
   * corpus-composition diagnostic behind mixture design ("how redundant are
   * these two crawls?") and contamination triage at the source granularity.
   *
   * Scale shape: one distinct (source, token) projection (map-side-combined
   * groupBy), then a token-keyed self-join whose fan-out per token is at
   * most (#sources choose 2) — the OUTPUT size, not a data-squared blow-up
   * — and the per-source sizes broadcast back. At 100 TB the only large
   * shuffle is the distinct on (source, token).
   *
   * @return (src_a, src_b, inter, jaccard) for src_a < src_b
   */
  def sourceOverlap(df: DataFrame, srcCol: String, textCol: String): DataFrame = {
    val vocab = df.select(col(srcCol).as("src"),
      explode(tokens(col(textCol))).as("w")).distinct()
    val sizes = vocab.groupBy("src").agg(count(lit(1)).as("n"))
    vocab.as("a").join(vocab.as("b"),
        col("a.w") === col("b.w") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.select(col("src").as("src_a"), col("n").as("__na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("src").as("src_b"), col("n").as("__nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"),
        round(col("inter") / (col("__na") + col("__nb") - col("inter")), 6).as("jaccard"))
  }

  /**
   * Corpus vocabulary: global term frequency + document frequency per token
   * — the "build the vocab / IDF table" step of a training-data pipeline.
   * One explode + one token-keyed groupBy with map-side-combinable
   * aggregates; at 100 TB this partitions by token hash and AQE absorbs
   * stopword skew.
   */
  def vocabulary(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"), countDistinct(col(idCol)).as("df"))

  /**
   * Per-document top-k TF-IDF terms (idf = ln((N+1)/(df+1))): term
   * frequencies and document frequencies as two combinable aggregations,
   * the corpus size broadcast into the plan as a 1-row aggregate (never a
   * driver-side count), rank via a per-doc window. Deterministic total
   * order (tfidf desc, token asc) so the top-k boundary is stable across
   * engines and partitionings.
   */
  /** Shared TF/DF/idf-weight pipeline for the TF-IDF family: per-(doc,
    * term) weight tf · ln((N+1)/(df+1)), with an optional df cap applied
    * BEFORE weighting (posting-list scale cap). One definition so a
    * smoothing change can never silently diverge the two consumers. */
  private def tfIdfWeights(df: DataFrame, idCol: String, textCol: String,
                           maxDf: Option[Long]): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val tf = toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq0 = toks.groupBy("tok").agg(countDistinct(col(idCol)).as("df"))
    val dfreq = maxDf.fold(dfreq0)(m => dfreq0.filter(col("df") <= m))
    val n = df.agg(count(lit(1)).cast("double").as("__n"))
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("tok"),
        (col("tf") * log((col("__n") + 1) / (col("df") + 1))).as("w"))
  }

  def tfIdfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val scored = tfIdfWeights(df, idCol, textCol, maxDf = None)
      .select(col(idCol), col("tok"), col("w").as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("tok").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col(idCol), col("tok"), round(col("tfidf"), 6).as("tfidf"), col("rank"))
  }

  /**
   * Sparse TF-IDF cosine similarity join — the SPARSE sibling of the dense
   * embedding near-dup: document pairs whose TF-IDF vectors' cosine meets
   * `threshold`, found through the inverted index (pairs share ≥ 1
   * surviving term; docs never cross-join). Terms with df > `maxDf` drop
   * before the self-join — simultaneously the scale cap (a boilerplate
   * term's posting list would fan out quadratically) and standard IR
   * practice (stop-words carry no signal; idf already ranks them last).
   *
   * Determinism: pair dots and norms accumulate in DECIMAL(38,12) (exact,
   * order-free), one double division + round(6) at the end — the oracle
   * replays bit-for-bit.
   *
   * @return (a, b, sim DOUBLE rounded 6) with a < b, sim ≥ threshold
   */
  def tfIdfSimilarPairs(df: DataFrame, idCol: String, textCol: String,
                        threshold: Double, maxDf: Long = 1000L): DataFrame = {
    val wts = tfIdfWeights(df, idCol, textCol, Some(maxDf))
    val norms = wts.groupBy(col(idCol))
      .agg(sqrt(sum((col("w") * col("w")).cast("decimal(38,12)")).cast("double"))
        .as("__nm"))
    val a = wts.select(col(idCol).as("a"), col("tok"), col("w").as("__wa"))
    val b = wts.select(col(idCol).as("b"), col("tok"), col("w").as("__wb"))
    val dots = a.join(b, Seq("tok")).filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(sum((col("__wa") * col("__wb")).cast("decimal(38,12)"))
        .cast("double").as("__dot"))
    dots
      .join(norms.select(col(idCol).as("a"), col("__nm").as("__na")), Seq("a"))
      .join(norms.select(col(idCol).as("b"), col("__nm").as("__nb")), Seq("b"))
      .select(col("a"), col("b"),
        round(col("__dot") / (col("__na") * col("__nb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /**
   * Deterministic stratified sampling: keep a row iff the first 8 hex chars
   * of md5(id) fall below the stratum's rate threshold. Engine-portable by
   * construction (md5 agrees byte-for-byte across Spark/DuckDB; the
   * comparison is a plain ASCII string compare), reproducible across runs
   * and cluster sizes — the properties a training-data sampling step needs
   * (a `rand()` sample is neither). Pure per-row projection: no shuffle.
   */
  def sampleStratified(df: DataFrame, idCol: String, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val h = substring(Md5Draw.of(col(idCol)), 1, 8)
    val cond = rates.toSeq.sortBy(_._1).foldRight(h < lit(rateThresholdHex(defaultRate))) {
      case ((stratum, r), acc) =>
        when(col(strataCol) === stratum, h < lit(rateThresholdHex(r))).otherwise(acc)
    }
    df.filter(cond)
  }

  /** Sampling-rate threshold in md5-prefix space: an 8-hex-char string such
    * that `hex8 < threshold` keeps ≈ rate of uniform hashes. "g" sorts above
    * every hex string (keep all); "" below every one (keep none). */
  def rateThresholdHex(rate: Double): String =
    if (rate >= 1.0) "g"
    else if (rate <= 0.0) ""
    else f"${(rate * Md5Draw.space(8)).toLong}%08x"

  /**
   * Deterministic PER-ROW weighted Bernoulli sampling — quality-weighted
   * corpus downsampling (keep probability = the row's own score, e.g. a
   * model or heuristic quality signal), the per-row generalization of
   * [[sampleStratified]]'s fixed per-stratum rate. A row survives iff its
   * md5-prefix uniform draw falls under its weight:
   *
   *   substring(md5(id), 1, 15) <= hex15(floor(clamp(weight, 0, 1) · 2^60))
   *
   * Pure per-row projection + filter — no shuffle, no RNG state; the
   * threshold is engine-portable (`printf('%015x', …)` in any SQL engine),
   * so an external oracle reproduces the exact kept set. The 15-hex prefix
   * (60 bits) keeps the threshold inside a signed 64-bit int; weight = 1
   * clamps to the all-f threshold (keep all).
   */
  def sampleWeighted(df: DataFrame, idCol: String, weight: Column): DataFrame = {
    val w = least(greatest(weight.cast("double"), lit(0.0)), lit(1.0))
    val thr = least(floor(w * lit(Md5Draw.space(15))).cast("long"),
      lit(Md5Draw.space(15).toLong - 1))
    val pfx = substring(Md5Draw.of(col(idCol)), 1, 15)
    df.filter(pfx <= format_string("%015x", thr))
  }

  /**
   * Deterministic weighted sampling WITHOUT replacement (Efraimidis &
   * Spirakis 2006, algorithm A-ES): keep the k rows with the largest
   * u^(1/w) — equivalently the largest ln(u)/w — where u is the row's
   * seeded-md5 uniform draw and w its positive weight. This is the
   * fixed-BUDGET complement of [[sampleWeighted]]'s per-row Bernoulli:
   * "sample exactly k documents proportional to quality score", the shape
   * an actual training-mix budget takes. The draw is a pure per-row
   * projection over a reproducible hash, so the sampled set is identical
   * across engines, runs, and partition layouts (ids break the
   * astronomically-unlikely 48-bit draw ties).
   *
   * Scale shape: projection + global top-k, which Spark executes as
   * TakeOrderedAndProject — per-partition size-k heaps merged on the
   * driver, never a global sort shuffle. k is driver-bounded by contract
   * (it is a sample you materialize). Rows with NULL or non-positive
   * weight carry zero mass and are excluded, matching the A-ES domain.
   */
  def sampleWeightedK(df: DataFrame, idCol: String, weight: Column, k: Int,
                      seed: String = "0"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // 48-bit md5 prefix + 1 → u ∈ (0, 1]; log(u) ∈ (-∞, 0]
    val u = (Md5Draw.prefix(Md5Draw.ofString(concat(lit(seed + ":"), col(idCol).cast("string"))),
      1, 12) + 1L) / lit(Md5Draw.space(12))
    df.filter(weight.isNotNull && weight.cast("double") > 0.0)
      .withColumn("__aes", log(u) / weight.cast("double"))
      .orderBy(col("__aes").desc, col(idCol))
      .limit(k)
      .drop("__aes")
  }

  /**
   * Deterministic epoch-mix resampling — the UPSAMPLING complement of
   * [[sampleStratified]]: each group (domain/source) is repeated
   * `epochs(g)` times in the output, the way production training mixes run
   * high-quality sources for multiple epochs while crawl data runs under
   * one. `floor(e)` full copies are emitted per row plus one partial copy
   * kept at rate `e - floor(e)` by the same engine-portable md5-threshold
   * device, salted with the copy index (`md5(id ++ "_" ++ epoch)`) so the
   * partial copy is an independent uniform subset of the group.
   *
   * Spark shape: a per-row `explode(sequence(...))` projection — no
   * shuffle, no driver loop; output size is Σ rows·epochs by construction.
   * The `epoch INT` output column keeps replicated rows distinguishable
   * downstream (dedup/packing key on (id, epoch), not id).
   *
   * @param epochs  per-group epoch counts (may exceed 1.0; fractions allowed)
   * @return input columns + `epoch` (0-based copy index)
   */
  def epochMix(df: DataFrame, idCol: String, groupCol: String,
               epochs: Map[String, Double], defaultEpochs: Double = 1.0): DataFrame = {
    require(epochs.values.forall(_ >= 0.0) && defaultEpochs >= 0.0,
      "epoch counts must be >= 0")
    val e = epochs.toSeq.sortBy(_._1).foldRight(lit(defaultEpochs)) {
      case ((g, ep), acc) => when(col(groupCol) === g, lit(ep)).otherwise(acc)
    }
    // ceil(e) candidate copies per row; copy k survives if it is a full
    // copy (k < floor(e)) or wins the salted fractional draw
    val thresh = epochs.toSeq.sortBy(_._1).foldRight(
      lit(rateThresholdHex(defaultEpochs - math.floor(defaultEpochs)))) {
      case ((g, ep), acc) =>
        when(col(groupCol) === g, lit(rateThresholdHex(ep - math.floor(ep)))).otherwise(acc)
    }
    // sequence(0, -1) would DESCEND, not be empty — zero-epoch groups get
    // an explicit empty array so explode drops their rows
    val copies = when(ceil(e) >= 1, sequence(lit(0), (ceil(e) - 1).cast("int")))
      .otherwise(array().cast("array<int>"))
    df.withColumn("epoch", explode(copies))
      .filter(col("epoch") < floor(e).cast("int") ||
        substring(Md5Draw.ofString(concat(col(idCol).cast("string"), lit("_"),
          col("epoch").cast("string"))), 1, 8) < thresh)
  }

  /**
   * Benchmark decontamination: corpus documents sharing ≥ `minShared`
   * distinct word n-grams with any benchmark document — the standard
   * eval-set contamination check run before training. An inverted
   * shingle-index join (benchmark side is small → broadcast) + one
   * combinable (corpus doc, benchmark doc) count; never an all-pairs
   * comparison.
   *
   * @return (idCol, bench_id, shared) — one row per contaminated pair
   */
  def contamination(corpus: DataFrame, benchmark: DataFrame, idCol: String, textCol: String,
                    n: Int, minShared: Long): DataFrame = {
    val cs = shingles(corpus, idCol, textCol, n)
    val bs = shingles(benchmark, idCol, textCol, n)
      .select(col(idCol).as("bench_id"), col("shingle"))
    // explicit hint: the docstring's "benchmark side is small -> broadcast"
    // must not depend on AQE stats — without it a stats-blind plan shuffles
    // the full corpus shingle table on shingle hash
    cs.join(broadcast(bs), "shingle")
      .groupBy(col(idCol), col("bench_id")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /**
   * Sequence packing: assign documents (in deterministic id order) to
   * contiguous fixed-token-budget bins — the "pack documents into training
   * sequences" step of a pretraining pipeline. A document's bin is
   * floor(exclusive-prefix-sum(tokens) / budget).
   *
   * Scale shape: a naive global-order window is a single-partition sort. This
   * is the two-level distributed prefix-scan instead: per-chunk exclusive
   * cumsums run partitioned by chunk id (parallel), chunk totals form a
   * chunk-count-sized table whose running offsets broadcast back — the same
   * decomposition a 1000-executor scan uses. Chunking by id range keeps the
   * global order identical to the naive form, which is what the SQL oracle
   * computes.
   *
   * @return (idCol, n_tok, bin, bin_offset) — bin_offset = token offset of
   *         the doc within its bin's running stream
   */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Long, chunkSize: Long = 4096): DataFrame = {
    // the chunk decomposition and the global order are NUMERIC on the id:
    // a string id would cast to null (null chunk keys silently match
    // nothing -> empty result) and sort lexically ("10" < "9")
    require(df.schema(idCol).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"packSequences needs a numeric id column, got $idCol: " +
        df.schema(idCol).dataType.simpleString)
    val w = org.apache.spark.sql.expressions.Window
    // floor-division in double is exact below 2^53 — ids and corpus token
    // counts both sit far under that (1e14 tokens ≈ 100 TB of text)
    val toks = df.select(col(idCol), size(tokens(col(textCol))).cast("long").as("n_tok"),
      floor(col(idCol) / chunkSize).cast("long").as("__chunk"))
    // exclusive per-chunk prefix sum, parallel across chunks
    val local = toks.withColumn("__local",
      coalesce(sum("n_tok").over(
        w.partitionBy("__chunk").orderBy(idCol)
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
    // chunk totals → exclusive running offset (chunk-count-sized window: at
    // 100 TB this is |corpus|/chunkSize rows, still worth range-partitioning
    // for extreme corpora; the data volume through it is 16 bytes per chunk)
    val offsets = toks.groupBy("__chunk").agg(sum("n_tok").as("__t"))
      .withColumn("__off", coalesce(sum("__t").over(
        w.orderBy("__chunk").rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select("__chunk", "__off")
    val global = col("__local") + col("__off")
    local.join(broadcast(offsets), Seq("__chunk"))
      .select(col(idCol), col("n_tok"),
        floor(global / budget).cast("long").as("bin"),
        (global % budget).as("bin_offset"))
  }

  /**
   * Deterministic training-shard shuffle: each document is assigned a
   * shard (seeded-md5 hash split over `numShards`) and a position within
   * that shard (seeded-md5 order) — the "global shuffle then write N
   * shards" step before training, reproducible across engines and runs
   * because the permutation IS the hash order, not an RNG.
   *
   * Scale shape: no global sort and no global row_number — shard
   * assignment is a per-row projection, and the position window is
   * partitioned BY SHARD, so parallelism equals `numShards` (at 100 TB you
   * run thousands of shards, so the per-shard sort is a few GB — exactly
   * the file size a training loader wants). Shard sizes concentrate at
   * N/numShards ± O(√(N/numShards)) by the usual balls-in-bins bound.
   *
   * @return (idCol, shard BIGINT in [0, numShards), pos BIGINT 0-based
   *         within the shard in shuffled order)
   */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int,
                    seed: String = "0"): DataFrame = {
    val (h, shard) = shardOf(col(idCol), seed, numShards)
    df.select(col(idCol), h.as("__h"), shard.as("shard"))
      .withColumn("pos",
        (row_number().over(Window.partitionBy("shard")
          .orderBy(col("__h"), col(idCol))) - 1).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** A document's seeded md5 (its order within its shard) and its shard,
    * that hash's first 8 hex chars % numShards. */
  private def shardOf(id: Column, seed: String, numShards: Int): (Column, Column) = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val h = Md5Draw.ofString(concat(lit(seed + ":"), id.cast("string")))
    (h, Md5Draw.prefix(h, 1, 8) % numShards)
  }

  /**
   * Per-shard manifest for [[shuffleShards]]'s assignment: document count,
   * token total, and character total per shard — what the training job
   * reads to plan epochs without scanning the shards. One projection + one
   * combinable aggregation over `numShards` groups.
   *
   * @return (shard, docs, tokens, chars)
   */
  def shardManifest(df: DataFrame, idCol: String, textCol: String,
                    numShards: Int, seed: String = "0"): DataFrame = {
    df.select(shardOf(col(idCol), seed, numShards)._2.as("shard"),
        size(tokens(col(textCol))).cast("long").as("__t"),
        length(col(textCol)).cast("long").as("__c"))
      .groupBy("shard")
      .agg(count(lit(1)).as("docs"), sum("__t").as("tokens"), sum("__c").as("chars"))
  }

  /**
   * Fixed-size character chunks with overlap — the RAG/context-window
   * splitter every training-data pipeline needs. Chunk i covers
   * `[i·step, i·step + size)` with `step = size − overlap`; the chunk count
   * `max(1, ⌈(len − overlap) / step⌉)` stops exactly when the previous
   * chunk already reached the end of the document (no redundant tail chunk
   * fully contained in its predecessor), and every document yields at least
   * one chunk.
   *
   * Pure per-row projection (`sequence` + `explode` + `substr`) — no
   * shuffle, no state; at 100 TB this runs entirely inside the scan stage.
   *
   * @return (idCol, chunk_id INT, chunk_text) — chunk_id is 0-based
   */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            size: Int, overlap: Int): DataFrame = {
    require(size > 0, s"size must be > 0, got $size")
    require(overlap >= 0 && overlap < size, s"need 0 <= overlap < size, got $overlap")
    val step = size - overlap
    val len = length(col(textCol))
    val nChunks = greatest(lit(1),
      floor((len - overlap + step - 1).cast("double") / step).cast("int"))
    df.select(col(idCol), col(textCol),
        explode(sequence(lit(0), nChunks - 1)).as("chunk_id"))
      .select(col(idCol), col("chunk_id"),
        col(textCol).substr(col("chunk_id") * step + 1, lit(size)).as("chunk_text"))
  }

  /** Document fingerprint: md5 of the whitespace-normalized lowercase text
    * (md5 agrees byte-for-byte with DuckDB's). */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprintOf(col(textCol)).as("fp"))

  private def fingerprintOf(text: Column): Column =
    Md5Draw.ofString(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Exact dedup: group by fingerprint, keep the minimum id as representative. */
  def dedupExact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    fingerprint(df, idCol, textCol)
      .groupBy("fp").agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("dup_count"))

  /**
   * Zipf fit over the top-`vocabSize` vocabulary: the least-squares slope
   * of ln(freq) against ln(rank) — natural corpora sit near −1; template
   * spam and synthetic boilerplate bend it, so the slope is a one-number
   * corpus-health check. x rides as INTEGER MICRO-ln-rank so the five
   * regression sums stay in the DECIMAL-exact [[graft.events.EventOps
   * .trendSumAggs]] machinery (slope rescales by 1e6 at read-out); the
   * vocabulary is a distributed TakeOrdered, the regression runs over
   * `vocabSize` bounded rows.
   *
   * @return one row (n BIGINT, slope DOUBLE, intercept DOUBLE — rounded 6;
   *         slope per unit ln rank, intercept at rank 1)
   */
  def zipfFit(df: DataFrame, textCol: String, vocabSize: Int = 1000): DataFrame = {
    val freq = df.select(explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(vocabSize)
    val ranked = freq.withColumn("rank",
      row_number().over(Window.orderBy(col("c").desc, col("tok").asc)))
    val aggs = graft.events.EventOps.trendSumAggs(
      round(log(col("rank").cast("double")) * 1e6),
      log(col("c").cast("double")))
    val sums = ranked.groupBy().agg(aggs.head, aggs.tail: _*)
    // inline read-out: the micro-x slope rescales by 1e6 BEFORE rounding
    // (trendReadout would round the micro-slope to 6 first — resolution 1
    // after the rescale)
    val sxd = col("__sx").cast("double")
    val syd = col("__sy").cast("double")
    val den = col("n") * col("__sxx").cast("double") - sxd * sxd
    val sl = (col("n") * col("__sxy").cast("double") - sxd * syd) / den
    sums.select(col("n"),
      round(sl * 1e6, 6).as("slope"),
      round((syd - sl * sxd) / col("n"), 6).as("intercept"))
  }

  /**
   * Top-k PMI collocations at the DOCUMENT level: token pairs that
   * co-occur in more documents than their marginals predict —
   * pmi = ln(df(a,b)·N / (df(a)·df(b))). The df band [minDf, maxDf] is
   * both the statistics guard (singleton tokens give degenerate PMI) and
   * the scale cap (the per-doc pair fan-out is quadratic in KEPT tokens
   * per doc, and hot tokens are excluded before the fan-out). Ranking is
   * on the ROUNDED pmi with a lexical tie-break, so the top-k boundary is
   * deterministic cross-engine.
   *
   * @return (tok_a, tok_b, n_ab BIGINT, pmi DOUBLE rounded 6, rank ≤ k)
   */
  def pmiPairs(df: DataFrame, idCol: String, textCol: String,
               minDf: Long = 5, maxDf: Long = 1000, k: Int = 50): DataFrame = {
    val dt = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "").distinct()
    val dfreq = dt.groupBy("tok").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDf && col("__df") <= maxDf)
    val kept = dt.join(dfreq, "tok")
    val n = df.agg(count(lit(1)).cast("double").as("__n"))
    val pairs = kept.select(col(idCol), col("tok").as("tok_a"), col("__df").as("__dfa"))
      .join(kept.select(col(idCol), col("tok").as("tok_b"), col("__df").as("__dfb")),
        Seq(idCol))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b"))
      .agg(count(lit(1)).as("n_ab"), first(col("__dfa")).as("__dfa"),
        first(col("__dfb")).as("__dfb"))
    val scored = pairs.crossJoin(broadcast(n))
      .select(col("tok_a"), col("tok_b"), col("n_ab"),
        round(log(col("n_ab") * col("__n") / (col("__dfa") * col("__dfb"))), 6).as("pmi"))
    val top = scored
      .orderBy(col("pmi").desc, col("tok_a").asc, col("tok_b").asc).limit(k)
    top.withColumn("rank", row_number().over(Window.orderBy(
      col("pmi").desc, col("tok_a").asc, col("tok_b").asc)))
  }

  /**
   * Normalization-robust exact dedup: duplicates under the CANONICAL form
   * (lowercase, punctuation → space, whitespace collapsed and trimmed) —
   * catches the formatting-variant duplicates a raw-byte hash misses
   * (html-unescaped rewraps, smart-quote swaps, trailing-space churn)
   * while staying a pure hash groupBy (no pairs, no index). The regex
   * subset is Java/RE2-common so the oracle replays the canon exactly.
   *
   * @return (fp, rep_id = min id, dup_count) — same contract as
   *         [[dedupExact]]
   */
  def dedupNormalized(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val canon = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9\\s]", " "), "\\s+", " "))
    df.select(col(idCol), Md5Draw.ofString(canon).as("fp"))
      .groupBy("fp").agg(min(col(idCol)).as("rep_id"), count(lit(1)).as("dup_count"))
  }

  /**
   * PII redaction patterns, ordered (emails redact before IPs so an
   * address-like domain never half-redacts). Kept to the regex subset
   * where Java and RE2 agree (char classes, bounded reps, `\b`) so the
   * DuckDB oracle replicates matches exactly.
   */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4"  -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\b\\d{3}[- .]\\d{3}[- .]\\d{4}\\b")

  /**
   * PII scrub for training corpora: replaces each [[PiiPatterns]] match with
   * its `[KIND]` placeholder and reports per-kind match counts (counted on
   * the ORIGINAL text, so downstream filters can drop PII-heavy docs even
   * though the text is already clean). Pure per-row projection — codegen'd
   * `regexp_replace`/`regexp_extract_all`, no shuffle, no UDF.
   *
   * @return (id, redacted STRING, n_email, n_ipv4, n_phone BIGINT)
   */
  def redactPii(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val redacted = PiiPatterns.foldLeft(col(textCol)) { case (c, (name, re)) =>
      regexp_replace(c, re, s"[${name.toUpperCase}]")
    }
    val counts = PiiPatterns.map { case (name, re) =>
      size(regexp_extract_all(col(textCol), lit(re), lit(0))).cast("long").as(s"n_$name")
    }
    df.select(col(idCol) +: redacted.as("redacted") +: counts: _*)
  }

  /**
   * Exact all-pairs n-gram Jaccard over an inverted shingle index:
   * self-join on shingle → intersection counts; |A∪B| = |A|+|B|−|A∩B|.
   * This IS the scalable shape (index join, not cross join) — with one
   * mandatory guard: a HOT shingle shared by d documents emits d² rows
   * from the self-join, so one boilerplate footer in 10⁶ docs would
   * serialize the whole job. Shingles with doc-frequency > `maxDocFreq`
   * are dropped BEFORE the join (standard df-capping), bounding the
   * per-key fan-out at maxDocFreq². Recall contract: Jaccard is computed
   * over the capped shingle universe — sizes included, so the metric
   * stays a true Jaccard of the filtered sets — and a shingle appearing
   * in >maxDocFreq docs carries no near-dup signal by construction
   * (pairs similar ONLY through boilerplate are deliberately excluded).
   *
   * Plan shape: the doc-frequency is a count() over a shingle-partitioned
   * window, so the SAME hash(shingle) exchange feeding the cap also
   * co-locates both sides of the self-join — the cap costs no extra
   * shuffle on the join path.
   */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double, maxDocFreq: Int = 1000): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
      .withColumn("__df", count(lit(1)).over(Window.partitionBy("shingle")))
      .filter(col("__df") <= maxDocFreq)
      .drop("__df")
      .cache()
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = sh.select(col(idCol).as("a"), col("shingle"))
      .join(sh.select(col(idCol).as("b"), col("shingle")), "shingle")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    releaseOnFirstAction(inter
      .join(sizes.select(col(idCol).as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col(idCol).as("b"), col("sz").as("szb")), "b")
      .withColumn("jaccard", round(col("inter") / (col("sza") + col("szb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard"), sh)
  }

  /**
   * MinHash + banded LSH near-dup pairs, exact-verified.
   *
   * Signature: K minhashes (xxhash64 seeded by slot); bands of r rows are
   * hashed to buckets; docs sharing a bucket become candidates; candidates
   * are verified with exact shingle Jaccard ≥ `threshold`. With K=128, r=4
   * (32 bands) recall at sim 0.9 is 1 − (1 − 0.9⁴)³² ≈ 1 − 10⁻¹⁵ — the
   * LSH join is a recall-preserving pre-filter, not an approximation of the
   * output contract.
   */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 5, numHashes: Int = 128, bandRows: Int = 4,
                   threshold: Double = 0.5): DataFrame = {
    require(numHashes % bandRows == 0)
    val sh = shingles(df, idCol, textCol, n).cache()
    // the K permutations rehash the 8-byte shingle hash, not the string:
    // one string xxhash64 per shingle row, then K codegen'd long-input
    // xxhash64 rounds (a few ns each) inside the combinable min aggregates —
    // round 2 hashed the full string K times per row, which dominated the
    // whole dedup (18.6 s of the sf0.1 bench)
    val hashed = sh.select(col(idCol), xxhash64(col("shingle")).as("h"))
    val sigCols = (0 until numHashes).map(k => min(xxhash64(lit(k), col("h"))).as(s"s$k"))
    val sig = hashed.groupBy(col(idCol)).agg(sigCols.head, sigCols.tail: _*)
    val numBands = numHashes / bandRows
    val bandArr = array((0 until numBands).map { b =>
      val slots = (0 until bandRows).map(r => col(s"s${b * bandRows + r}"))
      xxhash64(lit(b) +: slots: _*)
    }: _*)
    val buckets = sig.select(col(idCol), posexplode(bandArr).as(Seq("band", "bucket")))
    val candidates = buckets.select(col(idCol).as("a"), col("band"), col("bucket"))
      .join(buckets.select(col(idCol).as("b"), col("band"), col("bucket")), Seq("band", "bucket"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    releaseOnFirstAction(verifyJaccard(candidates, df, n, idCol, textCol, threshold), sh)
  }

  /**
   * Near-dup pairs with a LOSSLESS blocking stage: prefix filtering
   * (the AllPairs/PPJoin principle) generates candidates, exact shingle
   * Jaccard verifies them — so the output is provably the full set of
   * pairs with Jaccard ≥ `threshold`, at every corpus size.
   *
   * Through round 14 this operator blocked on SimHash bands (8-bit bands
   * of a 64-bit vote signature, hamming ≤ 16 prefilter). That
   * blocking is probabilistic: the pigeonhole bound only guarantees a
   * shared band for hamming < 64/8 = 8 while qualifying pairs
   * legitimately land anywhere (measured: one Jaccard-0.5 pair at sf0.1
   * with hamming ∈ [8,16] shared no band and was silently dropped — the
   * r14 sf0.1 oracle divergence, a recall hole that can only widen with
   * corpus size). Prefix filtering closes it with a deterministic
   * guarantee:
   *
   * ORDER all shingles by (global document frequency asc, shingle asc) —
   * a total order, rarest first. For a doc with |A| shingles keep the
   * first L(A) = |A| − ⌈t·|A|⌉ + 1 as its prefix. If J(A,B) ≥ t then
   * |A∩B| ≥ t·max(|A|,|B|), and prefix(A) ∩ prefix(B) ≠ ∅: let w_A, w_B
   * be the last prefix elements and wlog w_A ≤ w_B; if no common element
   * were ≤ w_A, every common element would lie in A's suffix of size
   * ⌈t·|A|⌉ − 1 < t·|A| ≤ |A∩B| — contradiction (and symmetrically via
   * w_B). So every qualifying pair shares a prefix shingle and survives
   * to the exact verify. Rarest-first ordering makes the prefix join
   * sparse (the frequent shingles that would fan out never enter a
   * prefix); at t = 0.5 the prefix is ~half of each doc's shingles.
   * The output depends only on (n, threshold).
   */
  def simhashDedup(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 5, threshold: Double = 0.5): DataFrame = {
    val sh = shingles(df, idCol, textCol, n).cache()
    // global doc frequency per shingle — the prefix ordering key. The
    // per-document windows below re-partition by idCol, so the prefix
    // self-join on shingle shuffles both of its sides again
    val withF = sh.withColumn("__f", count(lit(1)).over(Window.partitionBy("shingle")))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("__f").asc, col("shingle").asc)
    val ranked = withF
      .withColumn("__r", row_number().over(byDoc))
      .withColumn("__sz", count(lit(1)).over(Window.partitionBy(col(idCol))))
    // ⌈t·sz⌉ computed with a downward epsilon: a double product that lands
    // an ulp HIGH would shorten the prefix (recall risk); an ulp LOW only
    // lengthens it (extra candidates, removed by the verify)
    val prefix = ranked.filter(
      col("__r") <= col("__sz") - ceil(lit(threshold) * col("__sz") - lit(1e-9)) + 1)
    val candidates = prefix.select(col(idCol).as("a"), col("shingle"))
      .join(prefix.select(col(idCol).as("b"), col("shingle")), Seq("shingle"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    releaseOnFirstAction(verifyJaccard(candidates, df, n, idCol, textCol, threshold), sh)
  }


  /**
   * End-to-end near-dup resolution: dup PAIRS → dup CLUSTERS → one kept
   * canonical doc per cluster — the step every web-scale dedup pipeline
   * runs after pair generation. Near-duplicate similarity is not
   * transitive, but the drop decision must be (if a~b and b~c, dropping b
   * against a must not resurrect c), so clusters are the connected
   * components of the pair graph — computed with the same alternating
   * star contraction as [[graft.algorithms.Algorithms.connectedComponents]]
   * (O(log n) rounds, diameter-independent; dup chains in web corpora can
   * be thousands of docs long).
   *
   * @param pairs (a, b) doc-id dup pairs from any of the pair generators
   * @return (idCol, canonical BIGINT = min doc id of its cluster,
   *         keep BOOLEAN = this doc is its cluster's canonical) for EVERY
   *         doc — singletons are their own canonical
   */
  def dedupClusters(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    // CUT the pair table's lineage with an eager localCheckpoint, don't just
    // persist it: the pair table is the small distillate of a deep pipeline
    // (an LSH dedup's shingle/band/verify tree), and while a persist keeps
    // the DATA cached, every downstream action still re-walks the full
    // analyzed tree driver-side (cache-lookup sameResult checks +
    // re-analysis) — measured 40+ s of jobless driver gaps across the
    // component loop's per-round actions on the minhash pipeline. After the
    // checkpoint, members/component/result plans all root at a leaf RDD.
    // Tradeoff (same as connectedComponents' internal checkpoints): blocks
    // are lineage-free, so losing an executor fails the job instead of
    // recomputing — acceptable for the bounded-size pair distillate.
    val p = pairs.select(col("a"), col("b")).localCheckpoint(true)
    val members = p.select(col("a").as("id"))
      .unionByName(p.select(col("b").as("id"))).distinct()
    val comp = graft.algorithms.Algorithms.connectedComponents(
      members, p.select(col("a").as("src"), col("b").as("dst")))
    docs.select(col(idCol))
      .join(comp.select(col("id").as(idCol), col("component")), Seq(idCol), "left")
      .select(col(idCol), coalesce(col("component"), col(idCol)).as("canonical"))
      .withColumn("keep", col(idCol) === col("canonical"))
  }

  /**
   * [[dedupClusters]] with an explicit KEEP POLICY: within each duplicate
   * cluster, keep the row MAXIMIZING `quality` (ties → lowest id) instead
   * of the lowest id — production recipes keep the best copy (longest /
   * highest-quality / canonical-source), not the numerically-first one.
   * `canonical` stays the component id (stable cluster identity across
   * policy changes); only `keep` moves. One extra quality join + one
   * window partitioned by cluster — cluster-sized partitions, bounded by
   * the largest duplicate clique.
   */
  def dedupClustersBy(docs: DataFrame, idCol: String, pairs: DataFrame,
                      quality: Column): DataFrame = {
    val base = dedupClusters(docs, idCol, pairs)
    val q = docs.select(col(idCol), quality.as("__q"))
    val w = Window.partitionBy("canonical").orderBy(col("__q").desc, col(idCol).asc)
    base.join(q, Seq(idCol))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("canonical"), col("keep"))
  }

  /**
   * Unigram language-model score: each document's mean log-probability of
   * its tokens under the corpus's own unigram distribution — the
   * perplexity-style quality filter (docs full of corpus-rare tokens score
   * low; docs of common tokens score high). Self-trained, so there is no
   * OOV mass: P(tok) = count(tok) / N over the whole corpus. The total N
   * rides the plan as a broadcast singleton (no driver action); the
   * frequency join keys on the token — inverted-index shape, no all-pairs.
   *
   * @return (idCol, n_tok BIGINT, logprob DOUBLE = mean ln P rounded to 6)
   */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val tc = toks.persist()
    val freq = tc.groupBy("tok").agg(count(lit(1)).as("c"))
    val n = tc.agg(count(lit(1)).as("n_total"))
    val out = tc.join(freq, "tok")
      .crossJoin(broadcast(n))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        round(avg(log(col("c") / col("n_total"))), 6).as("logprob"))
    releaseOnFirstAction(out, tc)
  }

  /**
   * Bigram language-model score: each document's mean conditional
   * log-probability ln P(tok | prev) under the corpus's own bigram
   * distribution, P(tok|prev) = c(prev,tok) / Σ_t c(prev,t) — the
   * KenLM-style upgrade over [[unigramLogProb]] (word-salad text scores low
   * even when its unigrams are common, because its TRANSITIONS are rare).
   * Self-trained on observed bigrams, so the conditional is well-defined
   * for every bigram that occurs. Docs with < 2 non-empty tokens have no
   * bigrams and are absent from the output (no transitions to score).
   *
   * Shape: adjacent pairs via a per-doc window (bounded by document
   * length), then two combinable count aggregations keyed on the bigram /
   * its prefix and one join keyed on the bigram — inverted-index shape, the
   * token stream never self-joins.
   *
   * @return (idCol, n_bigrams BIGINT, logprob DOUBLE = mean ln P rounded 6)
   */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("sp", "tok")))
      .filter(col("tok") =!= "")
    val w = Window.partitionBy(col(idCol)).orderBy(col("sp"))
    val big = toks.withColumn("prev", lag(col("tok"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col(idCol), col("prev"), col("tok"))
    val bc = big.persist()
    val c2 = bc.groupBy("prev", "tok").agg(count(lit(1)).as("c2"))
    val c1 = bc.groupBy("prev").agg(count(lit(1)).as("c1"))
    val out = bc.join(c2, Seq("prev", "tok")).join(c1, Seq("prev"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("c2") / col("c1"))), 6).as("logprob"))
    releaseOnFirstAction(out, bc)
  }

  /**
   * Cross-corpus LM quality scoring — the CCNet setup: a unigram LM trained
   * on a REFERENCE corpus (the "good text" sample), every candidate doc
   * scored by mean ln P of its tokens under that model with add-one
   * smoothing over the reference vocabulary (OOV floor = 1/(N+V)). Unlike
   * [[unigramLogProb]] (self-trained — "is this doc typical of ITSELF"),
   * this scores against a quality DISTRIBUTION: docs that read like the
   * reference score high, boilerplate/word-salad scores low, and `n_oov`
   * separates out-of-domain vocabulary from in-domain rarity.
   *
   * Shape: reference token stream aggregated once (freq + two singleton
   * stats riding the plan as broadcasts); candidates score through ONE
   * left join keyed on the token — inverted-index shape, no all-pairs,
   * reference and candidate corpora never cross-join.
   *
   * @return (idCol, n_tok BIGINT, logprob DOUBLE mean ln P rounded 6,
   *         n_oov BIGINT)
   */
  def lmCrossScore(ref: DataFrame, docs: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val refToks = ref.select(explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val rc = refToks.persist()
    val freq = rc.groupBy("tok").agg(count(lit(1)).as("__c"))
    val stats = rc.agg(count(lit(1)).as("__n"))
      .crossJoin(freq.agg(count(lit(1)).as("__v")))
    val dToks = docs.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val out = dToks.join(freq, Seq("tok"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tok"),
        round(avg(log((coalesce(col("__c"), lit(0L)) + 1)
          / (col("__n") + col("__v")))), 6).as("logprob"),
        sum(when(col("__c").isNull, 1L).otherwise(0L)).as("n_oov"))
    releaseOnFirstAction(out, rc)
  }

  /**
   * Token-id encoding against a corpus-derived vocabulary — the step between
   * tokenization and [[packSequences]] in a training pipeline. The
   * vocabulary is the `vocabSize` most frequent tokens (count desc, token
   * asc — a total order, so the vocab boundary is deterministic), ids
   * 1..vocabSize by rank; out-of-vocabulary tokens encode as 0.
   *
   * Scale shape: the top-k vocab is a distributed TakeOrdered (orderBy +
   * limit — partial top-k per partition, never a full sort), the rank
   * assignment is a window over the vocabSize-row result (bounded by
   * contract, single partition by design), and the encode itself is one
   * broadcast join on the token — the token stream never shuffles. Per-doc
   * positions come from a window partitioned by document, bounded by
   * document length.
   *
   * @return (idCol, pos INT 0-based over non-empty tokens, tok, tok_id
   *         BIGINT; 0 = OOV)
   */
  def encodeDocs(df: DataFrame, idCol: String, textCol: String, vocabSize: Int): DataFrame = {
    val toks = df.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("sp", "tok")))
      .filter(col("tok") =!= "")
    val tc = toks.persist()
    val seq0 = tc.withColumn("pos",
      row_number().over(Window.partitionBy(col(idCol)).orderBy(col("sp"))) - 1)
    val vocab = tc.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok").asc).limit(vocabSize)
    val vid = vocab.withColumn("tok_id",
      row_number().over(Window.orderBy(col("c").desc, col("tok").asc)).cast("long"))
    val out = seq0.join(broadcast(vid.select(col("tok"), col("tok_id"))), Seq("tok"), "left")
      .select(col(idCol), col("pos"), col("tok"),
        coalesce(col("tok_id"), lit(0L)).as("tok_id"))
    releaseOnFirstAction(out, tc)
  }

  /**
   * Per-group quota: keep at most `k` rows per group under the given
   * ordering — the per-source cap production corpus recipes apply so no
   * single domain/source dominates the training mix. Callers pass a
   * deterministic total order (e.g. quality desc, id asc) or the kept set
   * is not reproducible.
   *
   * One window shuffle on the group key; a pathologically hot group bounds
   * a partition at its row count — acceptable for source-sized groups (the
   * cap is about such groups existing); for adversarial skew compose with
   * a pre-filter or sample.
   *
   * @return input columns + `rk` (1-based rank within the group)
   */
  def quotaPerGroup(df: DataFrame, groupCol: String, k: Int, order: Column*): DataFrame = {
    val w = Window.partitionBy(col(groupCol)).orderBy(order: _*)
    df.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /**
   * Corpus boilerplate detection: word n-grams shared verbatim by at least
   * `minDocs` distinct documents (headers, footers, license blurbs,
   * navigation chrome), and each document's boilerplate fraction — the
   * standard span-level signal used to strip template text before
   * training. One inverted-index pass: distinct (doc, shingle) explode,
   * an n_docs count per shingle (combinable agg), and a semi-join back —
   * never a doc×doc comparison, so the shape survives 100 TB; the join
   * key is the 8-byte shingle hash, not the string.
   *
   * HASHED-KEY APPROXIMATION (same device as [[minhashDedup]]'s hash
   * spaces): grouping on xxhash64(shingle) conflates two distinct n-grams
   * iff they collide in 64 bits — probability ≈ m²/2⁶⁵ for m distinct
   * shingles (~3·10⁻⁷ even at 100 B shingles), inflating that one shingle's
   * doc count. The exact-string contract holds up to that collision bound;
   * group on the string itself if a downstream consumer needs verbatim
   * n-gram identities rather than counts.
   *
   * @return (idCol, n_ngrams, n_boiler, boiler_frac DOUBLE rounded to 6)
   *         for every doc with at least one n-gram
   */
  def boilerplateStats(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 8, minDocs: Int = 3): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
      .select(col(idCol), xxhash64(col("shingle")).as("h"))
    val shc = sh.persist()
    val boiler = shc.groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    val perDoc = shc.join(boiler, Seq("h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_boiler"))
    val out = shc.groupBy(col(idCol)).agg(count(lit(1)).as("n_ngrams"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("n_ngrams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
      .withColumn("boiler_frac", round(col("n_boiler") / col("n_ngrams"), 6))
    releaseOnFirstAction(out, shc)
  }

  /**
   * Span-level exact-substring dedup, the sequence-level complement of the
   * document-level near-dup family (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better": duplicated SPANS inside
   * otherwise-unique documents are what a doc-level dedup can never
   * remove). Finds every maximal token span covered by `k`-token grams
   * that appear in ≥ `minDocs` DISTINCT documents.
   *
   * Shape: positioned k-gram index (one posexplode), cross-doc frequency
   * (one groupBy on the gram — the exact-match analogue of a suffix-array
   * bucket), one semi-join back to positions, and a per-doc
   * gaps-and-islands merge (window over (doc, pos) — partitioned by doc,
   * never global). No self-join anywhere, so hot grams cost their row
   * count, not its square.
   *
   * Output: (id, span_start, span_end, n_tokens) — token indices are
   * 0-based inclusive over the whitespace-lowercase tokenization. Grams at
   * p1 < p2 merge into one span iff p2 − p1 ≤ k (overlapping or exactly
   * adjacent coverage).
   */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, minDocs: Int = 2): DataFrame = {
    val ws = tokens(col(textCol))
    val grams = df.select(col(idCol), ws.as("ws"))
      .filter(size(col("ws")) >= k)
      .select(col(idCol), posexplode(
        transform(sequence(lit(0), size(col("ws")) - k),
          i => concat_ws(" ", slice(col("ws"), i + 1, lit(k))))).as(Seq("pos", "gram")))
    val gramsP = grams.persist()
    val dup = gramsP.groupBy("gram")
      .agg(countDistinct(col(idCol)).as("nd"))
      .filter(col("nd") >= minDocs).select("gram")
    val marked = gramsP.join(dup, Seq("gram"), "left_semi").select(col(idCol), col("pos"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val islands = marked
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > k, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(
        Window.partitionBy(col(idCol)).orderBy(col("pos"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    releaseOnFirstAction(islands.groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + (k - 1)).cast("long").as("span_end"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("n_tokens")), gramsP)
  }

  /**
   * Cut the [[duplicateSpans]] spans out of each document. The cleaned
   * text is the whitespace-normalized LOWERCASE reconstruction (one space
   * between surviving tokens) — the canonical form every operator in this
   * file tokenizes to, and the form an engine-independent oracle can
   * recompute byte-for-byte. Span removal is a per-row higher-order
   * filter over the token array against the doc's collected spans — no
   * explode of the corpus, one broadcast-friendly left join of docs to
   * their span lists.
   *
   * @return (id, kept_tokens, removed_tokens, clean_text)
   */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int = 8, minDocs: Int = 2): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, k, minDocs)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("spans"))
    val ws = tokens(col(textCol))
    df.select(col(idCol), ws.as("ws"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("ws"),
        coalesce(col("spans"), array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
          .as("spans"))
      .select(col(idCol), col("ws"),
        filter(zip_with(col("ws"), sequence(lit(0L), size(col("ws")).cast("long") - 1L),
            (t, i) => struct(t.as("t"), i.as("i"))),
          e => !exists(col("spans"),
            s => e.getField("i").between(s.getField("span_start"), s.getField("span_end"))))
          .as("kept"))
      .select(col(idCol),
        size(col("kept")).cast("long").as("kept_tokens"),
        (size(col("ws")) - size(col("kept"))).cast("long").as("removed_tokens"),
        concat_ws(" ", transform(col("kept"), e => e.getField("t"))).as("clean_text"))
  }

  // ── Byte-pair encoding (tokenizer training + encoding) ────────────────

  /** Symbol sentinels for the BPE working representation the ORACLE uses:
    * every symbol is wrapped `\u0001sym\u0002` and symbols space-joined, so
    * a literal `replace(seq, "\u0001a\u0002 \u0001b\u0002", "\u0001ab\u0002")`
    * IS the exact left-to-right non-overlapping BPE merge application (the
    * pattern consumes no surrounding delimiter, so consecutive occurrences
    * like `a b a b` both merge, and a symbol can never match a suffix or
    * prefix of a longer symbol). The engine-side trainer/encoder work on
    * symbol ARRAYS with the same left-to-right pass semantics
    * ([[bpeMergePass]]); the wrapped rendering survives as the
    * deterministic tie-break key ([[bpeWrapPair]]).
    */
  private val SymOpen = "\u0001"
  private val SymClose = "\u0002"

  /**
   * Train a byte-pair-encoding tokenizer: `numMerges` greedy merges over
   * the corpus word-frequency table (classic Sennrich et al. 2016 BPE,
   * trained on word counts — merges never cross word boundaries). Each
   * round picks the most frequent adjacent symbol pair, tie-broken
   * deterministically by the pair's wrapped string ascending (binary
   * collation, identical in Spark and DuckDB).
   *
   * Scale: the only corpus-sized (distributed) job is the word count — one
   * shuffle, map-side combined. The word-frequency table is
   * VOCABULARY-sized by construction, so it collects once and training
   * iterates driver-side with incremental pair-count maintenance (see
   * [[bpeTrainOnWordFreq]]) — how production BPE trainers scale: 100 TB of
   * text still reduces to one compact word table; per-round work touches
   * only the words containing the chosen pair, and NO per-round cluster
   * job exists to pay 30k× scheduling latency on a real vocabulary.
   *
   * @return merge rules in rank order: (left, right, merged)
   */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int): Seq[(String, String, String)] = {
    val wf = df
      .select(explode(split(lower(col(textCol)), "[^a-z]+")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getString(0).map(_.toString).toArray, r.getLong(1)))
    bpeTrainOnWordFreq(wf, numMerges)
  }

  /** One left-to-right non-overlapping merge pass of (a, b) → m over a
    * symbol sequence — exactly what a literal string `replace` of the
    * wrapped pair does (the scan continues AFTER a replacement, so
    * overlapping occurrences merge greedily left-first and the replacement
    * output is never rescanned within the pass). */
  private def bpeMergePass(w: Array[String], a: String, b: String, m: String): Array[String] = {
    val out = new scala.collection.mutable.ArrayBuffer[String](w.length)
    var i = 0
    while (i < w.length) {
      if (i + 1 < w.length && w(i) == a && w(i + 1) == b) { out += m; i += 2 }
      else { out += w(i); i += 1 }
    }
    out.toArray
  }

  /** The trainer's selection key: the pair rendered in its wrapped working
    * representation, compared ascending. All symbol chars are BMP (letters
    * + sentinels), so Java's compareTo equals the binary UTF-8 collation
    * the DuckDB oracle's selection uses. */
  private def bpeWrapPair(a: String, b: String): String =
    SymOpen + a + SymClose + " " + SymOpen + b + SymClose

  /**
   * Greedy BPE training over a collected word-frequency table (Sennrich et
   * al. 2016): each round picks the most frequent adjacent symbol pair
   * (count desc, wrapped-pair string asc — the deterministic oracle
   * tie-break) and merges it left-to-right in every word containing it.
   * Incremental: a round subtracts the touched words' old pair
   * contributions and adds the merged form's back, so per-round cost is
   * O(words containing the pair), not O(vocabulary) — the standard trainer
   * shape that survives real merge counts (30k+), unlike the former
   * one-Spark-job-per-round chained-replace plan whose Catalyst expression
   * depth grew with the merge rank.
   */
  private[graft] def bpeTrainOnWordFreq(wf: Array[(Array[String], Long)],
                                       numMerges: Int): Seq[(String, String, String)] = {
    import scala.collection.mutable
    val words: Array[Array[String]] = wf.map(_._1)
    val cnts: Array[Long] = wf.map(_._2)
    val counts = mutable.HashMap.empty[(String, String), Long]
    // pair → indices of words that contained it at some point. A SUPERSET:
    // entries go stale when a later merge rewrites the word; the per-round
    // containment re-check filters them, while `counts` stays EXACT through
    // the subtract/add bookkeeping.
    val where = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    def addWord(i: Int, sign: Long): Unit = {
      val w = words(i); val c = cnts(i) * sign
      var j = 0
      while (j + 1 < w.length) {
        val p = (w(j), w(j + 1))
        val nv = counts.getOrElse(p, 0L) + c
        if (nv == 0L) counts.remove(p) else counts.update(p, nv)
        if (sign > 0L) where.getOrElseUpdate(p, mutable.HashSet.empty) += i
        j += 1
      }
    }
    var i = 0
    while (i < words.length) { addWord(i, 1L); i += 1 }
    val out = mutable.ArrayBuffer.empty[(String, String, String)]
    var round = 0
    var done = false
    while (round < numMerges && !done) {
      // total-order scan → deterministic regardless of hash iteration order
      var best: (String, String) = null
      var bestC = 0L
      var bestKey: String = null
      counts.foreach { case (p, c) =>
        if (c > 0L) {
          val key = bpeWrapPair(p._1, p._2)
          if (best == null || c > bestC || (c == bestC && key < bestKey)) {
            best = p; bestC = c; bestKey = key
          }
        }
      }
      if (best == null) done = true
      else {
        val (a, b) = best
        val m = a + b
        out += ((a, b, m))
        // merging (a,b) → m can never create a new (a,b) adjacency (m is
        // strictly longer than either part), so one pass per word suffices
        where.getOrElse(best, mutable.HashSet.empty).toArray.foreach { wi =>
          val w = words(wi)
          var has = false
          var j = 0
          while (!has && j + 1 < w.length) {
            if (w(j) == a && w(j + 1) == b) has = true
            j += 1
          }
          if (has) {
            addWord(wi, -1L)
            words(wi) = bpeMergePass(w, a, b, m)
            addWord(wi, 1L)
          }
        }
        where.remove(best)
        round += 1
      }
    }
    out.toSeq
  }

  /** [[bpeTrain]] as a DataFrame: (rank, left, right, merged). */
  def bpeMerges(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeTrain(df, textCol, numMerges).zipWithIndex
      .map { case ((a, b, m), i) => (i.toLong, a, b, m) }
      .toDF("rank", "left", "right", "merged")
  }

  /** Encode one word against the rank-ordered merges: the merges apply in
    * rank order, each as one left-to-right non-overlapping pass — exactly
    * the semantics of chaining literal `replace`s of the wrapped pairs (the
    * oracle's formulation). A presence superset of the word's symbols skips
    * the passes that cannot apply, so a word costs O(numMerges) hash probes
    * plus O(word length) per APPLICABLE merge — not a 30k-deep Catalyst
    * expression chain like the former chained-replace projection, which
    * codegen could not survive at real vocabulary sizes. */
  private def bpeEncodeWord(word: String,
                            merges: Array[(String, String, String)]): Array[String] = {
    var syms: Array[String] = word.map(_.toString).toArray
    // superset of symbols present (merged symbols add, consumed parts stay —
    // a stale member only costs one wasted pass, never a wrong result)
    val present = scala.collection.mutable.HashSet.empty[String]
    syms.foreach(present += _)
    var r = 0
    while (r < merges.length) {
      val (a, b, m) = merges(r)
      if (syms.length > 1 && present(a) && present(b)) {
        var has = false
        var j = 0
        while (!has && j + 1 < syms.length) {
          if (syms(j) == a && syms(j + 1) == b) has = true
          j += 1
        }
        if (has) {
          syms = bpeMergePass(syms, a, b, m)
          present += m
        }
      }
      r += 1
    }
    syms
  }

  /**
   * Apply trained merge rules to a corpus: each doc's words (same `[a-z]+`
   * convention as training) encode independently (merges never cross word
   * boundaries) in rank order, exact left-to-right BPE — semantically
   * identical to the oracle's chained literal replaces. One `mapPartitions`
   * pass with the merge table BROADCAST: per-row symbol merging is a
   * data-dependent fixpoint, not a fixed projection, so this is the one
   * place an imperative row loop beats an expression tree — a 30k-rule
   * vocabulary is a broadcast array probe, not a 30k-node Catalyst plan.
   * A per-partition word cache exploits the corpus's Zipfian word
   * distribution (each distinct word encodes once per partition).
   *
   * @return (id, tokens = space-joined token string, n_tokens)
   */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String, String)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val spark = df.sparkSession
    val bc = spark.sparkContext.broadcast(merges.toArray)
    val outSchema = StructType(Seq(
      df.schema(idCol),
      StructField("tokens", StringType, nullable = true),
      StructField("n_tokens", LongType, nullable = true)))
    df.select(col(idCol), col(textCol).cast("string"))
      .mapPartitions { rows =>
        val ms = bc.value
        val wordRe = java.util.regex.Pattern.compile("[^a-z]+")
        val cache = new java.util.HashMap[String, Array[String]]()
        rows.map { r =>
          val text = if (r.isNullAt(1)) null else r.getString(1)
          if (text == null) Row(r.get(0), null, null)
          else {
            val words = wordRe.split(text.toLowerCase(java.util.Locale.ROOT))
            val sb = new java.lang.StringBuilder
            var n = 0L
            var i = 0
            while (i < words.length) {
              val w = words(i)
              if (w.nonEmpty) {
                var toks = cache.get(w)
                if (toks == null) { toks = bpeEncodeWord(w, ms); cache.put(w, toks) }
                var j = 0
                while (j < toks.length) {
                  if (sb.length > 0) sb.append(' ')
                  sb.append(toks(j))
                  n += 1L
                  j += 1
                }
              }
              i += 1
            }
            Row(r.get(0), sb.toString, n)
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
  }

  /** Exact Jaccard verification restricted to candidate pairs (broadcast-able
    * candidate set; at scale the shingle join partitions by shingle).
    *
    * The shingle table is REBUILT from the source (`shingles(df, …)`) rather
    * than reusing the instance the candidates derive from: `candidates`
    * carries the shingle scan in its lineage, and joining it back against
    * the same plan object trips Spark's self-join attribute de-duplication,
    * which silently mis-resolves the shared expression ids and drops pairs
    * (measured in round 1: 12/28 pairs lost; regression covered by
    * TextSpec). The rebuilt plan has fresh expression ids for the derived
    * columns, and still hits the `sh.cache()` data — CacheManager matches
    * cached plans by `sameResult`, which is exprId-insensitive — so nothing
    * is recomputed and the whole verify stays one declarative codegen'd
    * plan (round 1 used an RDD-boundary cut here, which disabled
    * codegen/AQE across the boundary and recomputed the candidates per
    * action).
    */
  private def verifyJaccard(candidates: DataFrame, df: DataFrame, n: Int,
                            idCol: String, textCol: String, threshold: Double): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))
    val inter = candidates
      .join(sh.select(col(idCol).as("a"), col("shingle")), "a")
      .join(sh.select(col(idCol).as("b"), col("shingle")), Seq("b", "shingle"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col(idCol).as("b"), col("sz").as("szb")), "b")
      .withColumn("jaccard", round(col("inter") / (col("sza") + col("szb") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }
}
