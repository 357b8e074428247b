package graft

import graft.ml.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),   // near 1
    (3L, Array(0.0f, 1.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("cosine in double precision") {
    val s = vecs.filter($"vec_id" === 1).crossJoin(
      vecs.filter($"vec_id" === 3).select($"embedding".as("e2")))
      .select(Similarity.cosine($"embedding", $"e2")).collect()(0).getDouble(0)
    assert(math.abs(s) < 1e-12)
  }

  test("brute-force knn ranks nearest first") {
    val knn = Similarity.bruteForceKnn(vecs, vecs.filter($"vec_id" === 1), 2)
      .orderBy("rank").collect()
    assert(knn(0).getLong(1) == 2L) // rank 1 = vector 2
    assert(knn.length == 2)
  }

  test("near-dup pairs above threshold") {
    val pairs = Similarity.nearDupPairs(vecs, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("semantic near-dup: subset of exact pairs, finds same-cell neighbors") {
    val emb = spark.read.parquet(s"$SF/embeddings.parquet")
    val exact = Similarity.nearDupPairs(emb, 0.4)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val semantic = Similarity.semanticNearDup(emb, 0.4, numCells = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(semantic.nonEmpty)
    assert(semantic.forall { case (a, b, s) => a < b && s >= 0.4 })
    assert(semantic.map(t => (t._1, t._2)).toSet.subsetOf(exact))
    // one cell per vector → each pair appears exactly once
    assert(semantic.map(t => (t._1, t._2)).distinct.length == semantic.length)
  }

  test("kmeans: separated clusters recover their members' exact means") {
    import spark.implicits._
    // two tight clusters around orthogonal axes + their perturbed copies
    val pts = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)), (3L, Array(0.95f, 0.05f)),
      (4L, Array(0.0f, 1.0f)), (5L, Array(0.1f, 0.9f)), (6L, Array(0.05f, 0.95f))
    ).toDF("vec_id", "embedding")
    val cent = Similarity.kmeansCentroids(pts, 2, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
    assert(cent.length == 2)
    // each centroid is the exact per-dimension mean of one axis cluster
    val sums = cent.map(_._2.sum).sorted
    assert(sums.forall(s => math.abs(s - 1.0) < 1e-6)) // float32 inputs: ~1e-7 ulps
    val x = cent.map(_._2.head).sorted
    assert(x.head < 0.2 && x.last > 0.8) // one centroid per axis cluster
  }

  test("native vec_cosine is bit-identical to the HOF form on real embeddings") {
    val emb = spark.read.parquet(s"$SF/embeddings.parquet").limit(200)
    val pairs = emb.select($"vec_id".as("a"), $"embedding".as("ea"))
      .crossJoin(emb.select($"vec_id".as("b"), $"embedding".as("eb")))
      .filter($"a" < $"b")
    val diff = pairs.select(
      Similarity.cosine($"ea", $"eb").as("fast"),
      Similarity.cosineHof($"ea", $"eb").as("hof"))
      .filter($"fast" =!= $"hof").count()
    assert(diff === 0L)
  }

  test("ivf knn with nprobe = numCells equals brute force exactly") {
    val emb = spark.read.parquet(s"$SF/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceKnn(emb, queries, 5)
      .select("q_id", "vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ivf = Similarity.ivfKnn(emb, queries, 5, numCells = 4, nprobe = 4)
      .select("q_id", "vec_id", "sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(ivf === exact)
  }

  test("ivf knn recall at nprobe < numCells is reasonable") {
    val emb = spark.read.parquet(s"$SF/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceKnn(emb, queries, 5)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfKnn(emb, queries, 5, numCells = 8, nprobe = 4)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"ivf recall $recall too low")
  }

  test("lsh knn recall vs brute force on real embeddings") {
    val emb = spark.read.parquet(s"$SF/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val exact = Similarity.bruteForceKnn(emb, queries, 5)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // neighbors here are only ~0.4-0.5 cosine → short codes + many tables
    val approx = Similarity.lshKnn(emb, queries, 5, dim = 64, numBits = 4, tables = 16)
      .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"lsh recall $recall too low")
  }

  test("recallAtK: exact-vs-itself is 1.0, disjoint approx is 0.0, partial counts hits") {
    import graft.ml.Similarity
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L)).toDF("q_id", "vec_id")
    val self = Similarity.recallAtK(exact, exact, 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(self == Map(1L -> 1.0, 2L -> 1.0))
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 98L), (2L, 99L)).toDF("q_id", "vec_id")
    val got = Similarity.recallAtK(approx, exact, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 1L, 0.5), (2L, 0L, 0.0)))
  }

  test("int8 quantization: codes in range, zero vector safe, recon cosine high") {
    import graft.ml.Quantization
    val withZero = vecs.unionByName(
      Seq((5L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val q = Quantization.quantizeInt8(withZero, "vec_id", "embedding")
    val m = q.collect().map(r =>
      r.getLong(0) -> ((r.getDouble(1), r.getSeq[Int](2), r.getDouble(3)))).toMap
    // unit basis vector quantizes exactly
    assert(m(1L)._1 == 1.0 / 127 && m(1L)._2 == Seq(127, 0, 0) && m(1L)._3 == 1.0)
    // all codes within int8 range
    assert(m.values.forall(_._2.forall(c => c >= -127 && c <= 127)))
    // zero vector: scale 0, all-zero codes, exact reconstruction by definition
    assert(m(5L)._1 == 0.0 && m(5L)._2 == Seq(0, 0, 0) && m(5L)._3 == 1.0)
    // reconstruction quality on real embeddings: int8 loses < 1e-3 cosine
    val real = Quantization.quantizeInt8(
      spark.read.parquet(s"$SF/embeddings.parquet"), "vec_id", "embedding")
    val minCos = real.agg(min("recon_cos")).collect()(0).getDouble(0)
    assert(minCos > 0.999, s"worst reconstruction cosine $minCos")
  }

  test("product quantization: codebook shape, codes, ADC finds planted duplicates") {
    // deterministic 16-dim corpus with EXACT duplicates planted: vector
    // 100+i copies vector i, so its PQ codes are identical and its ADC
    // distance sum is the global minimum — the duplicate must surface
    val base = (0L until 40L).map { id =>
      (id, Array.tabulate(16)(j => (((id * 31 + j * 7) % 97).toFloat / 97f)))
    }
    val dups = (0L until 3L).map(i => (100L + i, base(i.toInt)._2))
    val corpus = (base ++ dups).toDF("vec_id", "embedding")
    val cent = Similarity.pqTrain(corpus, dim = 16, m = 4, ksub = 8, iters = 2)
    val bySub = cent.groupBy("sub").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bySub.keySet == Set(0L, 1L, 2L, 3L) && bySub.values.forall(_ <= 8))
    assert(cent.select("c_sub").collect().forall(_.getSeq[Double](0).size == 4))
    val codes = Similarity.pqEncode(corpus, dim = 16, m = 4, ksub = 8, iters = 2)
    assert(codes.count() == 43L * 4)
    assert(codes.agg(max("code")).collect()(0).getLong(0) < 8)
    // duplicates carry identical code rows
    val codeMap = codes.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    (0L until 3L).foreach { i =>
      (0L until 4L).foreach(s => assert(codeMap((100L + i, s)) == codeMap((i, s))))
    }
    // ADC: querying each duplicate must rank its original FIRST (identical
    // codes → the minimal possible distance sum; id tiebreak puts the
    // original ahead of any same-code impostor only if codes differ — so
    // assert membership at the minimum, which is exact)
    val knn = Similarity.pqKnn(corpus, corpus.filter($"vec_id" >= 100L), k = 3,
      dim = 16, m = 4, ksub = 8, iters = 2).collect()
      .groupBy(_.getLong(0))
    (0L until 3L).foreach { i =>
      val rows = knn(100L + i).sortBy(_.getInt(3))
      val minD = rows.head.getLong(2)
      val atMin = rows.filter(_.getLong(2) == minD).map(_.getLong(1)).toSet
      assert(atMin.contains(i), s"query ${100 + i}: original $i not at the ADC minimum")
    }
    // pqEncodeWith ≡ pqEncode given the same trained codebook (the overload
    // pqKnn uses to train ONCE instead of twice)
    val viaWith = Similarity.pqEncodeWith(corpus, cent, dim = 16, m = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaWith == codeMap)
  }

  test("pqKnn trains its codebook once (single training subtree in the plan)") {
    val corpus = (0L until 30L).map { id =>
      (id, Array.tabulate(16)(j => (((id * 17 + j * 11) % 89).toFloat / 89f)))
    }.toDF("vec_id", "embedding")
    val knn = Similarity.pqKnn(corpus, corpus.limit(2), k = 2, dim = 16)
    // the codebook is persisted, so BOTH consumers (code table + query
    // distance table) read InMemoryRelation; the training subtree — whose
    // distinctive marker is the md5-ordered init — appears in the analyzed
    // plan exactly once (under the cache), not once per consumer
    val plan = knn.queryExecution.optimizedPlan.toString
    val trainMarkers = "InMemoryRelation".r.findAllIn(plan).size
    assert(trainMarkers >= 2, s"expected cached codebook reads, got:\n$plan")
    assert(!plan.contains("md5"), "training subtree duplicated past the cache")
  }

  test("multi-probe LSH: candidate superset of single-probe — top-1 never worse") {
    val corpus = (0L until 60L).map { id =>
      (id, Array.tabulate(16)(j => (((id * 29 + j * 17) % 103).toFloat / 103f)))
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter($"vec_id" < 5L)
    def top1(df: org.apache.spark.sql.DataFrame) = df.filter($"rank" === 1)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val single = top1(Similarity.lshKnn(corpus, qs, 3, dim = 16, numBits = 6, tables = 2))
    val multi = top1(Similarity.lshMultiProbeKnn(corpus, qs, 3, dim = 16, numBits = 6, tables = 2))
    // bit-flip probes strictly widen the candidate set per query
    single.foreach { case (q, sim) =>
      assert(multi.contains(q) && multi(q) >= sim, s"query $q: $sim -> ${multi.get(q)}")
    }
  }

  test("ivfPqKnn: nprobe = numCells equals pqKnn exactly; pruning only drops rows") {
    val corpus = (0L until 40L).map { id =>
      (id, Array.tabulate(16)(j => (((id * 23 + j * 13) % 101).toFloat / 101f)))
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter($"vec_id" < 3L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    val full = rows(Similarity.pqKnn(corpus, qs, k = 4, dim = 16))
    // probing every coarse cell = no pruning: identical (q, vec, d2, rank)
    val all = rows(Similarity.ivfPqKnn(corpus, qs, k = 4, dim = 16,
      numCells = 4, nprobe = 4))
    assert(all == full)
    // real pruning: every surviving pair's ADC distance matches pqKnn's
    // score for that pair (pruning changes the candidate SET, never the
    // arithmetic), and nothing beyond k survives per query
    val pruned = Similarity.ivfPqKnn(corpus, qs, k = 4, dim = 16,
      numCells = 4, nprobe = 2).collect()
    val fullD = Similarity.pqKnn(corpus, qs, k = 40, dim = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    pruned.foreach { r =>
      assert(fullD((r.getLong(0), r.getLong(1))) == r.getLong(2))
      assert(r.getInt(3) <= 4)
    }
    assert(pruned.groupBy(_.getLong(0)).values.forall(_.length <= 4))
  }

  test("top-k operators: ranks 1..min(k, candidates), no self-match, ordered by score then vec_id") {
    val corpus = (0L until 40L).map { id =>
      (id, Array.tabulate(16)(j => (((id * 19 + j * 7) % 61).toFloat / 61f)))
    }.toDF("vec_id", "embedding")
    val qs = corpus.filter($"vec_id" < 4L)
    // (operator, top-k at k, score column, higher score ranks first)
    val ops: Seq[(String, Int => org.apache.spark.sql.DataFrame, String, Boolean)] = Seq(
      ("bruteForceKnn", k => Similarity.bruteForceKnn(corpus, qs, k), "sim", true),
      ("ivfKnn", k => Similarity.ivfKnn(corpus, qs, k, numCells = 4, nprobe = 2), "sim", true),
      ("lshKnn", k => Similarity.lshKnn(corpus, qs, k, dim = 16, numBits = 4, tables = 2),
        "sim", true),
      ("lshMultiProbeKnn", k => Similarity.lshMultiProbeKnn(corpus, qs, k, dim = 16,
        numBits = 4, tables = 2), "sim", true),
      ("pqKnn", k => Similarity.pqKnn(corpus, qs, k, dim = 16), "d2_micros", false),
      ("ivfPqKnn", k => Similarity.ivfPqKnn(corpus, qs, k, dim = 16, numCells = 4, nprobe = 2),
        "d2_micros", false))
    val k = 5
    for ((name, op, score, desc) <- ops) {
      def byQuery(kk: Int): Map[Long, Seq[(Long, Double, Int)]] = op(kk).collect().toSeq
        .groupBy(_.getAs[Long]("q_id")).map { case (q, rs) =>
          q -> rs.map(r => (r.getAs[Long]("vec_id"), r.getAs[Number](score).doubleValue,
            r.getAs[Int]("rank"))).sortBy(_._3)
        }
      // k at the corpus size ranks every candidate of a query
      val all = byQuery(40)
      val top = byQuery(k)
      assert(top.keySet == all.keySet, s"$name: queries with candidates differ")
      for ((q, cands) <- all) {
        assert(cands.map(_._3) == (1 to cands.size), s"$name q=$q: ranks $cands")
        assert(top(q).map(_._3) == (1 to math.min(k, cands.size)), s"$name q=$q: ${top(q)}")
        assert(top(q) == cands.take(k), s"$name q=$q: top-k is not the ranked prefix")
        assert(cands.forall(_._1 != q), s"$name q=$q: self-match")
        cands.zip(cands.drop(1)).foreach { case ((va, sa, _), (vb, sb, _)) =>
          val ordered = if (sa != sb) (if (desc) sa > sb else sa < sb) else va < vb
          assert(ordered, s"$name q=$q: ($va, $sa) ranked before ($vb, $sb)")
        }
      }
    }
  }

  test("CovSum scaled-long fast path is value-identical to the dec28 reference") {
    import graft.ml.Similarity.CovSum
    // adversarial singles: exact scale-13 ties (must route to the slow
    // path), near-ties on both sides, signs, zeros, cap boundaries,
    // subnormals, NaN/Inf handled by the caller
    val adversarial = Seq(
      5e-13, -5e-13, 1.5e-12, 0.0000000000035, 0.1234567890125,
      4.999e-13, 5.001e-13, 0.4999999999995, 0.5000000000005,
      0.0, -0.0, 1e-13, 1e-300, Double.MinPositiveValue,
      7.999999999999, 8.0, 8.000000001, 123.456789, 1e15, -1e15,
      0.5193882584571838 * 0.5773653984069824, 1.0 / 3.0, math.Pi)
    val rnd = new scala.util.Random(42)
    val randoms = Seq.fill(200000)((rnd.nextDouble() - 0.5) * 16.0) ++
      Seq.fill(50000)(rnd.nextLong().toDouble / 1e12) ++ // dense near scale-12 grid
      Seq.fill(50000)((rnd.nextInt(2000000) - 1000000) / 2.0 * 1e-12) // exact ties & grid points
    var fastHits = 0
    for (v <- adversarial ++ randoms) {
      val ref = CovSum.dec28(v)
      val k = CovSum.fastK(v)
      if (k != CovSum.NoFast) {
        fastHits += 1
        assert(java.math.BigDecimal.valueOf(k, 12).compareTo(ref) == 0,
          s"fastK($v) = $k disagrees with dec28 = $ref")
      }
    }
    assert(fastHits > 200000) // the fast path must actually cover the bulk
    // end-to-end: Acc over a shuffled mix of fast/slow/NaN terms equals the
    // pure-BigDecimal fold, including the never-seen -> null contract
    val terms = rnd.shuffle(adversarial.filter(v => math.abs(v) < 1e16) ++
      Seq.fill(5000)((rnd.nextDouble() - 0.5) * 16.0) ++ Seq(Double.NaN))
    val acc = new CovSum.Acc(2)
    var refSum: java.math.BigDecimal = null
    for (v <- terms) {
      acc.add(0, v)
      val d = CovSum.dec28(v)
      if (d != null) refSum = if (refSum == null) d else refSum.add(d)
    }
    assert(acc.total(0).compareTo(refSum) == 0)
    assert(acc.total(1) == null) // untouched slot stays null, not zero
    // spill path: 1.3M fast adds of 7.5 (k = 7.5e12) overflow a long's
    // 9.2e18 and must drain exactly into the BigDecimal bucket
    val big = new CovSum.Acc(1)
    val reps = 1300000
    for (_ <- 0 until reps) big.add(0, 7.5)
    assert(big.total(0).compareTo(
      new java.math.BigDecimal("7.5").multiply(new java.math.BigDecimal(reps))) == 0)
  }

  test("covarianceMatrix equals the brute-force covariance on a small corpus") {
    val vecs = (0 until 7).map(i =>
      (i.toLong, Array.tabulate(4)(j => ((i * 3 + j * 5) % 11).toFloat / 11f)))
    val got = Similarity.covarianceMatrix(vecs.toDF("vec_id", "embedding"), "embedding", 4)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.size == 10) // 4*5/2 upper-triangle cells
    val n = vecs.size
    val xs = vecs.map(_._2.map(_.toDouble))
    for (i <- 0 until 4; j <- i until 4) {
      val sxy = xs.map(v => v(i) * v(j)).sum
      val sxi = xs.map(_(i)).sum
      val sxj = xs.map(_(j)).sum
      val cov = (sxy - sxi * sxj / n) / n
      val (gn, gc) = got((i, j))
      assert(gn == n && math.abs(gc - cov) < 1e-6, s"cell ($i,$j): $gc vs $cov")
    }
  }

  test("powerIteration converges to the dominant eigenvector") {
    // diag(2, 1): top eigenvector is e0; uniform start pins the + sign
    val cov = Seq((0, 0, 2.0), (0, 1, 0.0), (1, 1, 1.0)).toDF("i", "j", "cov")
    val v = Similarity.powerIteration(cov, dim = 2, iters = 8)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(v(0) > 0.99 && v(1) >= 0.0 && v(1) < 0.15, v.toString)
    assert(math.abs(v(0) * v(0) + v(1) * v(1) - 1.0) < 1e-3) // unit norm
    // off-diagonal coupling: C = [[1, 1], [1, 1]] → eigvec (1, 1)/√2
    val cov2 = Seq((0, 0, 1.0), (0, 1, 1.0), (1, 1, 1.0)).toDF("i", "j", "cov")
    val v2 = Similarity.powerIteration(cov2, dim = 2, iters = 4)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(math.abs(v2(0) - math.sqrt(0.5)) < 1e-6 &&
      math.abs(v2(1) - math.sqrt(0.5)) < 1e-6)
  }

  test("powerIterationDeflated: second component unit-norm, orthogonal, distinct eigenvalue") {
    // anisotropic synthetic corpus: variance concentrated on two axes
    val vecs = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(6)(j =>
        (if (j == 0) i * 1.0f else if (j == 1) (i % 7) * 0.5f else 0.01f * ((i + j) % 3))))
    }.toDF("vec_id", "embedding")
    val cov = Similarity.covarianceMatrix(vecs, "embedding", 6)
    val c1 = Similarity.powerIteration(cov, dim = 6, iters = 8)
    val c2 = Similarity.powerIterationDeflated(cov, c1, dim = 6, iters = 8)
    val v1 = c1.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val v2 = c2.collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val dot = (0 until 6).map(d => v1(d) * v2(d)).sum
    val n2 = math.sqrt((0 until 6).map(d => v2(d) * v2(d)).sum)
    assert(math.abs(dot) < 1e-3, s"components must be orthogonal, dot=$dot")
    assert(math.abs(n2 - 1.0) < 1e-4, s"second component must be unit, |v2|=$n2")
    // dominant axis of v2 is the second-variance direction (dim 1), not dim 0
    assert(math.abs(v2(1)) > 0.9 && math.abs(v2(0)) < 0.3, v2.toString)
  }

  test("projectComponent: hand-computed dot products against a component") {
    val comp = Seq((0, 1.0), (1, 0.5)).toDF("d", "comp")
    val vecs = Seq((1L, Array(2f, 4f)), (2L, Array(0f, 2f)),
      (3L, Array(1f))) // wrong dim → dropped
      .toDF("vec_id", "embedding")
    val got = Similarity.projectComponent(vecs, "embedding", comp, 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 4.0, 2L -> 1.0))
  }

  test("covarianceMatrix: diagonal is variance (non-negative), malformed rows drop") {
    val vecs = Seq(
      (1L, Array(1f, 2f)), (2L, Array(3f, 5f)),
      (3L, Array(1f)),               // wrong dim → dropped
      (4L, null.asInstanceOf[Array[Float]])) // null → dropped
      .toDF("vec_id", "embedding")
    val got = Similarity.covarianceMatrix(vecs, "embedding", 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == Set((0, 0), (0, 1), (1, 1)))
    assert(got.values.forall(_._1 == 2L)) // only the two well-formed rows count
    assert(got((0, 0))._2 >= 0 && got((1, 1))._2 >= 0)
    assert(math.abs(got((0, 0))._2 - 1.0) < 1e-9) // var of {1,3} = 1 (population)
  }

  test("driver-gated eigensolve is bit-identical to the distributed recurrence") {
    // the size gate (DriverEigensolveMaxDim) swaps the published
    // distributed decimal recurrence for an in-JVM replay; the oracle
    // hash must not move, so compare raw double BITS on real embeddings
    val emb = spark.read.parquet(s"$SF/embeddings.parquet")
    val cov = Similarity.covarianceMatrix(emb, "embedding", 64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cov.count()
    def bits(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      df.collect().map(r =>
        r.getInt(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    val localV1 = Similarity.powerIterationLocal(cov, None, 64, 6)
    assert(bits(localV1) == bits(Similarity.powerIterationDistributed(cov, None, 64, 6)),
      "powerIteration local/distributed bit divergence")
    val local2 = Similarity.powerIterationLocal(cov, Some(localV1), 64, 3)
    assert(bits(local2) ==
      bits(Similarity.powerIterationDistributed(cov, Some(localV1), 64, 3)),
      "powerIterationDeflated local/distributed bit divergence")
    cov.unpersist()
  }

  test("eigensolve gate: sparse/absent rows replicate distributed join semantics") {
    // index 2 has NO covariance entries: the distributed group-by emits no
    // row for it — the local replay must drop it too, not emit a zero
    val cov = Seq((0, 0, 2.0), (0, 1, 0.5), (1, 1, 1.0)).toDF("i", "j", "cov")
    def rows(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
      df.collect().map(r =>
        r.getInt(0) -> java.lang.Double.doubleToRawLongBits(r.getDouble(1))).toMap
    val loc = rows(Similarity.powerIterationLocal(cov, None, 3, 4))
    val dist = rows(Similarity.powerIterationDistributed(cov, None, 3, 4))
    assert(loc.keySet == Set(0, 1) && loc == dist)
  }

  test("eigensolve gate: null covariance cells propagate like the SQL recurrence") {
    // a null cov cell (non-finite input element) is SKIPPED by the SQL
    // decimal sums, not crashed on — the local replay must match both the
    // row set and every bit, including any null comps
    val cov = Seq((0, 0, Some(2.0)), (0, 1, None), (1, 1, Some(1.0)),
      (2, 2, None)).toDF("i", "j", "cov")
    def rows(df: org.apache.spark.sql.DataFrame): Map[Int, Option[Long]] =
      df.collect().map(r => r.getInt(0) ->
        (if (r.isNullAt(1)) None
         else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1))))).toMap
    val loc = rows(Similarity.powerIterationLocal(cov, None, 3, 3))
    val dist = rows(Similarity.powerIterationDistributed(cov, None, 3, 3))
    assert(loc == dist, s"local $loc vs distributed $dist")
    // deflation against a component carrying a null comp row: same contract
    val v1loc = Similarity.powerIterationLocal(cov, None, 3, 1)
    val loc2 = rows(Similarity.powerIterationLocal(cov, Some(v1loc), 3, 2))
    val dist2 = rows(Similarity.powerIterationDistributed(cov, Some(v1loc), 3, 2))
    assert(loc2 == dist2, s"deflated local $loc2 vs distributed $dist2")
  }

  test("eigensolve gate: an all-zero covariance errors on BOTH paths (ANSI divide-by-zero)") {
    val cov = Seq((0, 0, 0.0), (0, 1, 0.0), (1, 1, 0.0)).toDF("i", "j", "cov")
    assertThrows[ArithmeticException](
      Similarity.powerIterationLocal(cov, None, 2, 3).collect())
    assertThrows[ArithmeticException](
      Similarity.powerIterationDistributed(cov, None, 2, 3).collect())
    // the deflated recurrence against a supplied unit comp1: A = 0 gives
    // λ₁ = 0 and y = 0 on every row, so its norm is zero on both paths too
    val comp1 = Seq((0, 1.0), (1, 0.0)).toDF("d", "comp")
    assertThrows[ArithmeticException](
      Similarity.powerIterationLocal(cov, Some(comp1), 2, 3).collect())
    assertThrows[ArithmeticException](
      Similarity.powerIterationDistributed(cov, Some(comp1), 2, 3).collect())
  }
}
