package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val vecs = Seq(
    (0L, Array(1f, 0f, 0f)),
    (1L, Array(1f, 0f, 0f)),     // identical to 0
    (2L, Array(0.9f, 0.1f, 0f)), // close to 0
    (3L, Array(0f, 1f, 0f)),     // orthogonal
    (4L, Array(-1f, 0f, 0f)))    // opposite
    .toDF("vec_id", "embedding")

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val out = vecs.as("l").join(vecs.as("r"), col("l.vec_id") < col("r.vec_id"))
      .select(col("l.vec_id"), col("r.vec_id"),
        round(Similarity.cosine(col("l.embedding"), col("r.embedding")), 6).as("c"))
      .as[(Long, Long, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(out((0L, 1L)) == 1.0)
    assert(out((0L, 3L)) == 0.0)
    assert(out((0L, 4L)) == -1.0)
    assert(out((0L, 2L)) > 0.99 && out((0L, 2L)) < 1.0)
  }

  test("cosine of zero vector is null, not NaN") {
    val z = Seq((0L, Array(0f, 0f)), (1L, Array(1f, 0f))).toDF("id", "v")
    val r = z.as("l").join(z.as("r"), col("l.id") < col("r.id"))
      .select(Similarity.cosine(col("l.v"), col("r.v")).as("c"))
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("bruteForceTopK: exact ranks with id tiebreak, excludes self") {
    val res = Similarity.bruteForceTopK(
      vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._3)
    assert(res == Seq((0L, 1L, 1L), (0L, 2L, 2L), (0L, 3L, 3L)))
  }

  test("lshTopK: bucket-mates of an identical vector always include it") {
    // identical vectors share every hyperplane sign → same bucket, rank 1
    val res = Similarity.lshTopK(
      vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
      dim = 3, k = 3, numPlanes = 6)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toMap
    assert(res.get(1L).contains(1L))
  }

  test("cosineNearDupPairs: only the >=0.99 pairs survive") {
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq.sorted
    assert(pairs == Seq((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("cosineNearDupPairs: block count never changes the result") {
    // every unordered pair must be examined exactly once regardless of how
    // ids hash into blocks (diagonal + off-diagonal chunk pairs partition
    // the pair space)
    val expected = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.5, numBlocks = 1)
      .as[(Long, Long, Double)].collect().toSet
    for (b <- Seq(2, 3, 7, 16)) {
      val got = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", 0.5, numBlocks = b)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == expected, s"numBlocks=$b diverged")
    }
    assert(expected.map(p => (p._1, p._2)) == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("annRecall: LSH top-k recall vs exact ground truth meets a quantitative floor") {
    // deterministic on the driver-generated corpus: both sides (hyperplane
    // signs, exact ranks) are pure functions of the data
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    def meanRecall(planes: Int, tables: Int): Double =
      Similarity.annRecall(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        dim = 64, k = 10, numPlanes = planes, numTables = tables)
        .agg(avg("recall")).as[Double].collect()(0)
    // the registry config: this synthetic corpus has near-random neighbors
    // (~75° ⇒ per-plane agreement ~0.58), so recall ≈ 1−(1−0.58⁴)¹⁶ ≈ 0.85
    val mean = meanRecall(4, 16)
    info(f"mean recall (m=4, L=16) = $mean%.4f")
    assert(mean >= 0.5, s"LSH recall collapsed: $mean")
    // more tables → strictly more candidates → recall must not decrease
    val meanFewTables = meanRecall(4, 4)
    info(f"mean recall (m=4, L=4)  = $meanFewTables%.4f")
    assert(mean >= meanFewTables - 1e-9,
      s"recall fell when tables were added: $mean < $meanFewTables")
  }

  test("cosineClusters: near-dup chain collapses to the min id; orthogonal/opposite stay singletons") {
    // 0~1 (identical) and 0~2 (cos≈0.994) chain {0,1,2}; 3 and 4 are
    // far from everything at threshold 0.9
    val got = Similarity.cosineClusters(vecs, "vec_id", "embedding", 0.9)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L))
  }

  test("certifyRecallFloor: attaches mean/floor/pass when met, raises when violated") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val rec = Similarity.quantizedRecall(
      emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
    val ok = Similarity.certifyRecallFloor(rec, floor = 0.0).collect()
    assert(ok.nonEmpty && ok.forall(_.getAs[Boolean]("pass")))
    val mean = ok.head.getAs[Double]("mean_recall")
    assert(ok.forall(_.getAs[Double]("mean_recall") == mean))
    // an unmeetable floor must FAIL the query, not return pass=false rows
    val e = intercept[Exception] {
      Similarity.certifyRecallFloor(rec, floor = 1.1).collect()
    }
    assert(e.getMessage.contains("recall floor"), s"unexpected error: ${e.getMessage}")
  }

  test("lsh_keys kernel ≡ literal-plane hyperplaneBucket keys (float and double, short vecs)") {
    // 20 deterministic vectors with mixed signs; kernel must reproduce the
    // literal-array formulation bit-for-bit (same SplitMix64 planes, same
    // sequential dot order) or every ANN candidate set silently shifts
    val m = 5; val l = 3; val dim = 8
    val data = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(dim)(d => ((((i * 31 + d * 17) % 13) - 6).toFloat / 3f)))
    }
    for (asDouble <- Seq(false, true)) {
      val base = data.toDF("id", "v")
      val df = if (asDouble) base.withColumn("v", col("v").cast("array<double>")) else base
      val viaLiterals = df.select(col("id"), array((0 until l).map(t =>
          Similarity.hyperplaneBucket(col("v"), dim, m, planeOffset = t * m)
            .bitwiseOR(lit(t.toLong << m))): _*).as("k"))
        .as[(Long, Seq[Long])].collect().toMap
      val viaKernel = df.select(col("id"), graft.functions.lsh_keys(col("v"), dim, m, l).as("k"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(viaKernel == viaLiterals, s"asDouble=$asDouble diverged")
    }
    // vector shorter than dim: both sides consume min(|vec|, dim) elements
    val short = Seq((0L, Array(0.5f, -0.25f))).toDF("id", "v")
    val litShort = short.select(array((0 until l).map(t =>
        Similarity.hyperplaneBucket(col("v"), dim, m, planeOffset = t * m)
          .bitwiseOR(lit(t.toLong << m))): _*).as("k"))
      .as[Seq[Long]].collect()(0)
    val kerShort = short.select(graft.functions.lsh_keys(col("v"), dim, m, l).as("k"))
      .as[Seq[Long]].collect()(0)
    assert(kerShort == litShort)
  }

  test("ivfTopK: full probe degrades to exact brute force; partial probe meets a recall floor") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    // nProbe = numCentroids ⇒ every bucket probed ⇒ identical to exact
    val exact = Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    val full = Similarity.ivfTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 5, numCentroids = 8, nProbe = 8)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(full == exact, "full-probe IVF must equal brute force")
    // partial probe: quantitative recall floor on the bench corpus
    val recall = Similarity.ivfRecall(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        k = 5, numCentroids = 16, nProbe = 6)
      .agg(avg("recall")).as[Double].collect()(0)
    info(f"IVF mean recall (K=16, nProbe=6) = $recall%.4f")
    // Lloyd-trained codebook (default 2 rounds): measured 0.96 here —
    // the raw seeded codebook only cleared 0.3
    assert(recall >= 0.7, s"IVF recall collapsed: $recall")
  }

  test("pqTopK: corpus-covering candK degrades to exact brute force; ADC candK meets a recall floor") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    // candK >= corpus size ⇒ the exact re-rank scores EVERY vector ⇒
    // identical to brute force whatever the codes said
    val n = emb.count().toInt
    val exact = Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    val full = Similarity.pqTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        dim = 64, k = 5, numSubspaces = 4, numCentroids = 8, candK = n)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(full == exact, "corpus-covering candK must equal brute force")
    // real ADC candidate generation: quantitative recall floor
    val recall = Similarity.pqRecall(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        dim = 64, k = 5, numSubspaces = 4, numCentroids = 16, candK = 50)
      .agg(avg("recall")).as[Double].collect()(0)
    info(f"PQ mean recall (m=4, k=16, candK=50) = $recall%.4f")
    assert(recall >= 0.6, s"PQ recall collapsed: $recall")
  }

  test("ivfpqTopK: full probe + corpus candK degrades to brute force; IVFADC meets a recall floor") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 10)
    // every cell probed AND candK covering the corpus ⇒ the exact
    // re-rank scores everything ⇒ identical to brute force whatever
    // the coarse cells or residual codes said
    val n = emb.count().toInt
    val exact = Similarity.bruteForceTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    val full = Similarity.ivfpqTopK(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        dim = 64, k = 5, numCentroids = 8, nProbe = 8,
        numSubspaces = 4, pqCentroids = 8, candK = n)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(full == exact, "full-probe corpus-candK IVFADC must equal brute force")
    // real cell restriction + residual ADC: quantitative recall floor
    val recall = Similarity.ivfpqRecall(
        emb, "vec_id", "embedding", queries, "vec_id", "embedding",
        dim = 64, k = 5, numCentroids = 16, nProbe = 6,
        numSubspaces = 4, pqCentroids = 16, candK = 50)
      .agg(avg("recall")).as[Double].collect()(0)
    info(f"IVFADC mean recall (K=16, nProbe=6, m=4, k=16, candK=50) = $recall%.4f")
    assert(recall >= 0.6, s"IVFADC recall collapsed: $recall")
  }

  test("ivfResiduals/ivfpqTrain: residuals reconstruct, pooled codebooks deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .filter(col("vec_id") < 200)
    val coarse = Similarity.ivfCodebook(emb, "vec_id", "embedding",
      k = 8, iters = 1)
    val resid = Similarity.ivfResiduals(emb, "vec_id", "embedding", coarse)
    // one row per vector, and x = centroid + residual componentwise
    assert(resid.count() == emb.count())
    val recon = resid
      .join(coarse, Seq("centroid_id"))
      .join(emb.select(col("vec_id").as("__xid"),
        col("embedding").cast("array<double>").as("__x")),
        col("vec_id") === col("__xid"))
      .select(max(expr(
        "aggregate(zip_with(zip_with(__rv, __cent, (r, m) -> r + m), __x," +
          " (s, x) -> abs(s - x)), 0D, (a, v) -> greatest(a, v))")))
      .as[Double].collect()(0)
    // (x − m) + m round-trips to within 1 ulp, not exactly (the oracle
    // contract is that x − m ITSELF is one IEEE op, identical on both
    // engines — reconstruction here is just a sanity bound)
    assert(recon <= 1e-12, s"residual + centroid must reconstruct: $recon")
    // pooled residual codebooks: right shape, deterministic retrain
    val cb = Similarity.ivfpqTrain(emb, "vec_id", "embedding",
      dim = 64, numSubspaces = 4, numCentroids = 8, coarse = coarse, iters = 1)
    val bySub = cb.groupBy("subspace").count().as[(Int, Long)].collect().toMap
    assert(bySub.keySet == Set(0, 1, 2, 3), bySub.toString)
    val again = Similarity.ivfpqTrain(emb, "vec_id", "embedding",
      dim = 64, numSubspaces = 4, numCentroids = 8, coarse = coarse, iters = 1)
    assert(cb.exceptAll(again).count() == 0L && again.exceptAll(cb).count() == 0L,
      "residual PQ training must be deterministic")
  }

  test("pqTrain/pqEncode: per-subspace codebooks; a vector sitting ON a centroid encodes to it") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val cb = Similarity.pqTrain(emb, "vec_id", "embedding",
      dim = 64, numSubspaces = 4, numCentroids = 8, iters = 1)
    val bySub = cb.groupBy("subspace").count()
      .as[(Int, Long)].collect().toMap
    assert(bySub.keySet == Set(0, 1, 2, 3), bySub.toString)
    assert(bySub.values.forall(c => c >= 1 && c <= 8), bySub.toString)
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", 64, 4, cb)
    // every vector gets exactly one code per subspace, codes from the book
    assert(codes.count() == emb.count() * 4)
    val orphan = codes.join(cb,
      codes("subspace") === cb("subspace") && codes("code") === cb("centroid_id"),
      "left_anti").count()
    assert(orphan == 0L, "every code must reference a codebook entry")
    // determinism: re-train + re-encode is bit-identical
    val again = Similarity.pqEncode(emb, "vec_id", "embedding", 64, 4,
      Similarity.pqTrain(emb, "vec_id", "embedding", 64, 4, 8, iters = 1))
    assert(codes.exceptAll(again).count() == 0L &&
      again.exceptAll(codes).count() == 0L, "PQ must be deterministic")
  }

  test("pqTrain: one failed subspace fails the call, and no sibling job starts after it") {
    // element 0 is not a number, so only subspace 0's slice fails its
    // (ANSI) cast; subspaces 1-3 would otherwise keep training
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id"), expr(
        "transform(embedding, (x, i) -> if(i = 0, 'nan?', cast(x as string)))")
        .as("embedding"))
    val profiler = new graft.Profiler(spark)
    try {
      intercept[Exception](Similarity.pqTrain(emb, "vec_id", "embedding",
        dim = 64, numSubspaces = 4, numCentroids = 8, iters = 3))
      val failedAt = System.currentTimeMillis()
      Thread.sleep(1500)
      val late = profiler.take(failedAt + 1, System.currentTimeMillis()).jobs
      assert(late.isEmpty, s"${late.size} jobs started after the call failed")
    } finally profiler.close()
  }

  test("quantizedTopK: int8-code search recall vs exact meets a high floor") {
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val recall = Similarity.quantizedRecall(
        emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
      .agg(avg("recall")).as[Double].collect()(0)
    info(f"quantized-search mean recall = $recall%.4f")
    // int8 quantization is gentle: ranking should survive almost intact
    assert(recall >= 0.8, s"quantized recall collapsed: $recall")
    // identical vectors stay rank-1 under quantization
    val res = Similarity.quantizedTopK(
        vecs, "vec_id", "embedding",
        vecs.filter(col("vec_id") === 0L), "vec_id", "embedding", k = 1)
      .select("neighbor_id").as[Long].collect()
    assert(res.sameElements(Array(1L)), res.toSeq)
  }

  test("cosineNearDupPairs: string id column is rejected fast, not silently nulled") {
    val stringIds = Seq(("doc-a", Array(1f, 0f)), ("doc-b", Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Similarity.cosineNearDupPairs(stringIds, "vec_id", "embedding", 0.9)
    }
    assert(ex.getMessage.contains("integral id column"))
    assert(ex.getMessage.contains("xxhash64"), "error should point at the explicit-hash fix")
    // the documented workaround produces correct pairs
    val hashed = stringIds.withColumn("vec_id", xxhash64(col("vec_id")))
    val pairs = Similarity.cosineNearDupPairs(hashed, "vec_id", "embedding", 0.9)
    assert(pairs.count() == 1L)
  }

  test("cosineNearDupPairs: null ids and null vectors are excluded, not NPEs") {
    val withNulls = Seq(
      (java.lang.Long.valueOf(0L), Array(1f, 0f)),
      (java.lang.Long.valueOf(1L), Array(1f, 0f)),
      (java.lang.Long.valueOf(2L), null),
      (null.asInstanceOf[java.lang.Long], Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val pairs = Similarity.cosineNearDupPairs(withNulls, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs == Seq((0L, 1L)))
  }

  test("kmeansClusters: separated direction groups recover their clusters; iters=0 seeds self-assign") {
    // three well-separated directions, 4 noisy members each (axis + small
    // off-axis component, all positive cosine ≈ 0.97 within group, ≈ 0.2
    // across groups)
    def v(axis: Int, eps: Float): Array[Float] = {
      val a = Array(0f, 0f, 0f); a(axis) = 1f; a((axis + 1) % 3) += eps; a
    }
    val vecs = (0 until 12).map { i =>
      (i.toLong, v(i % 3, 0.05f + 0.05f * (i / 3)))
    }.toDF("vec_id", "embedding")
    val out = Similarity.kmeansClusters(vecs, "vec_id", "embedding", k = 3, iters = 2)
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(out.size == 12)
    // same-direction vectors land in the same cluster, different directions apart
    val byAxis = out.groupBy(_._1 % 3).values.map(_.map(_._2).toSet).toSeq
    assert(byAxis.forall(_.size == 1), s"split cluster: $out")
    assert(byAxis.flatten.toSet.size == 3, s"merged clusters: $out")
    // cosine to own centroid is high and within [-1, 1]
    assert(out.forall(r => r._3 > 0.9 && r._3 <= 1.0))

    // iters=0: codebook = the k smallest ids; those vectors self-assign at cos 1.0
    val seeded = Similarity.kmeansClusters(vecs, "vec_id", "embedding", k = 3, iters = 0)
      .as[(Long, Long, Double)].collect().toSeq
    (0L to 2L).foreach { id =>
      val r = seeded.find(_._1 == id).get
      assert(r._2 == id && r._3 == 1.0, s"seed $id: $r")
    }
  }

  test("semDedup: within-cluster dups prune toward low centroid-cos keeper; cross-cluster dups never compared") {
    // cluster A (x-axis): 0 is dead-on the centroid direction, 1/2 are
    // noisy near-dups of each other and of 0; cluster B (y-axis): 3/4
    // near-identical. 5 is a lone z-axis vector (own cell, no pair).
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.98f, 0.02f, 0f, 0f)),
      (2L, Array(0.97f, 0.03f, 0f, 0f)),
      (3L, Array(0f, 1f, 0.01f, 0f)),
      (4L, Array(0f, 0.99f, 0.02f, 0f)),
      (5L, Array(0f, 0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, "vec_id", "embedding",
      threshold = 0.99, k = 3, iters = 2)
      .select("vec_id", "cluster_id", "centroid_cos", "pruned")
      .as[(Long, Long, Double, Boolean)].collect().toSeq.sortBy(_._1)
    assert(out.map(_._1) == (0L to 5L), s"one row per vector: $out")
    val byId = out.map(r => r._1 -> r).toMap
    // x-group shares a cluster, y-group shares a cluster, z is elsewhere
    assert(Set(0L, 1L, 2L).map(byId(_)._2).size == 1)
    assert(Set(3L, 4L).map(byId(_)._2).size == 1)
    assert(byId(5L)._2 != byId(0L)._2 && byId(5L)._2 != byId(3L)._2)
    // of each dup group exactly the lowest-(centroid_cos, id) survives:
    // the kept member must be unpruned, every other group member whose
    // pair-cos clears 0.99 prunes toward it
    val xs = Seq(0L, 1L, 2L).map(byId(_))
    val keeperX = xs.minBy(r => (r._3, r._1))
    assert(!keeperX._4, s"keeper pruned: $keeperX")
    val ys = Seq(3L, 4L).map(byId(_))
    val keeperY = ys.minBy(r => (r._3, r._1))
    assert(!keeperY._4 && ys.exists(_._4), s"y group: $ys")
    // singleton never prunes
    assert(!byId(5L)._4)
    // x group: 1 and 2 are ≥0.99-close to each other and to 0, so the two
    // non-keepers are both pruned
    assert(xs.count(_._4) == 2, s"x group: $xs")
  }

  test("hardNegatives: near-positive band excluded, rank re-packs below the cut") {
    // query 0: identical 1 (cos 1.0) and close 2 (cos≈0.994) fall in the
    // dup band at 0.9; orthogonal 3 (0.0) ranks 1; opposite 4 (−1) ranks 2
    val out = Similarity.hardNegatives(
      vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
      k = 3, dupCut = 0.9)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSeq.sortBy(_._2)
    assert(out == Seq((3L, 1L), (4L, 2L)), out.toString)
    // dupCut above every similarity degrades to bruteForceTopK exactly
    val all = Similarity.hardNegatives(
      vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding",
      k = 4, dupCut = 1.1)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSet
    val bf = Similarity.bruteForceTopK(
      vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") === 0L), "vec_id", "embedding", k = 4)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSet
    assert(all == bf, s"$all vs $bf")
  }

  test("randomized: semDedup == naive driver-side Lloyd + in-cell prune on 10 seeded corpora") {
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dot(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def cos(a: Array[Double], b: Array[Double]) =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    (1 to 10).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 30 + rnd.nextInt(30)
      val dim = 6
      val k = 4
      val vecs = (0 until n).map(i => i.toLong -> Array.fill(dim)(rnd.nextDouble()))
      val byId = vecs.toMap
      // independent reimplementation of the exact-int64 Lloyd trainer:
      // seeded centroids = the k smallest ids; assignment = rounded-cos
      // argmax with cid tiebreak; means = floor(x·2^20) int64 sums
      def assign(cents: Seq[(Long, Array[Double])]): Map[Long, Long] =
        vecs.map { case (id, v) =>
          id -> cents.map { case (cid, cv) => (r6(cos(v, cv)), cid) }
            .sortBy { case (c, cid) => (-c, cid) }.head._2
        }.toMap
      def mean(asg: Map[Long, Long]): Seq[(Long, Array[Double])] =
        vecs.groupBy { case (id, _) => asg(id) }.toSeq.map { case (cid, vs) =>
          cid -> Array.tabulate(dim) { d =>
            vs.map { case (_, v) => math.floor(v(d) * 1048576.0).toLong }.sum /
              (vs.size * 1048576.0)
          }
        }
      val c2 = mean(assign(mean(assign(vecs.take(k)))))
      val af = assign(c2)
      val ccos = vecs.map { case (id, v) =>
        id -> r6(cos(v, c2.find(_._1 == af(id)).get._2))
      }.toMap
      val thr = 0.9
      val naive = vecs.map { case (a, va) =>
        val pruned = vecs.exists { case (b, vb) =>
          af(b) == af(a) && b != a && r6(cos(va, vb)) >= thr &&
            (ccos(b) < ccos(a) || (ccos(b) == ccos(a) && b < a))
        }
        (a, af(a), ccos(a), pruned)
      }.toSet
      val engine = Similarity.semDedup(
        vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
        threshold = thr, k = k, iters = 2)
        .as[(Long, Long, Double, Boolean)].collect().toSet
      assert(engine == naive, s"seed=$seed:\n engine ${engine.toSeq.sortBy(_._1)}\n naive  ${naive.toSeq.sortBy(_._1)}")
    }
  }

  test("semDedup: hot-cluster guard fails fast past maxClusterSize") {
    val many = (0 until 40).map(i => (i.toLong, Array(1f, i * 1e-4f)))
      .toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Similarity.semDedup(many, "vec_id", "embedding",
        threshold = 0.999, k = 1, iters = 0, maxClusterSize = 10L).count()
    }
    assert(e.getMessage.contains("maxClusterSize"), e.getMessage)
  }

  test("reduceDims: md5-sign JL projection components; null vector projects to null") {
    val df = Seq(
      (1L, Some(Array(1f, 2f, 3f))),
      (2L, None: Option[Array[Float]]))
      .toDF("vec_id", "embedding")
    val got = Similarity.reduceDims(df, "embedding", dim = 3, outDim = 4)
      .select("vec_id", "reduced")
      .as[(Long, Option[Array[Double]])].collect().toMap
    val v = Array(1.0, 2.0, 3.0)
    val expected = (0 until 4).map(j =>
      (0 until 3).map(i => Similarity.rpSign(j, i) * v(i)).sum / 2.0) // 1/sqrt(4)
    val r = got(1L).get
    assert(r.length == 4)
    r.zip(expected).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
    // the sign function is genuinely mixed (not all +1)
    val signs = for { j <- 0 until 4; i <- 0 until 3 } yield Similarity.rpSign(j, i)
    assert(signs.contains(1.0) && signs.contains(-1.0))
    assert(got(2L).isEmpty)
  }

  test("rpRecall: near-copy structure survives 16 -> 8 reduction at top-1") {
    // 40 deterministic pseudo-random 16-dim vectors + a +1% scaled copy
    // of each: the copy is its original's exact top-1 (cos ~ 1) and must
    // stay top-1 in the reduced space.
    val base = (0 until 40).map { n =>
      (n.toLong, Array.tabulate(16)(i =>
        (((n * 31 + i * 17) % 19) - 9).toFloat / 3f))
    }
    val copies = base.map { case (id, v) => (id + 1000L, v.map(_ * 1.01f)) }
    val corpus = (base ++ copies).toDF("vec_id", "embedding")
    val queries = base.toDF("vec_id", "embedding")
    val rec = Similarity.rpRecall(corpus, "vec_id", "embedding",
      queries, "vec_id", "embedding", dim = 16, outDim = 8, k = 1)
      .select("query_id", "recall").as[(Long, Double)].collect()
    assert(rec.length == 40)
    assert(rec.forall(_._2 == 1.0),
      s"top-1 lost under reduction: ${rec.filter(_._2 < 1.0).mkString(",")}")
  }

  test("embeddingDrift: fixed-point-exact per-dimension means; ragged dims go one-sided") {
    val base = Seq(
      (1L, Some(Array(1f, 2f))), (2L, Some(Array(3f, 4f))),
      (3L, Some(Array.empty[Float])), (4L, None))
      .toDF("id", "v")
    val cur = Seq((10L, Some(Array(0f, 0f, 5f)))).toDF("id", "v")
    val out = Similarity.embeddingDrift(base, cur, "v")
      .as[(Long, Option[Double], Option[Double], Option[Double])]
      .collect().toSeq
    assert(out == Seq(
      (1L, Some(2.0), Some(0.0), Some(-2.0)),
      (2L, Some(3.0), Some(0.0), Some(-3.0)),
      (3L, None, Some(5.0), None)), out.toString)
    // quantization floor: 0.1f sums as floor(0.1f·2^20) = 104857 —
    // deterministic regardless of aggregation order
    val tiny = Seq(Tuple1(Array(0.1f))).toDF("v")
    val q = Similarity.embeddingDrift(tiny, tiny, "v")
      .select("base_mean").as[Double].head()
    assert(q == 0.099999, q.toString)
  }

  test("rrfFuse: reciprocal-rank arithmetic, one-sided ids, deterministic tiebreak") {
    import spark.implicits._
    // a: ids 1,2,3 ranked 1,2,3; b: ids 3,4 ranked 1,2
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("id", "rnk")
    val b = Seq((3L, 1L), (4L, 2L)).toDF("id", "rnk")
    val got = Similarity.rrfFuse(a, b, "id", k0 = 60, k = 10)
      .as[(Long, Option[Long], Option[Long], Double, Long)]
      .collect().sortBy(_._5).toSeq
    def r(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
    // id 3 appears in both: 1/63 + 1/61 — must rank first
    assert(got.head._1 == 3L && got.head._4 == r(1.0 / 63 + 1.0 / 61))
    assert(got.head._2 == Some(3L) && got.head._3 == Some(1L))
    // one-sided ids keep a null rank on the absent side
    val id1 = got.find(_._1 == 1L).get
    assert(id1._3.isEmpty && id1._4 == r(1.0 / 61))
    // 1/61 (id 1) > 1/62 (ids 2 and 4, equal scores → id tiebreak)
    val order = got.map(_._1)
    assert(order == Seq(3L, 1L, 2L, 4L),
      s"fusion order wrong: $order")
    // equal scores tiebreak on id ascending: two ids with identical
    // single-side rank
    val ta = Seq((7L, 1L)).toDF("id", "rnk")
    val tb = Seq((5L, 1L)).toDF("id", "rnk")
    val tie = Similarity.rrfFuse(ta, tb, "id", k0 = 60, k = 10)
      .as[(Long, Option[Long], Option[Long], Double, Long)].collect().sortBy(_._5)
    assert(tie.map(_._1).toSeq == Seq(5L, 7L))
  }

  test("groupCentroidSim: aligned/opposite/orthogonal centroids score 1/-1/0; scale cancels") {
    // groups: a and a2 point along +x (a2 at 3x the magnitude — cosine
    // must ignore scale), o along -x, z along +y
    val df = Seq(
      ("a", Array(1.0, 0.0)), ("a", Array(1.0, 0.0)),
      ("a2", Array(3.0, 0.0)),
      ("o", Array(-1.0, 0.0)),
      ("z", Array(0.0, 1.0)))
      .toDF("g", "vec")
    val out = Similarity.groupCentroidSim(df, "g", "vec").collect()
      .map(r => (r.getAs[String]("group_a"), r.getAs[String]("group_b")) ->
        r.getAs[Double]("centroid_cosine")).toMap
    assert(out.size == 6, "C(4,2) unordered pairs")
    assert(out(("a", "a2")) == 1.0, out.toString)
    assert(out(("a", "o")) == -1.0 && out(("a2", "o")) == -1.0, out.toString)
    assert(out(("a", "z")) == 0.0 && out(("o", "z")) == 0.0, out.toString)
    // n_vecs rides along
    val na = Similarity.groupCentroidSim(df, "g", "vec").collect()
      .find(r => r.getAs[String]("group_a") == "a" &&
        r.getAs[String]("group_b") == "a2").get
    assert(na.getAs[Long]("n_vecs_a") == 2L && na.getAs[Long]("n_vecs_b") == 1L)
  }
}
