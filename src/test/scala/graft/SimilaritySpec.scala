package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sim.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("dot/cosine match hand-computed values") {
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    val r = df.select(
      Similarity.dot($"a", $"b").as("d"),
      Similarity.cosine($"a", $"a").as("self")).head()
    assert(math.abs(r.getDouble(0) - 32.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
  }

  test("bruteForceTopK returns k ranked neighbors, no self matches") {
    val e = graft.core.Tables.embeddings(spark, sfDir).limit(100)
    val topk = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 5).cache()
    assert(topk.filter($"src" === $"dst").count() === 0)
    val perSrc = topk.groupBy("src").count().select(min("count"), max("count")).head()
    assert(perSrc.getLong(0) === 5 && perSrc.getLong(1) === 5)
    // rank 1 has the max cosine per src
    val bad = topk.withColumn("mx", max("cos").over(
      org.apache.spark.sql.expressions.Window.partitionBy("src")))
      .filter($"rn" === 1 && $"cos" < $"mx").count()
    assert(bad === 0)
  }

  test("symmetric bruteForceTopK is identical to the asymmetric result") {
    val e = graft.core.Tables.embeddings(spark, sfDir).limit(120)
    val asym = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 5)
      .collect().map(_.toSeq).toSet
    val sym = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 5, symmetric = true)
      .collect().map(_.toSeq).toSet
    assert(sym === asym)
  }

  test("LSH buckets preserve cosine ranking within buckets (recall sanity)") {
    val e = graft.core.Tables.embeddings(spark, sfDir)
    val lsh = Similarity.lshTopK(e, "vec_id", "embedding", 64, 8, 5)
    val brute = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 5)
    // every LSH pair must also score identically in the brute set when present
    val joined = lsh.as("l").join(brute.as("b"),
      $"l.src" === $"b.src" && $"l.dst" === $"b.dst")
      .filter(abs($"l.cos" - $"b.cos") > 1e-9).count()
    assert(joined === 0)
    assert(lsh.count() > 0)
  }

  test("IVF ANN pairs score identically to brute force; full probe = exact") {
    val e = graft.core.Tables.embeddings(spark, sfDir).limit(300)
    val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", 5, nLists = 8, nProbe = 2)
    val brute = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 5, symmetric = true)
    // any pair IVF surfaces must carry the same cosine as the exact path
    val mismatched = ivf.as("i").join(brute.as("b"),
      $"i.src" === $"b.src" && $"i.dst" === $"b.dst")
      .filter(abs($"i.cos" - $"b.cos") > 1e-9).count()
    assert(mismatched === 0)
    assert(ivf.count() > 0)
    // probing every list degenerates to exact search
    val full = Similarity.ivfTopK(e, "vec_id", "embedding", 5, nLists = 4, nProbe = 4)
    val bruteSet = brute.collect().map(r => (r.get(0), r.get(2))).toSet
    val fullSet = full.collect().map(r => (r.get(0), r.get(2))).toSet
    assert(fullSet === bruteSet)
  }

  test("hash-centroid IVF pairs score identically to brute force; nProbe=nLists = exact") {
    val e = graft.core.Tables.embeddings(spark, sfDir).limit(300)
    val ivf = Similarity.ivfHashTopK(e, "vec_id", "embedding", 5, nLists = 8, nProbe = 2)
    val brute = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 5, symmetric = true)
    val mismatched = ivf.as("i").join(brute.as("b"),
      $"i.src" === $"b.src" && $"i.dst" === $"b.dst")
      .filter(abs($"i.cos" - $"b.cos") > 1e-9).count()
    assert(mismatched === 0)
    assert(ivf.count() > 0)
    // probing every list degenerates to exact search
    val full = Similarity.ivfHashTopK(e, "vec_id", "embedding", 5, nLists = 4, nProbe = 4)
    val bruteSet = brute.collect().map(r => (r.get(0), r.get(2))).toSet
    val fullSet = full.collect().map(r => (r.get(0), r.get(2))).toSet
    assert(fullSet === bruteSet)
  }

  test("blocked kernel output is identical to the window formulation") {
    val e = graft.core.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val nextId = e.agg(max("vec_id")).head().getLong(0) + 1
    val dim = e.head().getSeq[Float](1).length
    def withVector(v: Float) =
      e.unionByName(Seq((nextId, Array.fill(dim)(v))).toDF("vec_id", "embedding"))
    val inputs = Seq(
      "bigint ids" -> e,
      // lexical order disagrees with numeric order: v10 < v9
      "string ids" -> e.select(concat(lit("v"), $"vec_id").as("vec_id"), $"embedding"),
      // one vector under two ids: exact cosine ties resolve on dst
      "duplicated vector" -> e.unionByName(e.orderBy("vec_id").limit(1)
        .select(lit(nextId).as("vec_id"), $"embedding")),
      // NaN cosines, which Spark's descending sort ranks above every value
      "NaN vector" -> withVector(Float.NaN))
    def rows(df: DataFrame) = df.collect().map(r => (r.get(0), r.getInt(1), r.get(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    def kernel(in: DataFrame) =
      rows(Similarity.bruteForceTopKBlocked(in, in, "vec_id", "embedding", 5))
    inputs.foreach { case (name, in) =>
      val window = rows(Similarity.bruteForceTopK(in, in, "vec_id", "embedding", 5,
        symmetric = true))
      // exact: same dots, ranks, ties, rounding
      assert(kernel(in) === window, s"$name: kernel differs from the window formulation")
    }
    // a zero vector's cosines are 0/0 = NaN, the NaN vector's exactly;
    // the window form is no reference there, as ANSI division by a zero
    // norm raises DIVIDE_BY_ZERO
    assert(kernel(withVector(0.0f)) === kernel(withVector(Float.NaN)))
  }

  test("int8 quantization: range bounded, max magnitude hits ±127, scale positive") {
    val e = graft.core.Tables.embeddings(spark, sfDir).limit(100)
    val q = Similarity.quantizeInt8(e, "vec_id", "embedding").collect()
    assert(q.length === 100)
    q.foreach { r =>
      val (scale, qMin, qMax) = (r.getDouble(1), r.getInt(3), r.getInt(4))
      assert(scale > 0)
      assert(qMin >= -127 && qMax <= 127)
      // the element defining the scale quantizes to ±127 exactly
      assert(math.max(math.abs(qMin), math.abs(qMax)) === 127)
    }
  }

  test("PQ codes: in codebook range, deterministic, codewords self-assign") {
    import graft.functions.ColFns
    import org.apache.spark.sql.expressions.Window
    val e = graft.core.Tables.embeddings(spark, sfDir)
    val codes = Similarity.pqCodes(e, "vec_id", "embedding", dim = 64).cache()
    assert(codes.count() === e.count())
    val codeCols = (0 until 8).map(s => col(s"c$s"))
    val outOfRange = codes.filter(
      codeCols.map(c => c < 1 || c > 16).reduce(_ || _)).count()
    assert(outOfRange === 0)
    // a codeword row's nearest codeword per subspace is itself (d = 0)
    val centW = Window.orderBy(ColFns.pseudoUniform($"cid", 17L).asc, $"cid".asc)
    val chosen = e.select($"vec_id".as("cid"))
      .withColumn("code", org.apache.spark.sql.functions.row_number().over(centW))
      .filter($"code" <= 16)
    val selfMiss = codes.join(chosen, codes("id") === chosen("cid"))
      .filter(codeCols.map(c => c =!= $"code").reduce(_ || _)).count()
    assert(selfMiss === 0)
  }

  test("similarityStats aggregates per source") {
    val e = graft.core.Tables.embeddings(spark, sfDir).limit(50)
    val stats = Similarity.similarityStats(
      Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 3))
    val r = stats.filter($"n_sim" =!= 3).count()
    assert(r === 0)
    val bad = stats.filter($"min_sim" > $"avg_sim" || $"avg_sim" > $"max_sim").count()
    assert(bad === 0)
  }

  test("lshBucket: bucket loads stay near-uniform on synthetic uniform vectors") {
    // the r12 closed-form plane family (cyclic shifts of one 97-periodic
    // sequence) collapsed sign patterns onto a few bit-periodic bucket
    // ids — at sf10: top bucket 12531 of 200k, 836M within-bucket pairs,
    // sim_lsh_topk 437 s. Gaussian rows restore the SRP guarantee; pin
    // it so a "cheaper" structured family can't regress the buckets.
    // 4096 hash-derived vectors, p = scaleNPlanes(4096) = 7 → 128
    // buckets, mean load 32; independent planes keep the max load within
    // a small factor of the mean and leave no bucket-id structure.
    val n = 4096
    val dim = 16
    // iid Gaussian test vectors from a fixed seed — an affine lattice
    // ((v*a + i*b) mod p) is itself sign-correlated across components
    // and would fail ANY plane family, Gaussian included (tried)
    val rnd = new java.util.Random(7L)
    val vecs = (0 until n).map(v =>
      (v.toLong, Array.fill(dim)(rnd.nextGaussian()))).toDF("id", "v")
    val p = Similarity.scaleNPlanes(n)
    val loads = vecs.select(Similarity.lshBucket($"v", dim, p).as("b"))
      .groupBy("b").count().select("count").as[Long].collect()
    val mean = n.toDouble / (1 << p)
    assert(loads.max <= 6 * mean,
      s"max bucket load ${loads.max} vs mean $mean — plane family collapsing")
    assert(loads.length >= (1 << p) / 2,
      s"only ${loads.length} of ${1 << p} buckets populated")
  }

  test("trained IVF index recall beats or matches the hash-pick baseline") {
    // ground truth: exact brute-force top-5 for the serve-path probe
    // subset (vec_id % 7 == 0), rounded ranking like sim_recall_eval
    val brute = graft.sim.KnnCache.topk(spark, sfDir, k = 5, rankRounded = true)
      .filter($"src" % 7 === 0).select("src", "dst")
    val nTrue = brute.count()
    def recall(name: String): Double = {
      val ann = SparkEntry.queries(name)(spark, sfDir).select("src", "dst")
      brute.join(ann, Seq("src", "dst"), "left_semi").count().toDouble / nTrue
    }
    val trained = recall("sim_ivf_trained")
    val hashPick = recall("sim_ivf_persisted")
    assert(trained >= hashPick - 1e-12,
      s"trained IVF recall $trained fell below hash-pick baseline $hashPick")
    assert(trained > 0.5, s"trained IVF recall degenerate: $trained")
  }

  test("IVF compaction: serve-after ≡ delete-aware serve, v2 tombstone-free") {
    // the compaction entry gates itself on before≡after and returns the
    // post-compaction serve; the delete-aware entry serves v1 + anti-join.
    // Same centroid pick, same tombstone rule → identical row sets.
    val comp = SparkEntry.queries("sim_ivf_compaction")(spark, sfDir)
    val del = SparkEntry.queries("sim_ivf_deletes")(spark, sfDir)
    assert(comp.count() > 0, "compaction self-gate emptied the output")
    assert(comp.exceptAll(del).count() === 0 && del.exceptAll(comp).count() === 0,
      "post-compaction serve diverged from the delete-aware serve")
    // the rewritten artifact itself must hold zero tombstoned rows
    val v2 = spark.read.parquet(
      s"/tmp/graft_artifacts/${new java.io.File(sfDir).getName}/ivf_c_lists_v2")
    assert(v2.filter($"vec_id" % 13 === 0).count() === 0,
      "tombstoned ids survived compaction")
    // and no live row was lost: v2 ≡ v1 minus the tombstone rule
    // (v1 is the SHARED standing index, consumed read-only)
    val v1 = spark.read.parquet(
      s"/tmp/graft_artifacts/${new java.io.File(sfDir).getName}/ivf0_lists")
    assert(v2.count() === v1.filter($"vec_id" % 13 =!= 0).count(),
      "compaction changed the live row count")
  }

  test("scaleNLists: sqrt sizing with floor 16, Spark and SQL mirror agree") {
    // the rule the catalog's IVF entries size their coarse quantizer
    // with — per-query candidates ~nProbe·√n instead of nProbe·n/16
    assert(Similarity.scaleNLists(16) === 16)      // floor
    assert(Similarity.scaleNLists(255) === 16)     // √255 ≈ 15.97 → floor
    assert(Similarity.scaleNLists(257) === 17)     // first step past it
    assert(Similarity.scaleNLists(500) === 23)     // the sf0.01 corpus
    assert(Similarity.scaleNLists(200000) === 448) // the sf10 corpus
    // the SQL mirror computes the identical value over the same rows
    // (Spark SQL here; the DuckDB form is the same greatest/ceil/sqrt)
    for (n <- Seq(16L, 255L, 257L, 500L, 4096L)) {
      val viaSql = spark.range(n).createOrReplaceTempView("sc_n")
      val got = spark.sql(
        "SELECT " + Similarity.scaleNListsSql("sc_n")).head().getInt(0)
      assert(got === Similarity.scaleNLists(n), s"mirror drift at n=$n")
    }
  }

  test("scaleNPlanes: ~32-per-bucket sizing, exact at powers of two") {
    assert(Similarity.scaleNPlanes(500) === 4)     // 2^4·32 = 512 ≥ 500
    assert(Similarity.scaleNPlanes(512) === 4)     // exact boundary stays
    assert(Similarity.scaleNPlanes(513) === 5)     // first step past it
    assert(Similarity.scaleNPlanes(2000) === 6)    // the sf0.1 corpus
    assert(Similarity.scaleNPlanes(20000) === 10)  // sf1
    assert(Similarity.scaleNPlanes(200000) === 13) // sf10
    assert(Similarity.scaleNPlanes(32768) === 10)  // power of two: 2^10·32
    // Spark SQL's ceil(log2(...)) mirror agrees across the boundary and
    // at exact powers of two (the ULP hazard the integer loop avoids)
    for (n <- Seq(500L, 512L, 513L, 2000L, 32768L)) {
      spark.range(n).createOrReplaceTempView("sp_n")
      val got = spark.sql(
        "SELECT " + Similarity.scaleNPlanesSql("sp_n")).head().getInt(0)
      assert(got === Similarity.scaleNPlanes(n), s"mirror drift at n=$n")
    }
  }

  test("d13 IVF near-dup pairs: exact-subset with usable recall") {
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.select("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(graft.sim.KnnCache.neardupPairs(spark, sfDir, minCos = 0.4))
    val approx = pairSet(Similarity.ivfNearDupPairs(
      graft.core.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      minCos = 0.4, nLists = 16, nProbe = 2))
    // cosines are computed exactly on the surviving candidates, so the
    // bucketed result can only MISS pairs, never invent them
    assert(approx.subsetOf(exact),
      s"false positives: ${(approx -- exact).take(3)}")
    if (exact.nonEmpty)
      assert(approx.size.toDouble / exact.size >= 0.5,
        s"recall ${approx.size}/${exact.size} below 0.5")
  }
}
