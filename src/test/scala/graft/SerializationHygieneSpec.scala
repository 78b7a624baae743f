package graft

import org.apache.spark.sql.functions._
import org.apache.spark.ml.classification.LogisticRegression

/** Pins round 9's session-poisoning bug class: Spark 4's
  * `Observation()` lazily initializes a NON-serializable
  * `ObservationManager` field on the session it observes. Any model
  * whose training summary pins that session (MLlib attaches the
  * predictions DataFrame to the fitted model) then explodes with
  * NotSerializableException the moment a scoring closure captures it.
  * These tests poison an ISOLATED child session on purpose and prove
  * the engine's scoring paths survive — the same way PlanShapeSpec
  * pins plan regressions.
  */
class SerializationHygieneSpec extends SparkSpec {
  import SerializationHygieneSpec.syntheticCorpus

  test("LR train+score survives a session whose ObservationManager is initialized") {
    // a dedicated child session so the shared test session stays clean
    val s = spark.newSession()
    // the poison: first Observation() on a session creates the
    // non-serializable manager field (round 9: a25 did this to the
    // shared session and killed every m-family entry that ran after it)
    val obs = org.apache.spark.sql.Observation()
    val n = s.range(10).toDF("x").observe(obs, count(lit(1)).as("n")).count()
    assert(n === 10L && obs.get("n") === 10L)
    // pre-fix this threw NotSerializableException inside train's AUC
    // scoring pass (the fitted model's summary pinned `s`); the
    // stripSummary defense makes scoring closures model-only
    val r = graft.ml.LinkPredict.train(s, syntheticCorpus(s),
      algo = "lr", lrMaxIter = 3)
    assert(!r.metrics("auc_val").isNaN)
    assert(r.scoredVal.count() > 0)
  }

  test("stripSummary removes the summary and leaves the model usable") {
    val s = spark.newSession()
    org.apache.spark.sql.Observation() // just constructing is harmless...
    val obs = org.apache.spark.sql.Observation()
    s.range(5).toDF("x").observe(obs, count(lit(1)).as("n")).count() // ...this poisons
    import s.implicits._
    val df = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("f1", "f2")).setOutputCol("features")
      .transform((1 to 100).map(i =>
          (if (i % 2 == 0) 1.0 else 0.0, i.toDouble, (i % 7).toDouble))
        .toDF("label", "f1", "f2"))
    val m = new LogisticRegression().setMaxIter(3).fit(df)
    assert(m.hasSummary, "MLlib should attach a training summary at fit time")
    val stripped = graft.ml.ModelRegistry.stripSummary(m)
    assert(!stripped.hasSummary, "stripSummary must clear the summary")
    // the stripped model java-serializes even on the poisoned session
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(stripped)
    assert(bos.size() > 0)
    // and still scores
    assert(stripped.transform(df).filter(col("prediction").isNotNull).count() === 100)
  }

  // --- part 2: the cache REGISTRY, by enumeration -------------------
  // Round 9's bug entered through one memoized TrainResult; the spec
  // above pins that exact shape. This sweep pins the CLASS: every value
  // any AppCache memo ever holds is audited, so a future cache can't
  // quietly reintroduce a session-pinning model.

  /** All MLlib transformers reachable at the top level of a cached
    * value (the value itself, its Product elements, pipeline stages). */
  private def reachableModels(v: Any): Seq[AnyRef] = {
    val tops: Seq[Any] = v match {
      case p: Product => p.productIterator.toSeq :+ p
      case other => Seq(other)
    }
    tops.collect { case m: org.apache.spark.ml.Transformer => m }
      .flatMap {
        case pm: org.apache.spark.ml.PipelineModel => pm.stages.toSeq
        case m => Seq(m: AnyRef)
      }
  }

  /** Mirror of stripSummary's match: does any Option-typed
    * trainingSummary slot still hold a value? */
  private def carriesSummary(o: AnyRef): Boolean = {
    var c: Class[_] = o.getClass
    while (c != null) {
      for (f <- c.getDeclaredFields
           if f.getName.contains("trainingSummary") &&
             classOf[Option[_]].isAssignableFrom(f.getType)) {
        f.setAccessible(true)
        val v = f.get(o)
        if (v != null && v != None) return true
      }
      c = c.getSuperclass
    }
    false
  }

  test("registry sweep: no memoized value carries a session-pinning model") {
    // populate the model-bearing memo caches through their real entries
    // (cheap at sf0.001; no-ops if an earlier suite already ran them)
    for (n <- Seq("m1b_gbt_deterministic", "m2b_multidate_deterministic",
        "m7b_mlp_deterministic", "t18_quality_nb"))
      SparkEntry.queries(n)(spark, sfDir).count()
    val vals = graft.core.AppCache.allCachedValues
    assert(vals.nonEmpty, "AppCache registry is empty — sweep is vacuous")
    val models = vals.flatMap(reachableModels)
    assert(models.nonEmpty,
      "no memoized models found — the sweep no longer covers the bug class")
    val dirty = models.filter(carriesSummary)
    assert(dirty.isEmpty,
      s"memoized models pin their fit session via trainingSummary: " +
        dirty.map(_.getClass.getSimpleName).mkString(", "))
    // and each memoized model java-serializes on its own — the closure
    // payload a .transform ships to executors
    models.foreach { m =>
      val bos = new java.io.ByteArrayOutputStream()
      new java.io.ObjectOutputStream(bos).writeObject(m)
      assert(bos.size() > 0)
    }
  }

  test("a25_observed_audit leaves the shared session transform-safe") {
    // run the real catalog entry (it must isolate its Observation on a
    // newSession clone), then prove a summary-carrying model fit on the
    // SHARED session still serializes — i.e. a25 didn't touch it
    val audit = graft.catalog.Analytics.queries("a25_observed_audit")(spark, sfDir)
    assert(audit.count() === 4)
    import spark.implicits._
    val df = new org.apache.spark.ml.feature.VectorAssembler()
      .setInputCols(Array("f1")).setOutputCol("features")
      .transform((1 to 50).map(i => (i % 2 * 1.0, i.toDouble)).toDF("label", "f1"))
    val m = new LogisticRegression().setMaxIter(2).fit(df)
    // NOT stripped — this serializes only while the shared session has
    // no ObservationManager, which is exactly the invariant under test
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(m)
    assert(bos.size() > 0)
  }

  private def memoized(v: AnyRef): Boolean =
    graft.core.AppCache.allCachedValues.exists(_.asInstanceOf[AnyRef] eq v)

  test("AppCache.trimToBudget evicts checkpoint memos; a re-get rebuilds cleanly") {
    import graft.core.AppCache
    var builds = 0
    def mk(n: Int) = { builds += 1
      spark.range(n).toDF("id").localCheckpoint(true) }
    def getA = AppCache.memo(spark, "test.trimA")(mk(5000))
    val a = getA
    val b = AppCache.memo(spark, "test.trimB")(mk(7000))
    val rddA = org.apache.spark.sql.GraftColumnBridge.checkpointRddId(a).get
    assert(spark.sparkContext.getPersistentRDDs.contains(rddA))
    assert(memoized(a) && memoized(b))
    // budget 0: every resident memo in the app must go (incl. other
    // suites' — by contract they rebuild on their next get)
    val (nEv, _) = AppCache.trimToBudget(spark, 0L)
    assert(nEv >= 2, s"expected both memos evicted, got $nEv")
    assert(!memoized(a) && !memoized(b), "evicted entries still memoized")
    assert(!spark.sparkContext.getPersistentRDDs.contains(rddA),
      "evicted memo's checkpoint RDD still persisted")
    // a re-request is a plain rebuild, exactly once — correctness unaffected
    val a2 = getA
    assert(getA eq a2)
    assert(builds === 3)
    assert(a2.count() === 5000L)
    // and a trim UNDER budget is a no-op: nothing evicted, no rebuild
    val (n2, _) = AppCache.trimToBudget(spark, Long.MaxValue)
    assert(n2 === 0)
    assert(memoized(a2))
    assert(getA eq a2)
    assert(builds === 3)
  }

  test("trimToBudget evicts COLUMNAR-cached memos via the CacheManager; the cache re-fills on next use") {
    val df = graft.core.AppCache.memo(spark, "test.trimCols") {
      val d = spark.range(20000).toDF("id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count(); d
    }
    val rddId = org.apache.spark.sql.GraftColumnBridge.cachedPlanRddId(df)
    assert(rddId.isDefined, "persisted memo not seen as a cached plan")
    assert(spark.sparkContext.getRDDStorageInfo.exists(i =>
      i.id == rddId.get && i.memSize > 0), "buffers not materialized")
    val (nEv, _) = graft.core.AppCache.trimToBudget(spark, 0L)
    assert(nEv >= 1)
    assert(!memoized(df), "evicted entry still memoized")
    // the CacheManager entry must be gone (a fresh plan no longer
    // resolves to an InMemoryRelation)…
    val stillCached = org.apache.spark.sql.GraftColumnBridge
      .cachedPlanRddId(spark.range(20000).toDF("id"))
    assert(stillCached.isEmpty,
      s"CacheManager still serves the evicted memo: $stillCached")
    // …and the blocks clear (the release is non-blocking — poll)
    val gone = (1 to 50).exists { _ =>
      val still = spark.sparkContext.getRDDStorageInfo.exists(i =>
        i.id == rddId.get && (i.memSize > 0 || i.diskSize > 0))
      if (still) Thread.sleep(100)
      !still
    }
    assert(gone, "evicted columnar memo still resident after 5 s")
    // the release went through Dataset.unpersist, NOT a raw RDD
    // unpersist — so a fresh scan of the same plan re-caches (the
    // raw path would pin the buffers RDD at StorageLevel.NONE and
    // the memo would silently never cache again)
    val df2 = spark.range(20000).toDF("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df2.count()
    val rdd2 = org.apache.spark.sql.GraftColumnBridge.cachedPlanRddId(df2)
    assert(rdd2.isDefined)
    assert(spark.sparkContext.getRDDStorageInfo.exists(i =>
      i.id == rdd2.get && (i.memSize > 0 || i.diskSize > 0)),
      "re-persist after eviction did not re-cache")
    df2.unpersist(blocking = false)
  }

  test("AppCache.memo: nested builds, one build per key under concurrency, a failed build stores nothing") {
    import graft.core.AppCache
    import java.util.concurrent.atomic.AtomicInteger
    // a build that requests other memos (Louvain -> KNN, fit -> training
    // set) completes, and all values are memoized; 200 nested keys make
    // some land in the outer key's bin or resize the table mid-build
    val outerBuilds = new AtomicInteger; val innerBuilds = new AtomicInteger
    def inner(i: Int) = AppCache.memo(spark, "test.nestInner", i) {
      innerBuilds.incrementAndGet(); s"inner$i" }
    def outer = AppCache.memo(spark, "test.nestOuter") {
      outerBuilds.incrementAndGet(); (0 until 200).map(inner).mkString(",") }
    val o = outer
    assert(outer eq o)
    assert((0 until 200).map(inner).mkString(",") === o)
    assert(outerBuilds.get === 1 && innerBuilds.get === 200)
    assert(memoized(o) && memoized(inner(0)))

    // two threads requesting one key: the build runs once, both see it
    val builds = new AtomicInteger
    val go = new java.util.concurrent.CountDownLatch(1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
    val threads = (1 to 2).map { _ =>
      val t = new Thread(() => {
        go.await()
        results.add(AppCache.memo(spark, "test.concurrent") {
          builds.incrementAndGet(); Thread.sleep(300); new Object })
      })
      t.start(); t
    }
    go.countDown()
    threads.foreach(_.join(60000))
    assert(results.size === 2)
    assert(builds.get === 1)
    val arr = results.toArray
    assert(arr(0) eq arr(1))

    // a build that throws leaves no entry; the next request builds
    val attempts = new AtomicInteger
    val before = AppCache.allCachedValues.size
    intercept[IllegalStateException] {
      AppCache.memo[String](spark, "test.throws") {
        attempts.incrementAndGet(); throw new IllegalStateException("build failed") }
    }
    assert(AppCache.allCachedValues.size === before)
    val v = AppCache.memo(spark, "test.throws") { attempts.incrementAndGet(); "rebuilt" }
    assert(v === "rebuilt" && attempts.get === 2)
    assert(AppCache.memo(spark, "test.throws")("unused") === "rebuilt")
    assert(attempts.get === 2)
  }
}

object SerializationHygieneSpec {
  /** 600 rows: 120 (customer, product) pairs, each five times with
    * different features; one positive in three. */
  def syntheticCorpus(s: org.apache.spark.sql.SparkSession) = {
    import s.implicits._
    (1 to 600).map { i =>
      val label = if (i % 3 == 0) 1.0 else 0.0
      (i.toLong % 40, (i * 7).toLong % 60, label,
        (i % 11).toDouble, (i % 17).toDouble, (i % 5).toDouble * 100.0,
        (i % 13).toDouble, (i % 7).toDouble * 10.0, (i % 3).toDouble * 0.1,
        (i % 19).toDouble / 19.0)
    }.toDF("customer", "product", "label",
      "cust_frequency", "cust_recency", "acctbal",
      "part_popularity", "price", "discount", "bal_x_price")
  }
}
