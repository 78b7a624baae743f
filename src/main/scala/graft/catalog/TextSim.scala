package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.sim.Similarity
import graft.text.{Dedup, TextAnalysis}

/** Operator catalog, part 3: the LLM-training-data pipeline operators —
  * dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
  * near-dup), similarity search (brute-force + LSH ANN), text analysis
  * (language-ID, quality, tokens, fingerprint) over the `documents` and
  * `embeddings` tables.
  */
object TextSim extends CatalogModule {

  private val DIM = 64

  // ---- dedup ----

  private def d1ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", "text").orderBy("content_hash")

  // composed from the session's ONE band-signature table (shared with
  // d7/r9) instead of Dedup.minhashLsh's private build — same banding
  // scheme, one corpus signature pass for the whole d-family
  private def d2MinhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val bands = bandRows(bandSignatures(spark, dir))
    val a = bands.select(col("band"), col("sig"), col("doc_id").as("doc_a"))
    val b = bands.select(col("band"), col("sig"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "sig")).filter(col("doc_a") < col("doc_b")).distinct()
      .orderBy("band", "sig", "doc_a", "doc_b")
  }

  private def d3Simhash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), Dedup.simhash(col("text")).as("simhash"))
      .orderBy("doc_id")

  private def d4NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccard(Tables.documents(spark, dir), "doc_id", "text",
        bucket = col("n_chars"), n = 5, minJaccard = 0.1)
      .orderBy("doc_a", "doc_b")

  // blocked kernel (no n² pair shuffle) — bit-compatible with the
  // crossJoin formulation, which remains the shape the oracle mirrors
  private def d5EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame =
    graft.sim.KnnCache.neardupPairs(spark, dir, minCos = 0.4)
      .orderBy("src", "dst")

  // D6: dedup-cluster resolution — the "keep one copy" step a training
  // pipeline runs AFTER pair detection: connected components over the
  // near-dup pairs (d5's threshold join), canonical doc = the cluster's
  // minimum id, singletons keep themselves. At 100 TB the pair graph is
  // orders of magnitude smaller than the corpus (it only contains docs
  // with a near-dup), so the CC runs on the reduced edge set; the
  // corpus-sized step is one broadcast-able left join back.
  // the near-dup cluster map (doc → canonical component label) is
  // shared by D6 (keep-one) and D11 (keep-best) — one CC pass per
  // (app, dir), checkpoint-backed like every memo cache
  private val clusterCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def dedupClusterMap(spark: SparkSession, dir: String): DataFrame =
    graft.core.AppCache.get(clusterCache,
      (spark.sparkContext.applicationId, dir)) {
      val emb = Tables.embeddings(spark, dir)
      val pairs = graft.sim.KnnCache.neardupPairs(spark, dir, minCos = 0.4)
      // checkpoint-backed inputs (pairs memo) + a pure projection of the
      // embeddings scan: app-lifetime identity, so downstream
      // vertexMap/edgeArrays memos may key on the token
      val g = graft.graph.PropertyGraph(
        emb.select(col("vec_id").cast("string").as("id")),
        pairs.select(col("src").cast("string").as("src"),
          col("dst").cast("string").as("dst")),
        cacheToken = Some(s"neardup-cc:$dir"))
      val cc = graft.graph.GraphXAnalytics.connectedComponents(spark, g)
        .withColumnRenamed("id", "vid_s")
      emb.select(col("vec_id"))
        .join(cc, col("vec_id").cast("string") === col("vid_s"), "left")
        .select(col("vec_id"),
          coalesce(col("component"), col("vec_id").cast("string")).as("canonical"))
        .localCheckpoint(true)
    }

  private def d6DedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClusterMap(spark, dir)
      .withColumn("kept",
        (col("vec_id").cast("string") === col("canonical")).cast("int"))
      .orderBy("vec_id")

  // R10: leak-free split — the constructive fix for what r9 reports:
  // train/eval assignment is hashed from the near-dup CLUSTER canonical
  // (d6's component id), not the document id, so a document and its
  // near-duplicates land on the same side by construction — eval can
  // never be inflated by a train-side twin. One broadcast-sized column
  // over the cluster map; the 90/10 rate matches r9's split.
  private def r10ClusterSplit(spark: SparkSession, dir: String): DataFrame =
    dedupClusterMap(spark, dir)
      .withColumn("is_eval",
        (graft.functions.ColFns.pseudoUniform(
          col("canonical").cast("long"), 83L) >= 0.9).cast("int"))
      .select("vec_id", "canonical", "is_eval")
      .orderBy("vec_id")

  // D11: QUALITY-AWARE dedup — the production refinement of D6's
  // arbitrary keep-one: within each near-dup cluster keep the member
  // with the most word tokens (the "keep the longest duplicate" rule;
  // any scalar quality signal slots into the same argmax), ties to the
  // lower id. Same cluster map, one extra broadcast-sized quality join
  // and a per-cluster window — no new corpus pass.
  private def d11QualityDedup(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.documents(spark, dir).select(col("doc_id").as("vec_id"),
      regexp_count(col("text"), lit("[A-Za-z0-9]+")).cast("long").as("quality"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("canonical").orderBy(col("quality").desc, col("vec_id").asc)
    dedupClusterMap(spark, dir).join(q, "vec_id")
      .withColumn("kept_best", (row_number().over(w) === 1).cast("int"))
      .select("vec_id", "canonical", "quality", "kept_best")
      .orderBy("vec_id")
  }

  // D7: incremental near-dup dedup — the production shape at 100 TB: a
  // new injection (doc_id % 3 == 0) is checked against the EXISTING
  // corpus's signature store (band signatures; doc_id % 3 != 0), so the
  // store is never re-paired with itself — candidate generation is a
  // join of the incoming bands against the stored bands, and only
  // candidate pairs pay the exact-Jaccard verification.
  // one signature table serves banding AND verification for D7's
  // incremental check and R9's split-leakage report — materialized once
  // per (app, dir): it feeds three joins per consumer
  private val signedCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def bandSignatures(spark: SparkSession, dir: String): DataFrame =
    graft.core.AppCache.get(signedCache,
      (spark.sparkContext.applicationId, dir)) {
      // conditional spread before the expensive shingle/md5/minhash
      // map: no-op when the scan already has enough splits (100 TB),
      // a doc_id exchange when the corpus is one file (see spreadForMap)
      Tables.spreadForMap(Tables.documents(spark, dir), col("doc_id"))
        .select(col("doc_id"), Dedup.shingleArray(col("text"), 5).as("sh"))
        .withColumn("hs", graft.plans.expressions.array_md5(col("sh")))
        .withColumn("mins", graft.plans.expressions.minhash_slices(col("hs"), 4))
        .select(
          // sh sorted ONCE here so every downstream exact-Jaccard check
          // is a merge scan (sorted_intersect_count) instead of a
          // per-pair hash set; the minhash mins are order-independent
          col("doc_id"), sort_array(col("sh")).as("sh"),
          concat_ws("_", element_at(col("mins"), 1),
            element_at(col("mins"), 2)).as("band_0"),
          concat_ws("_", element_at(col("mins"), 3),
            element_at(col("mins"), 4)).as("band_1"))
        .localCheckpoint(true)
    }
  private def bandRows(signed: DataFrame): DataFrame =
    Seq(0, 1).map(b =>
        signed.select(col("doc_id"), lit(b).as("band"), col(s"band_$b").as("sig")))
      .reduce(_ unionAll _)

  private def d7IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val signed = bandSignatures(spark, dir)
    val bands = bandRows(signed)
    val store = bands.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .select(col("band"), col("sig"), col("doc_id").as("store_doc"))
    val incoming = bands.filter(pmod(col("doc_id"), lit(3)) === 0)
    val cand = incoming.join(store, Seq("band", "sig"))
      .select("doc_id", "store_doc").distinct()
    val pairs = cand
      .join(signed.select(col("doc_id"), col("sh").as("sh_a")), "doc_id")
      .join(signed.select(col("doc_id").as("store_doc"), col("sh").as("sh_b")),
        "store_doc")
      .withColumn("n_inter",
        graft.plans.expressions.sorted_intersect_count(col("sh_a"), col("sh_b")))
      // integer counts + ONE division = bit-exact across engines
      .withColumn("j", col("n_inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
    val per = pairs.groupBy("doc_id").agg(
      count(lit(1)).as("n_candidates"),
      sum(when(col("j") >= 0.1, 1L).otherwise(0L)).as("n_dups"),
      min(when(col("j") >= 0.1, col("store_doc"))).as("dup_of"))
    docs.filter(pmod(col("doc_id"), lit(3)) === 0).select("doc_id")
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
      .orderBy("doc_id")
  }

  // E11: ingest-time dedup — d7's store-join semantics driven through
  // Structured Streaming, the "dedup at the door" production shape: the
  // standing signature store is PERSISTED parquet (the artifact a
  // nightly ingest job mounts), arrivals land as two file drops drained
  // by ONE AvailableNow pass, and each micro-batch joins its
  // batch-sized arrival signatures against the store — never the corpus
  // text, never other batches. Per-doc verdicts depend only on
  // (doc, store), so the appended union over ANY batching equals the
  // relational computation the oracle replays — which is why the drops
  // share a trigger: a micro-batch per drop (maxFilesPerTrigger=1)
  // demonstrated the same invariant at twice the fixed micro-batch
  // setup cost (r7 finding 3).
  /** Stream-session shuffle width. Streaming disables AQE, so the
    * per-batch exchanges run at a STATIC width that must be sized to
    * the batch, not to the interactive session: 8 tasks carried sf0.1's
    * batch joins in ~3 s but serialized sf1's candidate verification
    * (measured 128 s, 4× the work per task at 10× the corpus — the r13
    * e11 "AvailableNow floor" was mostly this pin plus the compareTo
    * env-probe, not stream machinery). One task per ~1k corpus docs,
    * clamped to [8, cores]: per-task batch work stays ~constant until
    * the core cap, and on a cluster the same rule sizes the ingest
    * job's shuffle width to its drop volume. */
  private def streamWidth(spark: SparkSession, nDocs: Long): Int = {
    val cores = spark.sparkContext.defaultParallelism
    math.max(8, math.min(cores, (nDocs / 1000L).toInt))
  }

  private def e11StreamIngestDedup(spark: SparkSession, dir: String): DataFrame = {
    val tag = graft.core.Artifacts.dirTag(dir)
    val base = s"/tmp/graft_stream/e11_${spark.sparkContext.applicationId}_$tag"
    graft.core.Artifacts.reapStale("/tmp/graft_stream", "e11_", base)
    val basePath = java.nio.file.Paths.get(base)
    if (java.nio.file.Files.exists(basePath)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(basePath)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
    def lap[T](tag: String)(f: => T): T =
      graft.core.Debug.lap("GRAFT_E11_DEBUG", tag)(f)
    val signed = lap("signatures")(bandSignatures(spark, dir))
    val isArrival = pmod(col("doc_id"), lit(3)) === 0
    // ONE persisted signature artifact — band signatures + shingle sets
    // for every doc; each micro-batch derives its store/arrival views
    // from it (band-row explosion is a free map over the scan)
    // few fat files: the store is re-scanned by every micro-batch and
    // the drops are file-sized anyway — 32 shards of a 16-byte-row
    // frame is pure open/footer overhead
    lap("signed-write")(signed.coalesce(4).write.parquet(s"$base/signed"))
    val arr = Tables.documents(spark, dir).filter(isArrival).select("doc_id")
    // ONE job writes both drops: partitionBy splits rows into src/drop=K
    // by VALUE regardless of task placement (the hash repartition merely
    // bounds the job to 2 tasks; murmur3 of the two parities may land
    // both in one task — layout and stream semantics don't depend on it);
    // the recursive stream glob reads the result identically to two
    // separate writes
    lap("drops-write") {
      arr.withColumn("drop", pmod(col("doc_id"), lit(2)))
        .repartition(2, col("drop"))
        .write.partitionBy("drop").parquet(s"$base/src")
    }
    // cloned session for isolation, shuffle partitions pinned to the
    // corpus-adaptive width (see streamWidth): low enough that sf0.1's
    // batch-sized joins don't pay 32 near-empty tasks per exchange
    // (the r7 verdict finding), high enough that sf1+'s candidate
    // verification isn't serialized onto 8 threads (the r14 finding).
    val nDocs = Tables.documents(spark, dir).count()
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", streamWidth(spark, nDocs).toString)
    // mount the persisted store ONCE per ingest session: the artifact's
    // bits are materialized into an object-backed localCheckpoint, so
    // every micro-batch's five store-side plan fragments (bands ×2,
    // shingles ×2, arrival shingles) scan in-memory rows instead of
    // re-decoding the shingle-array parquet (or the columnar cache —
    // measured 3× slower per scan for nested string arrays) on every
    // batch. The batches still compute ONLY against the persisted
    // artifact's bits — this is exactly the "nightly job mounts the
    // store" step of the design.
    val sgOnce = ss.read.parquet(s"$base/signed").localCheckpoint(true)
    val sgBandsOnce = bandRows(sgOnce)
    val stOnce = sgBandsOnce.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .select(col("band"), col("sig"), col("doc_id").as("store_doc"))
    val shBOnce = sgOnce.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .select(col("doc_id").as("store_doc"), col("sh").as("sh_b"))
    val shAOnce = sgOnce.select(col("doc_id"), col("sh").as("sh_a"))
    val out = s"$base/out"
    val q = ss.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))))
      .option("recursiveFileLookup", "true")
      .parquet(s"$base/src")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: DataFrame, bid: Long) =>
        val tB = System.nanoTime()
        // join-side hints are MANDATORY here, not advisory: streaming
        // disables AQE, so the static planner sees only file-size
        // estimates, while the relational twin d7 gets runtime stats.
        // The rule AQE applies there by measurement is encoded here by
        // construction: broadcast every THIN side (the batch's doc ids,
        // the 16-byte-row band store, the candidate pair list) and
        // never a shingle-array fragment — a forced broadcast of the
        // ~40 MB array side costs more in driver collect + hash-relation
        // build than the join it saves. The one remaining array-side
        // join (sh_b) uses shuffle-hash: sorting fat arrays for SMJ is
        // pure waste at 8 partitions.
        val myBands = sgBandsOnce.join(broadcast(b), "doc_id")
        val cand = myBands.join(broadcast(stOnce), Seq("band", "sig"))
          .select("doc_id", "store_doc").distinct()
        val pairs = broadcast(cand).join(shAOnce, "doc_id")
          .join(shBOnce.hint("shuffle_hash"), "store_doc")
          .withColumn("n_inter",
        graft.plans.expressions.sorted_intersect_count(col("sh_a"), col("sh_b")))
          .withColumn("j", col("n_inter").cast("double") /
            (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
        val per = pairs.groupBy("doc_id").agg(
          count(lit(1)).as("n_candidates"),
          sum(when(col("j") >= 0.1, 1L).otherwise(0L)).as("n_dups"),
          min(when(col("j") >= 0.1, col("store_doc"))).as("dup_of"))
        val result = b.join(per, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
            coalesce(col("n_dups"), lit(0L)).as("n_dups"),
            coalesce(col("dup_of"), lit(-1L)).as("dup_of"))
          .withColumn("kept", (col("n_dups") === 0).cast("int"))
        result.coalesce(1).write.mode("append").parquet(out)
        if (sys.env.contains("GRAFT_E11_DEBUG"))
          println(f"[e11] batch $bid: ${(System.nanoTime() - tB) / 1e9}%.2f s")
        ()
      }
      .start()
    lap("stream-drain")(q.awaitTermination())
    // the mounted store served its session; release its block-manager
    // storage so a long bench JVM doesn't carry the shingle arrays
    // until GC (the result below reads only the written parquet)
    org.apache.spark.sql.GraftColumnBridge.releaseCheckpoint(sgOnce)
    // same guard as e12: no arrivals → no batch ever wrote `out`
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(out)))
      spark.read.parquet(out).orderBy("doc_id")
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_candidates", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_dups", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("dup_of", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("kept", org.apache.spark.sql.types.IntegerType))))
  }

  // E12: stream quality gate — the "train offline, serve in the ingest
  // stream" pattern for the distilled classifier: t18's NB model is
  // trained batch-side (nbQualityModel — the nightly job), its weight
  // table mounted once per ingest session; arrival documents
  // (doc_id ≡ 0 mod 3, e11's arrival convention) land in micro-batch
  // drops and each batch is scored by a broadcast join against the
  // mounted weights — a map-only verdict per batch, no corpus access
  // at serve time. Output: the per-arrival admission log. The e11
  // scaffolding (AvailableNow drain over partitioned drops, low pinned
  // stream shuffle width, mount-then-release) is reused deliberately:
  // this is the same ingest topology with a model where the signature
  // store was.
  private def e12StreamQualityGate(spark: SparkSession, dir: String): DataFrame = {
    val tag = graft.core.Artifacts.dirTag(dir)
    val base = s"/tmp/graft_stream/e12_${spark.sparkContext.applicationId}_$tag"
    graft.core.Artifacts.reapStale("/tmp/graft_stream", "e12_", base)
    val basePath = java.nio.file.Paths.get(base)
    if (java.nio.file.Files.exists(basePath)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(basePath)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
      finally walk.close()
    }
    val (wt, lprior, defaultLw) = nbQualityModel(spark, dir)
    val arrivals = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"), col("text"))
    arrivals.withColumn("drop", pmod(col("doc_id"), lit(2)))
      .repartition(2, col("drop"))
      .write.partitionBy("drop").parquet(s"$base/src")
    val ss = spark.newSession()
    // same corpus-adaptive width as e11: the per-batch token explode +
    // score rollup scales with the arrival slice
    ss.conf.set("spark.sql.shuffle.partitions",
      streamWidth(spark, Tables.documents(spark, dir).count()).toString)
    val wtOnce = ss.createDataFrame(wt.collectAsList(), wt.schema)
      .localCheckpoint(true) // vocab-bounded model artifact, mounted once
    val out = s"$base/out"
    val q = ss.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
      .option("recursiveFileLookup", "true")
      .parquet(s"$base/src")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$base/ckpt")
      .foreachBatch { (b: DataFrame, bid: Long) =>
        val scored = b
          .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
          .join(broadcast(wtOnce), col("w") === col("ww"), "left")
          .groupBy("doc_id").agg(
            sum(coalesce(col("lw"), lit(defaultLw))).as("s"))
        // size(tokens), NOT tokenCount: t18 and the shared oracle count
        // a whitespace-only doc as ONE (empty) token — the stream must
        // score with the same convention or a blank arrival would flip
        // the hash gate and the stream≡batch spec
        b.select(col("doc_id"),
            size(TextAnalysis.tokens(col("text"))).cast("long").as("n_toks"))
          .join(scored, Seq("doc_id"), "left")
          .withColumn("nb_score",
            round(lit(lprior) + coalesce(col("s"), lit(0.0)), 6))
          .withColumn("admitted", (col("nb_score") > 0).cast("int"))
          .select("doc_id", "n_toks", "nb_score", "admitted")
          .coalesce(1).write.mode("append").parquet(out)
        ()
      }
      .start()
    q.awaitTermination()
    org.apache.spark.sql.GraftColumnBridge.releaseCheckpoint(wtOnce)
    // an empty arrival slice writes no micro-batch → no out dir; the
    // admission log is then legitimately empty, not a read error
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(out)))
      spark.read.parquet(out).orderBy("doc_id")
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("n_toks", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("nb_score", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("admitted", org.apache.spark.sql.types.IntegerType))))
  }

  // D8: fuzzy entity matching with blocking — candidate (a, b) pairs
  // whose names sit within Levenshtein distance 2, generated only
  // WITHIN a composite (last-2-chars, length-bucket) block with banded
  // fan-out and a per-block pair cap (Dedup.fuzzyBlockedPairs) — never
  // a full cross join, never an unbounded quadratic block: the ER
  // primitive for the reference's customer-identity drift (SURVEY
  // §7.4 trap 5 — dvid≥2 injections mint new ids for the same human,
  // second_third_and_forth_data_injection.py:76-77). The materialized
  // pair table is shared with d9's resolution step; the cache is keyed
  // by (app, dir) so a fresh session never sees a dead checkpoint.
  private val fuzzyPairCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def d8FuzzyMatch(spark: SparkSession, dir: String): DataFrame =
    graft.core.AppCache.get(fuzzyPairCache,
      (spark.sparkContext.applicationId, dir)) {
      graft.text.Dedup.fuzzyBlockedPairs(
        Tables.customer(spark, dir).select(col("c_custkey"), col("c_name")),
        "c_custkey", "c_name")
        .localCheckpoint(true) }.orderBy("id_a", "id_b")

  // D9: entity resolution — d8's fuzzy candidate pairs resolved to
  // canonical entities by connected components (the d6 pattern applied
  // to ER): every customer maps to its component's lexicographically
  // minimum id-string (ids compared as strings on both engines),
  // singletons map to themselves. The pair graph is block-bounded, so
  // components are small and the CC runs on the reduced edge set.
  private def d9EntityClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = d8FuzzyMatch(spark, dir)
    val cust = Tables.customer(spark, dir).select(col("c_custkey"))
    // d8FuzzyMatch is checkpoint-backed and the node side is a pure
    // customer-scan projection — stable per (app, dir), token-cacheable
    val g = graft.graph.PropertyGraph(
      cust.select(col("c_custkey").cast("string").as("id")),
      pairs.select(col("id_a").cast("string").as("src"),
        col("id_b").cast("string").as("dst")),
      cacheToken = Some(s"entity-cc:$dir"))
    val cc = graft.graph.GraphXAnalytics.connectedComponents(spark, g)
      .withColumnRenamed("id", "cid_s")
    cust.join(cc, col("c_custkey").cast("string") === col("cid_s"), "left")
      .select(col("c_custkey"),
        coalesce(col("component"), col("c_custkey").cast("string")).as("entity"))
      .withColumn("is_canonical",
        (col("c_custkey").cast("string") === col("entity")).cast("int"))
      .orderBy("c_custkey")
  }

  // ---- similarity search ----

  private def simBruteTopK(spark: SparkSession, dir: String): DataFrame =
    graft.sim.KnnCache.topk(spark, dir, 5).orderBy("src", "rn")

  private def simLshTopK(spark: SparkSession, dir: String): DataFrame = {
    // adaptive plane count (bucket size ≈32 at any corpus): pinned
    // p=8 made the bucket self-join quadratic — see scaleNPlanes
    val e = Tables.embeddings(spark, dir)
    Similarity.lshTopK(e, "vec_id", "embedding",
        dim = DIM, nPlanes = Similarity.scaleNPlanes(e.count()), k = 5)
      .orderBy("src", "rn")
  }

  // deterministic hash-sampled quantizer → full DuckDB oracle (the
  // KMeans variant stays in the library as Similarity.ivfTopK, asserted
  // against the exact path in SimilaritySpec)
  // One ranked-assignment table (every vector with its 3 nearest lists,
  // rank 1 = assigned cell) shared by BOTH in-flight ANN query modes —
  // top-k (probes 3) and near-dup pairs (probes 2) ride the same index
  // build, the memo holding the k·maxRank-bounded table checkpointed.
  // Same economics as sharedIvfIndex, for the un-persisted formulation.
  private val ivfRankedCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def ivfRanked(spark: SparkSession, dir: String): DataFrame =
    graft.core.AppCache.get(ivfRankedCache,
      (spark.sparkContext.applicationId, dir)) {
      // corpus-adaptive nlist (≈√n, floor 16): a fixed 16 made per-query
      // serve work linear in the corpus — sim_ivf_topk's all-vector
      // probe batch went 2.3 s → 31.7 s for 10× data (sf0.1→sf1) and
      // would have shuffled ~7.5e9 array rows at sf10. The one count()
      // is paid once per (app, dir), inside this memo.
      val e = Tables.embeddings(spark, dir)
      Similarity.ivfHashRanked(e, "vec_id", "embedding",
          nLists = Similarity.scaleNLists(e.count()), maxRank = 3, salt = 13L)
        .localCheckpoint(true)
    }

  private def simIvfTopK(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopKFromScored(
        Similarity.ivfScoredFromRanked(ivfRanked(spark, dir), nProbe = 3), k = 5)
      .orderBy("src", "rn")

  // D13: d5's semantic near-dup detection on its scale path — pairs are
  // compared only inside probed IVF cells (candidates bounded by cell
  // sizes, never n²); same 0.4 threshold as d5, recall vs the exact
  // kernel asserted in SimilaritySpec
  private def d13SemanticDedup(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfNearDupPairsFromScored(
        Similarity.ivfScoredFromRanked(ivfRanked(spark, dir), nProbe = 2),
        minCos = 0.4)
      .orderBy("src", "dst")

  private def a10SimilarityStats(spark: SparkSession, dir: String): DataFrame =
    Similarity.similarityStats(graft.sim.KnnCache.topk(spark, dir, 5))
      .orderBy("src")

  // int8 embedding quantization (the 100 TB storage path: 4× smaller
  // than float32); per-vector scale + quantized-range summary
  private def simQuantizeInt8(spark: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(Tables.embeddings(spark, dir), "vec_id", "embedding")
      .orderBy("id")

  // product-quantization codes (the 32× storage path: 64 float32 dims →
  // 8 byte codes); hash-sampled codebook → full DuckDB oracle
  private def simPqCodes(spark: SparkSession, dir: String): DataFrame =
    Similarity.pqCodes(Tables.embeddings(spark, dir), "vec_id", "embedding", DIM)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")

  // ADC search over the PQ codes: LSH-bucket pruning + per-candidate
  // scoring from the 8-byte codes against the exact query vector — the
  // compressed-corpus ANN query path end to end
  private def simPqAdcTopK(spark: SparkSession, dir: String): DataFrame = {
    // adaptive bucket pruning, same ≈32-candidate sizing as sim_lsh_topk
    val e = Tables.embeddings(spark, dir)
    Similarity.pqAdcTopK(e, "vec_id", "embedding",
        dim = DIM, k = 5, nPlanes = Similarity.scaleNPlanes(e.count()))
      .orderBy("src", "rn")
  }

  // T7: fixed-size token chunking with overlap (50-token windows,
  // 10-token overlap) — documents become model-ready training windows;
  // chunk text is hashed so the hash gate checks content, not a blob
  private def t7Chunking(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunk(Tables.documents(spark, dir), "doc_id", "text",
        chunkSize = 50, overlap = 10)
      .select(col("doc_id"), col("chunk_no"), col("n_chunk_tokens"),
        md5(col("chunk_text")).as("chunk_hash"))
      .orderBy("doc_id", "chunk_no")

  // T8: language-ID evaluation — predicted vs labeled language as a
  // confusion rollup (the same quality-measurement-as-a-query pattern
  // as sim_recall_eval: never trust a heuristic at corpus scale without
  // a measured confusion)
  private def t8LangConfusion(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), TextAnalysis.languageId(col("text")).as("lang_pred"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred")

  // T9: corpus bigram frequencies — top-20 adjacent token pairs with a
  // deterministic (count desc, bigram asc) cut; explode is map-side,
  // the shuffle carries (bigram, partial count). The single-token guard
  // matters: Spark's sequence(1, 0) counts DOWN, it doesn't yield empty.
  private def t9TopBigrams(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(TextAnalysis.tokens(col("text")).as("toks"))
    val bigrams = when(size(col("toks")) >= 2,
      transform(sequence(lit(1), size(col("toks")) - 1), i =>
        concat(element_at(col("toks"), i), lit(" "), element_at(col("toks"), i + 1))))
      .otherwise(array().cast("array<string>"))
    docs.select(explode(bigrams).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram"))
      .limit(20)
  }

  // T10: TF-IDF — term frequency × inverse document frequency, the
  // classic corpus weighting: tf = count in doc, idf = ln((N+1)/(df+1))
  // + 1 (smoothed), top-3 terms per document by (tfidf desc, term asc).
  // One explode + two keyed aggregates + a broadcast idf join; round(6)
  // absorbs the ≤1-ulp ln() divergence between engines.
  private def t10Tfidf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    val terms = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("idf",
        log((lit(nDocs.toDouble) + 1.0) / (col("df") + lit(1.0))) + 1.0)
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(broadcast(df.select("term", "idf")), "term")
      .withColumn("tfidf", col("tf") * col("idf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("term"),
        round(col("tfidf"), 6).as("tfidf"))
      .orderBy("doc_id", "rank")
  }

  // T11: vocabulary pruning (min_df/max_df) — the corpus-prep filter
  // run before any term weighting: drop terms in fewer than 2 docs
  // (noise) or more than half the corpus (stop-like). Per doc: kept vs
  // total token counts — the coverage a pruned vocabulary retains.
  private def t11VocabPrune(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count()
    val terms = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
    val kept = terms.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= nDocs * 9 / 10)
      .select("term")
    val keptCounts = terms.join(broadcast(kept), Seq("term"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("kept_tokens"))
    terms.groupBy("doc_id").agg(count(lit(1)).as("total_tokens"))
      .join(keptCounts, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        col("total_tokens"))
      .orderBy("doc_id")
  }

  // F10: the embedding dot-product / cosine scalar in isolation — the
  // codegen ArrayDotProduct expression every KNN/ANN kernel builds on
  // (xgboost_training_for_big_data.py:359) — over consecutive-id pairs.
  private def f10DotProduct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = e.select(col("vec_id").as("src"), col("embedding").as("ea"))
    val b = e.select((col("vec_id") - 1).as("src"), col("embedding").as("eb"))
    a.join(b, "src")
      .select(col("src"),
        round(Similarity.dot(col("ea"), col("eb")), 6).as("dot"),
        round(Similarity.cosine(col("ea"), col("eb")), 6).as("cos"))
      .orderBy("src")
  }

  // ---- text analysis ----

  private def t1LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.languageId(col("text")).as("lang_pred"))
      .orderBy("doc_id")

  private def t2Quality(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityFeatures(
        Tables.documents(spark, dir).select("doc_id", "text"), "text")
      .select("doc_id", "n_tokens", "avg_token_len", "punct_ratio", "stopword_ratio")
      .orderBy("doc_id")

  private def t3TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("ws_tokens"),
      regexp_count(col("text"), lit("[A-Za-z0-9]+")).cast("long").as("word_tokens"))
      .orderBy("doc_id")

  /** GPT-2-style pretokenizer unit count — the "BPE-ish" token estimate
    * (contractions, space-prefixed letter/digit runs, punctuation runs,
    * whitespace). The pattern avoids every construct whose semantics
    * differ between Java regex (Spark) and RE2 (DuckDB): no backrefs,
    * no lookaround; \\p{L}/\\p{N} and leftmost-first alternation agree
    * (verified on mixed-Unicode samples). */
  private val bpePattern =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  private def t3bBpeTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      regexp_count(col("text"), lit(bpePattern)).cast("long").as("bpe_tokens"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("ws_tokens"))
      .orderBy("doc_id")

  private def t4Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"),
      md5(col("text")).as("content_md5"))
      .orderBy("doc_id")

  // T6: winnowing fingerprints (MOSS selection) per document — the
  // plagiarism/copy-detection signature; output is order-insensitive
  // (count + extremes of the distinct selected set)
  private def t6Winnowing(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnow(Tables.documents(spark, dir).select("doc_id", "text"),
        "text", "fps", k = 5, w = 4)
      .select(col("doc_id"), size(col("fps")).as("n_fp"),
        array_min(col("fps")).as("fp_min"), array_max(col("fps")).as("fp_max"))
      .orderBy("doc_id")

  // T5: the composed corpus-selection query every training-data pipeline
  // ends with — keep docs that are (a) the canonical copy of their exact-
  // dup group (d1), (b) the target language (t1), and (c) above the
  // quality bar (t2). One pass over the corpus + a broadcast join against
  // the (hash → canonical id) table; all predicates compare the ROUNDED
  // ratios so the SQL mirror filters identical values.
  private def t5CorpusFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val canon = docs.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"))
    // materialize the featured slice BEFORE filtering: predicate pushdown
    // would otherwise clone the (expensive) language-ID/token expressions
    // into a pre-projection Filter, evaluating them twice per row — the
    // checkpoint is one narrow pass and the filters run on stored columns
    val featured = TextAnalysis.qualityFeatures(docs, "text")
      .withColumn("lang_pred", TextAnalysis.languageId(col("text")))
      .withColumn("h", md5(col("text")))
      .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio",
        "source", "lang_pred", "h")
      .localCheckpoint(true)
    featured
      .join(broadcast(canon), "h")
      .filter(col("doc_id") === col("keep_id"))
      .filter(col("lang_pred") === "en" &&
        col("n_tokens") >= 10 &&
        col("punct_ratio") < 0.2 &&
        col("stopword_ratio") >= 0.02)
      .select("doc_id", "n_tokens", "punct_ratio", "stopword_ratio", "source")
      .orderBy("doc_id")
  }

  // Multimodal plumbing: opaque binary column + typed metadata. The text
  // column stands in for the payload; decode is a stub by design (no
  // codec libs in this container) — the schema/partition/metadata path is
  // the real, tested surface (see graft.multimodal for the mapInPandas-
  // equivalent batch decoder).
  private def mm1BinaryMetadata(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      length(col("text").cast("binary")).cast("long").as("byte_len"),
      md5(col("text").cast("binary")).as("payload_md5"),
      col("source"))
      .orderBy("doc_id")

  // MM2/MM3: the batch-decode and resize-plan paths under the oracle
  // gate. The stub decoder derives metadata from Arrays.hashCode of the
  // payload bytes — pure integer math, and the documents corpus is
  // single-byte text (t4's ascii() oracle passes), so DuckDB replays the
  // exact hash with a [1]-seeded list_reduce over ascii codes.
  private def mm2Media(spark: SparkSession, dir: String) =
    graft.multimodal.Multimodal.decode(
      graft.multimodal.Multimodal.asMedia(
        Tables.documents(spark, dir), "doc_id", "text", "image", "source"))

  private def mm2DecodeFeatures(spark: SparkSession, dir: String): DataFrame =
    mm2Media(spark, dir).select(
      col("media_id"), col("width"), col("height"), col("channels"),
      col("byte_len"),
      when(size(col("features")) >= 1, element_at(col("features"), 1)).as("f0"),
      when(size(col("features")) >= 8, element_at(col("features"), 8)).as("f7"))
      .orderBy("media_id")

  private def mm3ResizePlan(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.resize(mm2Media(spark, dir), 224, 224)
      .drop("modality")
      .orderBy("media_id")

  // MM4: deterministic frame sampling over the payload byte range (the
  // video stand-in: every-kth-offset extraction, exercising the
  // explode/array shape a real frame sampler produces)
  private def mm4FrameSample(spark: SparkSession, dir: String): DataFrame =
    graft.multimodal.Multimodal.frameSample(
        graft.multimodal.Multimodal.asMedia(
          Tables.documents(spark, dir), "doc_id", "text", "video", "source"),
        everyK = 100)
      .orderBy("media_id", "frame_no")

  // T12: token-budget sequence packing — the pretraining prep step that
  // concatenates the corpus token stream in doc_id order and slices it
  // into fixed `budget`-token packs: each doc starts at the running
  // token offset, pack_id = offset / budget. The global running offset
  // is computed WITHOUT a global window: contiguous doc_id RANGE shards
  // cumsum independently (one shuffle keyed by shard), and each shard's
  // starting offset is the rolled-up total of the shards before it — a
  // boundedGlobal pass over the shard-TOTALS table (corpus/span rows,
  // metadata-sized). Integer sums make the two-pass bit-identical to
  // the single `Window.orderBy(doc_id)` cumsum it replaces, which put
  // every row in one executor partition. t12b is the hash-sharded
  // variant that also drops cross-shard pack numbering.
  private def t12PackSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 256
    // span sizes the within-shard slice; at scale it is corpus/nShards
    val span = 1000L
    val docs = Tables.documents(spark, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .withColumn("shard", floor(col("doc_id") / span))
    val wIn = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wSh = graft.functions.ColFns.boundedGlobal(col("shard"))(col("shard").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy("shard").agg(sum("n_tokens").as("shard_toks"))
      .withColumn("shard_offset", coalesce(sum("shard_toks").over(wSh), lit(0L)))
      .select("shard", "shard_offset")
    docs.join(broadcast(offsets), "shard")
      .withColumn("offset", (col("shard_offset") +
        coalesce(sum("n_tokens").over(wIn), lit(0L))).cast("long"))
      .withColumn("pack_id", floor(col("offset") / budget))
      .withColumn("offset_in_pack", col("offset") % budget)
      .select("doc_id", "n_tokens", "offset", "pack_id", "offset_in_pack")
      .orderBy("doc_id")
  }

  // T12b: the SHARDED form of t12 — the shape t12's header promises at
  // 100 TB: documents hash into `nShards` independent pack streams, the
  // cumsum window partitions by shard (ONE shuffle keyed by shard, no
  // global ordering anywhere in the plan), and pack identity is
  // (shard, pack_in_shard). Packing quality is unchanged — every
  // shard's stream packs to the same budget; what's traded away is only
  // cross-shard pack numbering, the same trade any distributed
  // tokenizer run makes.
  private def t12bPackSharded(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val budget = 256; val nShards = 8
    val docs = Tables.documents(spark, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .withColumn("shard", pmod(col("doc_id"), lit(nShards)).cast("int"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    docs
      .withColumn("offset_in_shard",
        coalesce(sum("n_tokens").over(w), lit(0L)).cast("long"))
      .withColumn("pack_in_shard", floor(col("offset_in_shard") / budget))
      .withColumn("offset_in_pack", col("offset_in_shard") % budget)
      .select("doc_id", "shard", "n_tokens", "offset_in_shard",
        "pack_in_shard", "offset_in_pack")
      .orderBy("doc_id")
  }

  // T17: deterministic corpus shuffle + sharding — the LAST step of a
  // training-data pipeline: every document gets a reproducible
  // pseudo-random position, as (shard, pos_in_shard) with shard = hash
  // bucket and pos = rank of a second hash within the shard. Pure hash
  // math end to end, so the order is independent of partitioning,
  // retries, and cluster size (the trap a rand()-based shuffle falls
  // into); physically ONE shard-keyed shuffle, each shard sorting its
  // own slice — no global ordering anywhere.
  private def t17ShuffleShards(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nShards = 16
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
      .withColumn("u", graft.functions.ColFns.pseudoUniform(col("doc_id"), 97L))
      .withColumn("shard",
        floor(graft.functions.ColFns.pseudoUniform(col("doc_id"), 131L) * nShards)
          .cast("int"))
    val w = Window.partitionBy("shard").orderBy(col("u").asc, col("doc_id").asc)
    docs.withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")
  }

  // T21: token-budget corpus selection — the mixture step that actually
  // PICKS the training subset (the r8/t16 reports only price it): fill
  // 20% of corpus tokens, per-language budgets set by α=0.5
  // temperature-rebalanced token shares, documents admitted in a
  // deterministic hash order until their language's cumulative stream
  // position exceeds its budget (prefix-fill, not knapsack — skipped
  // tokens still advance the position). Ordering is (shard, u, doc_id)
  // with the t12b two-pass cumsum: the within-shard window is bounded
  // by one shard's slice of one language and the shard-offset window by
  // the shard count; budgets ride a lang-count-sized broadcast — no
  // corpus-sized window or shuffle anywhere.
  private def t21TokenBudget(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nShards = 8
    // the per-doc token count is the entry's one corpus-text pass; it
    // feeds the lang totals, the shard totals AND the cumsum below, and
    // un-materialized each consumer re-tokenized the corpus (3 text
    // passes). Checkpoint the doc-id-level proxy once — ints per doc,
    // never the text (guide §8: decide on small rows, touch heavy bytes
    // once).
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("lang"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_toks"))
      .withColumn("u", graft.functions.ColFns.pseudoUniform(col("doc_id"), 173L))
      .withColumn("shard",
        floor(graft.functions.ColFns.pseudoUniform(col("doc_id"), 211L) * nShards)
          .cast("int"))
      .localCheckpoint(true)
    // byLang feeds tot, wsum AND budgets — lang-cardinality, so the
    // checkpoint is metadata-priced and saves three doc-table re-aggs
    val byLang = docs.groupBy("lang").agg(sum("n_toks").as("lang_toks"))
      .localCheckpoint(true)
    val tot = byLang.agg(sum("lang_toks").cast("double").as("tot_toks"))
    val wsum = byLang.crossJoin(broadcast(tot))
      .agg(sum(sqrt(col("lang_toks") / col("tot_toks"))).as("wsum"))
    // round-then-floor: wsum is a float sum whose addend order is
    // partition-dependent; snapping the product to 6 decimals first
    // means a one-ulp wsum difference (across runs or vs the oracle)
    // can no longer flip a budget sitting exactly on an integer
    val budgets = byLang.crossJoin(broadcast(tot)).crossJoin(broadcast(wsum))
      .select(col("lang"),
        floor(round(lit(0.2) * col("tot_toks") *
          (sqrt(col("lang_toks") / col("tot_toks")) / col("wsum")), 6))
          .cast("long").as("budget"))
    val wIn = Window.partitionBy("lang", "shard")
      .orderBy(col("u").asc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val shardTots = docs.groupBy("lang", "shard").agg(sum("n_toks").as("shard_toks"))
    val wSh = Window.partitionBy("lang").orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = shardTots.withColumn("shard_offset",
        coalesce(sum("shard_toks").over(wSh), lit(0L)))
      .select("lang", "shard", "shard_offset")
    docs.withColumn("cum_in_shard", coalesce(sum("n_toks").over(wIn), lit(0L)))
      .join(broadcast(offsets), Seq("lang", "shard"))
      .join(broadcast(budgets), Seq("lang"))
      .withColumn("cum_before", col("shard_offset") + col("cum_in_shard"))
      .withColumn("selected",
        (col("cum_before") + col("n_toks") <= col("budget")).cast("int"))
      .select("doc_id", "lang", "n_toks", "shard", "cum_before", "selected")
      .orderBy("doc_id")
  }

  // T22: BPE merge induction — tokenizer TRAINING on the corpus
  // (Sennrich et al. 2016): 8 rounds of "count adjacent symbol pairs
  // weighted by word frequency, merge the most frequent (count desc,
  // pair asc tie-break) in every word". Words are held as
  // '_a__b__c_'-sentineled symbol strings so a merge is one literal
  // replace (left-to-right non-overlapping in both engines). Scale
  // shape: ONE corpus pass builds the word-frequency table; every
  // round after that is a job over the Zipf-bounded VOCAB table (pair
  // explode bounded by word length), with a 1-row TakeOrdered argmax —
  // the corpus is never rescanned, which is exactly why BPE trainers
  // scale. Output: the learned merge table (step, lhs, rhs, pair
  // count) — the tokenizer artifact itself, integer-exact.
  // the learned merge table is a pure function of the dir — compute
  // once per (app, dir) and share between t22 (the table itself) and
  // t22b (applying it back to the corpus)
  private val bpeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def t22BpeMerges(spark: SparkSession, dir: String): DataFrame =
    graft.core.AppCache.get(bpeCache,
      (spark.sparkContext.applicationId, dir)) {
      bpeMerges(spark, dir, nMerges = 8, denseMaxVocab = 2000000L)
        .localCheckpoint(true)
    }

  /** t22's engine with the dense-kernel threshold exposed so the
    * fallback path is spec-testable (`denseMaxVocab = 0` forces the
    * per-round vocab-table jobs).
    *
    * Stop rules (how real tokenizer trainings terminate — `nMerges` is
    * the hard round cap, the production knobs compose with it):
    *  - `targetVocab`: stop once |alphabet| + merges reaches the target
    *    vocabulary size (each merge mints exactly one new symbol, so
    *    the budget is derived up front from one bounded job over the
    *    word-vocab table — no per-round vocab census).
    *  - `minPairFreq`: stop BEFORE applying a merge whose best pair
    *    count falls below the floor (rare-pair merges memorize noise).
    * Defaults (None / 1) reproduce the fixed-round behavior exactly,
    * keeping t22/t22b's hash-gated tables byte-stable. */
  private[graft] def bpeMerges(spark: SparkSession, dir: String,
                                 nMerges: Int, denseMaxVocab: Long,
                                 targetVocab: Option[Long] = None,
                                 minPairFreq: Long = 1L): DataFrame = {
    import spark.implicits._
    // zero-length token guard: sequence(1, 0) DESCENDS to [1, 0] in
    // Spark (two empty symbols → '____') while the oracle's
    // generate_series(1, 0) is empty ('__') — same trap winnow guards
    val chars = when(length(col("w")) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))))
    val vocabW = Tables.documents(spark, dir)
      .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("s", concat(lit("_"), array_join(chars, "__"), lit("_")))
      .localCheckpoint(true)
    // the sentinel encoding is ambiguous for in-token underscores —
    // fail loudly (one bounded job on the vocab table) rather than
    // silently corrupting pair counts
    require(vocabW.filter(col("w").contains("_")).limit(1).count() == 0,
      "BPE sentinel encoding requires underscore-free tokens")
    var vocab = vocabW.select("freq", "s")
    // the vocab-size stop resolves to a merge budget up front: vocab
    // grows by exactly one symbol per merge, so budget = target −
    // |alphabet| (one job over the word-vocab table, not the corpus)
    val rounds = targetVocab match {
      case Some(tv) =>
        // split(w, "") with Spark's limit=-1 keeps a trailing "" —
        // filter it or the alphabet counts a phantom symbol
        val alpha = vocabW
          .select(explode(split(col("w"), "")).as("c"))
          .filter(length(col("c")) > 0)
          .agg(count_distinct(col("c")).as("n")).head().getLong(0)
        math.min(nMerges.toLong, math.max(0L, tv - alpha)).toInt
      case None => nMerges
    }
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    if (vocab.count() <= denseMaxVocab) {
      // dense vocab kernel: after the one corpus pass the working set
      // is the word-frequency table — collect it once and run the merge
      // rounds in memory instead of paying 8 × (job + checkpoint)
      // scheduling floors on a vocab-sized table (pageRank hybrid
      // discipline; identical left-to-right non-overlapping merge rule)
      val words = vocab.as[(Long, String)].collect()
        .map { case (f, s) =>
          (f, s.stripPrefix("_").stripSuffix("_").split("__"))
        }
      var step = 1
      while (step <= rounds) {
        val cnt = new java.util.HashMap[(String, String), Long]()
        words.foreach { case (f, syms) =>
          var i = 0
          while (i < syms.length - 1) {
            val k = (syms(i), syms(i + 1))
            cnt.merge(k, f, (x, y) => x + y)
            i += 1
          }
        }
        var best: ((String, String), Long) = null
        val it = cnt.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next(); val k = e.getKey; val v = e.getValue.longValue()
          if (best == null || v > best._2 ||
            (v == best._2 && (k._1 < best._1._1 ||
              (k._1 == best._1._1 && k._2 < best._1._2))))
            best = (k, v)
        }
        if (best == null || best._2 < minPairFreq)
          step = rounds + 1 // exhausted (every word one symbol) or the
        else {              // best pair is under the frequency floor —
          val ((a, b), c) = best // stop early, mirroring the oracle's
          merges += ((step, a, b, c))        // truncated merge table
          var wi = 0
          while (wi < words.length) {
            val (f, syms) = words(wi)
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
                out += a + b; i += 2
              } else { out += syms(i); i += 1 }
            }
            words(wi) = (f, out.toArray)
            wi += 1
          }
          step += 1
        }
      }
    } else {
      // corpus-scale fallback: one vocab-table job + 1-row TakeOrdered
      // per round, lineage truncated round-by-round
      var step = 1
      while (step <= rounds) {
        val syms = vocab.select(col("freq"),
          split(regexp_replace(col("s"), "^_|_$", ""), "__").as("l"))
        val top = syms
          .select(col("freq"), explode(when(size(col("l")) >= 2,
            transform(sequence(lit(1), size(col("l")) - 1), i =>
              struct(element_at(col("l"), i).as("a"),
                element_at(col("l"), i + 1).as("b"))))
            .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum("freq").as("cnt"))
          .orderBy(desc("cnt"), asc("a"), asc("b")).limit(1)
          .as[(String, String, Long)].collect()
        if (top.isEmpty || top.head._3 < minPairFreq)
          step = rounds + 1 // exhausted or under the frequency floor —
        else {              // same early-stop contract as the dense leg
          val (a, b, c) = top.head
          merges += ((step, a, b, c))
          vocab = vocab
            .withColumn("s",
              org.apache.spark.sql.functions.replace(col("s"),
                lit(s"_${a}__${b}_"), lit(s"_$a${b}_")))
            .localCheckpoint(true)
          step += 1
        }
      }
    }
    merges.result().toDF("step", "lhs", "rhs", "pair_count").orderBy("step")
  }

  // SIM: MMR diversity re-rank — the retrieval-side counterpart of the
  // rec family's category diversity (Carbonell & Goldstein 1998):
  // each query's ANN top-5 is greedily re-ranked to 3 results by
  // maximal marginal relevance, score = λ·rel − (1−λ)·max cos to the
  // already-selected set, λ=0.7, ties to the smaller id. Three
  // unrolled greedy steps; every window is a per-query slice of ≤5
  // rows and the candidate-candidate cosines are 20 pairs per query —
  // the re-rank costs O(k²) per query regardless of corpus size, which
  // is why production retrieval stacks bolt MMR onto the ANN serve
  // path. Candidates ride the shared KnnCache kernel (j7's truth).
  private def simMmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lam = 0.7
    val cand = graft.sim.KnnCache.topk(spark, dir, 5)
      .select(col("src"), col("dst"), col("cos").as("rel"))
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val pair = cand.select(col("src"), col("dst").as("d1"))
      .join(cand.select(col("src").as("s2x"), col("dst").as("d2")),
        col("src") === col("s2x") && col("d1") =!= col("d2"))
      .join(e.select(col("vec_id").as("d1"), col("embedding").as("v1")), "d1")
      .join(e.select(col("vec_id").as("d2"), col("embedding").as("v2")), "d2")
      .select(col("src"), col("d1"), col("d2"),
        round(Similarity.cosine(col("v1"), col("v2")), 6).as("cc"))
    // integer-scaled MMR: λ·rel − (1−λ)·cc on 6-decimal inputs lands on
    // exact half-way points (x.xxxxx5) where Spark and DuckDB round
    // doubles apart — the "never round a product of rounded inputs"
    // trap. 7·(rel·1e6) − 3·(cc·1e6) is exact int64 in both engines;
    // /1e7 at the end maps identical integers to identical doubles.
    val w = Window.partitionBy("src")
    val candI = cand.withColumn("irel", round(col("rel") * 1e6).cast("long"))
    // s1 feeds r2, r3 and the result union; ccTo feeds r2 and BOTH cc1/
    // cc2 legs of r3. Un-materialized, each consumer re-executed the
    // whole candidate-pair subtree (two embedding joins + a cosine per
    // pair) — 5 SortMergeJoins and 32 exchanges in the executed plan,
    // 3× the pair work. One localCheckpoint each collapses the shared
    // subtrees to a single evaluation (guide §2.4: duplicated subtrees
    // are removed shuffles), with identical rows by construction.
    val s1 = candI
      .withColumn("rk", row_number().over(w.orderBy(desc("rel"), asc("dst"))))
      .filter(col("rk") === 1)
      .select(col("src"), col("dst").as("s1"), col("rel").as("rel1"))
      .localCheckpoint(true)
    val ccTo = pair.select(col("src").as("ps"), col("d1"), col("d2"),
      round(col("cc") * 1e6).cast("long").as("icc"))
      .localCheckpoint(true)
    val r2 = candI.join(s1.select("src", "s1"), "src")
      .filter(col("dst") =!= col("s1"))
      .join(ccTo, col("src") === col("ps") && col("dst") === col("d1") &&
        col("s1") === col("d2"))
      .select(col("src"), col("dst"),
        (lit(7L) * col("irel") - lit(3L) * col("icc")).as("immr"))
    val s2 = r2
      .withColumn("rk", row_number().over(w.orderBy(desc("immr"), asc("dst"))))
      .filter(col("rk") === 1)
      .select(col("src"), col("dst").as("s2"), col("immr").as("immr2"))
    val cc1 = ccTo.select(col("ps").as("p1"), col("d1").as("x1"),
      col("d2").as("y1"), col("icc").as("icc_s1"))
    val cc2 = ccTo.select(col("ps").as("p2"), col("d1").as("x2"),
      col("d2").as("y2"), col("icc").as("icc_s2"))
    val r3 = candI.join(s1.select("src", "s1"), "src")
      .join(s2.select("src", "s2"), "src")
      .filter(col("dst") =!= col("s1") && col("dst") =!= col("s2"))
      .join(cc1, col("src") === col("p1") && col("dst") === col("x1") &&
        col("s1") === col("y1"))
      .join(cc2, col("src") === col("p2") && col("dst") === col("x2") &&
        col("s2") === col("y2"))
      .select(col("src"), col("dst"),
        (lit(7L) * col("irel") -
          lit(3L) * greatest(col("icc_s1"), col("icc_s2"))).as("immr"))
    val s3 = r3
      .withColumn("rk", row_number().over(w.orderBy(desc("immr"), asc("dst"))))
      .filter(col("rk") === 1)
      .select(col("src"), col("dst").as("s3"), col("immr").as("immr3"))
    s1.select(col("src"), lit(1).as("rnk"), col("s1").as("dst"),
        col("rel1").as("score"))
      .unionByName(s2.select(col("src"), lit(2).as("rnk"),
        col("s2").as("dst"), (col("immr2").cast("double") / 1e7).as("score")))
      .unionByName(s3.select(col("src"), lit(3).as("rnk"),
        col("s3").as("dst"), (col("immr3").cast("double") / 1e7).as("score")))
      .orderBy("src", "rnk")
  }

  // A23: count-min sketch over corpus bigrams — the mergeable
  // heavy-hitter structure for corpus statistics at 100 TB (Cormode &
  // Muthukrishnan 2005): depth-3 × width-64 cells, bucket = two md5
  // hex digits per row (digit-wise, the d3 discipline — no hex→int
  // builtin needed in either engine). Each partition can sketch
  // locally and cells ADD, which is the whole point; here the cells
  // are built from the exact gram counts so the oracle replays them
  // and the count-min guarantee (estimate ≥ exact, reported per row)
  // is hash-gated rather than just asserted.
  private def a23CountminNgrams(spark: SparkSession, dir: String): DataFrame = {
    val width = 64
    def hv(m: org.apache.spark.sql.Column, p: Int) =
      ascii(substring(m, p, 1)) -
        when(substring(m, p, 1) >= "a", 87).otherwise(48)
    def bucketJ(m: org.apache.spark.sql.Column, j: Int) =
      pmod(hv(m, 8 * j + 1) * 16 + hv(m, 8 * j + 2), lit(width))
    // bind the token array as a column BEFORE the lambda: an inlined
    // split() would re-evaluate per element_at — O(tokens²) per doc
    val grams = Tables.documents(spark, dir)
      .select(TextAnalysis.tokens(col("text")).as("toks"))
      .select(explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1), i =>
          concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1))))
        .otherwise(array().cast("array<string>"))).as("g"))
      .groupBy("g").agg(count(lit(1)).as("exact_cnt"))
      .withColumn("m", md5(col("g")))
      // distinct-gram-bounded (Zipf); three consumers below (cells,
      // top-k, bucket rows) — materialize the one corpus pass
      .localCheckpoint(true)
    val rows = grams.select(col("g"), col("exact_cnt"),
      explode(array((0 until 3).map(j =>
        struct(lit(j).as("j"), bucketJ(col("m"), j).as("bucket"))): _*)).as("jb"))
      .select(col("g"), col("exact_cnt"),
        col("jb.j").as("j"), col("jb.bucket").as("bucket"))
    val cells = rows.groupBy("j", "bucket").agg(sum("exact_cnt").as("cell"))
    val top = grams.orderBy(desc("exact_cnt"), asc("g")).limit(10)
      .select(col("g").as("tg"), col("exact_cnt"))
    top.join(rows.select(col("g"), col("j"), col("bucket")),
        col("tg") === col("g"))
      .join(cells, Seq("j", "bucket"))
      .groupBy(col("tg").as("gram"), col("exact_cnt"))
      .agg(min("cell").as("est_cnt"))
      .withColumn("tight", (col("est_cnt") === col("exact_cnt")).cast("int"))
      .orderBy(desc("exact_cnt"), asc("gram"))
  }

  // T22b: tokenizer APPLY — the serve half of t22's training: the 8
  // learned merges replayed over every word of every document in merge
  // order, reporting per-doc BPE token counts and the compression the
  // learned vocab buys over character tokenization. The merge table is
  // a bounded driver artifact (8 rows, shared with t22 via the memo);
  // application is a map-only pass — 8 chained literal replaces per
  // word — which is exactly how a trained tokenizer deploys at 100 TB.
  private def t22bBpeApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val merges = t22BpeMerges(spark, dir)
      .select("lhs", "rhs").as[(String, String)].collect()
    // same zero-length guard as bpeMerges: sequence(1,0) descends
    val chars = when(length(col("w")) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))))
    val s0: org.apache.spark.sql.Column =
      concat(lit("_"), array_join(chars, "__"), lit("_"))
    val sMerged = merges.foldLeft(s0) { case (s, (a, b)) =>
      org.apache.spark.sql.functions.replace(s,
        lit(s"_${a}__${b}_"), lit(s"_$a${b}_"))
    }
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("w"))
      .select(col("doc_id"), length(col("w")).as("n_chars"),
        size(split(regexp_replace(sMerged, "^_|_$", ""), "__")).as("n_sym"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("ws_tokens"),
        sum(col("n_chars").cast("long")).as("char_tokens"),
        sum(col("n_sym").cast("long")).as("bpe_tokens"))
      .withColumn("compression",
        round(col("char_tokens").cast("double") / col("bpe_tokens"), 6))
      .orderBy("doc_id")
  }

  // T13: Gopher-style quality-rule flags (Rae et al. 2021 §A1.1 shape):
  // word-count window, mean-word-length window, symbol ratio, stopword
  // evidence — each rule a named 0/1 column plus the conjunction, so a
  // corpus filter can both drop and EXPLAIN the drop. Pure column
  // expressions — codegen'd single scan.
  /** The four Gopher-style rule signals, ONE definition shared by t13
    * (flag columns) and t18's weak label so the distillation target
    * cannot drift from the gate it learns. The stopword list is the
    * distinct union across the language lists: a token shared by two
    * lexicons ('la', 'un') must count once, matching the oracle's
    * single merged list_contains list. */
  private def qualityRuleSignals(t: org.apache.spark.sql.Column) = {
    val nWords = TextAnalysis.tokenCount(t)
    val meanLen = when(nWords === 0, 0.0)
      .otherwise(length(regexp_replace(t, "\\s+", "")).cast("double") / nWords)
    val symbols = length(t) - length(regexp_replace(t, "[^A-Za-z0-9\\s]", ""))
    val symbolRatio = when(length(t) === 0, 0.0)
      .otherwise(symbols.cast("double") / length(t))
    val stopHits = TextAnalysis.stopwordHits(t,
      TextAnalysis.stopwords.values.flatten.toSeq.distinct)
    (nWords, meanLen, symbolRatio, stopHits)
  }

  // T24: the DATASET CARD — the corpus-level report a training-data
  // pipeline publishes with every snapshot: per (lang, source) docs,
  // whitespace-token mass, quality-gate pass count (t13's exact rules),
  // and exact-duplicate count (d1's md5 canonical rule: a doc is a dup
  // iff its hash repeats and it is not the lowest-id holder). One scan
  // computes every per-doc signal, one md5-keyed window marks dups
  // (dup-cluster-bounded partitions), one |lang×source|-row aggregate —
  // at 100 TB the card costs a scan plus a hash shuffle, and it is the
  // artifact dataset consumers cite, so it sits under the same hash
  // gate as the data ops themselves.
  private def t24DatasetCard(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (nWords, meanLen, symbolRatio, stopHits) = qualityRuleSignals(col("text"))
    val per = Tables.documents(spark, dir).select(
      col("doc_id"), col("lang"), col("source"),
      nWords.cast("long").as("n_words"),
      (nWords >= 20 && nWords <= 500 && meanLen >= 3.0 && meanLen <= 10.0 &&
        symbolRatio < 0.1 && stopHits >= 2).cast("long").as("passes"),
      md5(col("text")).as("h"))
    val w = Window.partitionBy("h")
    per
      .withColumn("is_dup",
        (count(lit(1)).over(w) > 1 &&
          col("doc_id") =!= min(col("doc_id")).over(w)).cast("long"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("total_tokens"),
        sum("passes").as("n_quality_pass"),
        sum("is_dup").as("n_exact_dups"))
      .orderBy("lang", "source")
  }

  private def t13QualityRules(spark: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val (nWords, meanLen, symbolRatio, stopHits) = qualityRuleSignals(t)
    Tables.documents(spark, dir).select(
        col("doc_id"), nWords.as("n_words"),
        round(meanLen, 6).as("mean_word_len"),
        round(symbolRatio, 6).as("symbol_ratio"),
        stopHits.as("stop_hits"),
        (nWords >= 20 && nWords <= 500).cast("int").as("flag_word_count"),
        (meanLen >= 3.0 && meanLen <= 10.0).cast("int").as("flag_word_len"),
        (symbolRatio < 0.1).cast("int").as("flag_symbol"),
        (stopHits >= 2).cast("int").as("flag_stopword"))
      .withColumn("passes",
        (col("flag_word_count") === 1 && col("flag_word_len") === 1 &&
          col("flag_symbol") === 1 && col("flag_stopword") === 1).cast("int"))
      .orderBy("doc_id")
  }

  // T14: PII masking — emails then long digit runs replaced by typed
  // placeholders, with per-row mask counts for audit. The contact
  // string is synthesized deterministically from name/key (the slim
  // synthetic CRM lacks raw contact columns); the operator itself —
  // ordered regex masking inside one codegen'd projection — is the
  // 100 TB-real part. Email first: emails contain digit runs, so the
  // reverse order would corrupt the address before it is matched.
  private def t14PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val numRe = "[0-9]{4,}"
    val contact = concat(col("c_name"), lit(" <user"), col("c_custkey"),
      lit("@example.com> ref "), (col("c_custkey") * 7919 + 104729).cast("string"))
    Tables.customer(spark, dir).select(col("c_custkey"), contact.as("contact"))
      .withColumn("n_emails", regexp_count(col("contact"), lit(emailRe)))
      .withColumn("redacted",
        regexp_replace(regexp_replace(col("contact"), emailRe, "[EMAIL]"), numRe, "[NUM]"))
      .withColumn("n_longnums", regexp_count(col("redacted"), lit("\\[NUM\\]")))
      .select("c_custkey", "redacted", "n_emails", "n_longnums")
      .orderBy("c_custkey")
  }

  // D10: benchmark-contamination check — distinct word 8-grams of the
  // held-out benchmark slice (doc_id ≡ 0 mod 10) joined against the
  // training slice's 8-grams; ≥3 shared grams flags the pair. The join
  // key is the md5 of the gram (fixed 32-byte shuffle width, never the
  // text); grams are distinct-ed per doc before the shuffle, so fan-out
  // is bounded by document length, not corpus size.
  /** Contaminated (train_doc, bench_doc, n_shared) pairs — the core of
    * D10, factored so D12 can compose the decontaminated corpus from
    * the same gram pipeline. Memoized per (app, dir) like the other
    * shared kernels (`bpeCache`, `fuzzyPairCache`): d10 and d12 are one
    * report + one enforcement over the SAME pair table, so the
    * gram-hash pipeline — the expensive side — runs once and d12
    * collapses to an anti-join against the checkpointed pairs. */
  private val contaminationCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()
  private def contaminationPairs(spark: SparkSession, dir: String): DataFrame =
    graft.core.AppCache.get(contaminationCache,
      (spark.sparkContext.applicationId, dir)) {
      contaminationPairsPlan(spark, dir).localCheckpoint(true)
    }
  // private[graft]: PlanShapeSpec audits the RAW pipeline plan (the
  // memoized entry above returns a checkpoint-truncated frame)
  private[graft] def contaminationPairsPlan(spark: SparkSession, dir: String): DataFrame = {
    val n = 8
    // spread before the gram-hash map (same single-file trap as
    // bandSignatures): the per-doc 8-gram md5 pipeline is the expensive
    // side and must not run at the file count's parallelism
    val docs = Tables.spreadForMap(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val grams = docs.select(col("doc_id"), explode(array_distinct(
        when(size(col("toks")) >= n,
          transform(sequence(lit(1), size(col("toks")) - (n - 1)), i =>
            md5(concat_ws(" ", slice(col("toks"), i, lit(n))))))
          .otherwise(array().cast("array<string>")))).as("gram"))
    val bench = grams.filter(col("doc_id") % 10 === 0)
      .withColumnRenamed("doc_id", "bench_doc")
    val train = grams.filter(col("doc_id") % 10 =!= 0)
      .withColumnRenamed("doc_id", "train_doc")
    train.join(bench, "gram")
      .groupBy("train_doc", "bench_doc").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 3)
  }

  private def d10Contamination(spark: SparkSession, dir: String): DataFrame =
    contaminationPairs(spark, dir).orderBy("train_doc", "bench_doc")

  // D12: decontamination — the enforcement half of D10's report: drop
  // every training document that shares ≥3 word-8-grams with the
  // held-out benchmark slice, returning the kept train corpus. The
  // anti-join key is doc_id (8 bytes); the expensive side is the same
  // gram-hash pipeline as D10, so at 100 TB this shuffles 32-byte gram
  // hashes and 8-byte ids — never document text.
  private def d12Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val bad = contaminationPairs(spark, dir).select(col("train_doc")).distinct()
    Tables.documents(spark, dir)
      .filter(col("doc_id") % 10 =!= 0)
      .join(bad, col("doc_id") === col("train_doc"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  // T16: domain-mix report — the pretraining data-mixture control op:
  // per-source document/token counts, each source's share of corpus
  // tokens, and the per-document sampling weight that would rebalance
  // the mixture to a uniform target (weight = target_share /
  // actual_share). One groupBy(source) over a map-only token count —
  // the combined totals ride a 1-row broadcast, so the plan is a
  // single metadata-sized shuffle regardless of corpus size.
  private def t16DomainMix(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.documents(spark, dir)
      .select(col("source"), TextAnalysis.tokenCount(col("text")).as("n_toks"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"))
    val tot = agg.agg(
      sum(col("n_tokens")).cast("double").as("tot_tokens"),
      count(lit(1)).cast("double").as("n_sources"))
    agg.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot_tokens"), 6).as("token_share"),
        round((col("tot_tokens") / col("n_sources")) /
          col("n_tokens").cast("double"), 6).as("mix_weight"))
      .orderBy("source")
  }

  // T17: the training-order global shuffle — randomizing document order
  // for training at corpus scale. A hash key assigns each document a
  // shard and a within-shard position: ONE hash exchange on `shard` +
  // a per-shard sort, where a naive ORDER BY rand() would cost a global
  // range sort of the corpus AND be partitioning-dependent (SURVEY §7.4
  // trap 9 — hash-based pseudo-randomness keeps the permutation a pure
  // function of doc_id, replayable by both engines and by tomorrow's
  // re-run). Reading shards round-robin replays the permutation; the
  // shard count is the write parallelism at 100 TB.
  private def t17TrainingOrder(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nShards = 8
    val u = graft.functions.ColFns.pseudoUniform(col("doc_id"), 17L)
    val w = Window.partitionBy("shard").orderBy(col("u").asc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), u.as("u"))
      .withColumn("shard",
        least(lit(nShards - 1), floor(col("u") * nShards)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .select(col("shard"), col("pos"), col("doc_id"), col("n_chars"))
      .orderBy("shard", "pos")
  }

  // T15: internal-repetition rule (the Gopher duplicate-n-gram test
  // applied within a document): fraction of word 3-grams that are
  // repeats of an earlier 3-gram in the same doc. High ratio = looping
  // boilerplate; a standard pretraining drop rule. Map-only column
  // math — no shuffle at all.
  private def t15Repetition(spark: SparkSession, dir: String): DataFrame = {
    val n = 3
    // toks bound as a column: inlined, the split would re-evaluate per
    // slice inside the lambda — O(tokens²) per doc
    val toks = col("toks")
    val grams = when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)), i =>
        concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array().cast("array<string>"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(grams).as("n_grams"),
        size(array_distinct(grams)).as("n_distinct"))
      .withColumn("rep_ratio",
        round(when(col("n_grams") === 0, 0.0)
          .otherwise(lit(1.0) - col("n_distinct").cast("double") / col("n_grams")), 6))
      .withColumn("flag_repetitive", (col("rep_ratio") > 0.2).cast("int"))
      .orderBy("doc_id")
  }

  // ---- corpus-rewrite ops (C4 / RefinedWeb / CCNet / DCLM recipes) ----

  /** Non-overlapping k-word blocks of a tokenized doc as (blk, btext)
    * structs, 1-indexed. Docs shorter than k yield no blocks; the short
    * tail (< k words) is never a block and is kept verbatim by every
    * rewrite op below, so it carries no information for their gates. */
  private[graft] def wordBlocks(toks: org.apache.spark.sql.Column, k: Int) =
    when(size(toks) >= k,
      transform(sequence(lit(1), (size(toks) / k).cast("int")), i =>
        struct(i.as("blk"),
          concat_ws(" ", slice(toks, (i - lit(1)) * k + 1, lit(k))).as("btext"))))
      .otherwise(array().cast("array<struct<blk:int,btext:string>>"))

  // D14: C4-style cross-corpus exact span dedup — "remove any duplicated
  // three-sentence span" (Raffel et al. 2020 §2.2) re-expressed over
  // k=8-word blocks (this corpus has no sentence boundaries). A block's
  // FIRST global occurrence in (doc_id, position) order is kept; every
  // later occurrence is struck from its document. Output is the per-doc
  // audit — block counts plus the md5 of the surviving block stream —
  // so the gate pins the rewrite without shipping 100 TB of cleaned
  // text through the result. Scale shape: one hash exchange partitioned
  // by the block's md5 (a window over one block's occurrence list — the
  // duplication factor, never the corpus), one regroup by doc_id. Block
  // text rides the shuffle because a rewrite op's payload IS text, but
  // each row is bounded at k tokens. Complements d1 (whole-doc exact)
  // and d2/d4 (whole-doc near): this is the sub-document granularity.
  private def d14SpanDedup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 8
    val docs = Tables.documents(spark, dir)
    val blocks = docs
      // bind the token array before wordBlocks' lambda: an inlined
      // split() re-evaluates per slice — O(tokens²/k) per doc
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(wordBlocks(col("toks"), k)).as("b"))
      .select(col("doc_id"), col("b.blk").as("blk"), col("b.btext").as("btext"))
    val w = Window.partitionBy(md5(col("btext"))).orderBy("doc_id", "blk")
    val perDoc = blocks.withColumn("rn", row_number().over(w))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        md5(array_join(transform(
          sort_array(collect_list(when(col("rn") === 1,
            struct(col("blk"), col("btext"))))),
          x => x.getField("btext")), " ")).as("kept_md5"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        round(when(coalesce(col("n_blocks"), lit(0L)) === 0, 0.0)
          .otherwise(lit(1.0) - col("n_kept").cast("double") / col("n_blocks")), 6)
          .as("drop_ratio"),
        coalesce(col("kept_md5"), md5(lit(""))).as("kept_md5"))
      .orderBy("doc_id")
  }

  // T19: boilerplate-span removal — RefinedWeb's "line appears in many
  // documents" rule (Penedo et al. 2023 §3.3) over k=4-word blocks: a
  // block whose text occurs in ≥ 2 DISTINCT documents is boilerplate
  // and struck from EVERY document — first occurrence included;
  // frequency decides, not order (the structural difference from d14).
  // Scale shape: doc-frequency is one groupBy on the block text
  // (Zipf-bounded key space) PRUNED to the df≥2 survivors before the
  // rejoin, so the join's build side is only the boilerplate set —
  // broadcastable in practice, a key-only shuffle in the worst case.
  private def t19BoilerplateSpans(spark: SparkSession, dir: String): DataFrame = {
    val k = 4
    val docs = Tables.documents(spark, dir)
    val blocks = docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(wordBlocks(col("toks"), k)).as("b"))
      .select(col("doc_id"), col("b.blk").as("blk"), col("b.btext").as("btext"))
    val boiler = blocks.groupBy("btext")
      .agg(countDistinct("doc_id").as("dfr"))
      .filter(col("dfr") >= 2)
      .select(col("btext").as("ftext"))
    // no broadcast hint: the df≥2 survivor set grows with the corpus —
    // AQE broadcasts it while it is small and falls back to a key-only
    // shuffle join when it is not
    val perDoc = blocks
      .join(boiler, col("btext") === col("ftext"), "left")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_blocks"),
        sum(when(col("ftext").isNotNull, 1L).otherwise(0L)).as("n_boiler"),
        md5(array_join(transform(
          sort_array(collect_list(when(col("ftext").isNull,
            struct(col("blk"), col("btext"))))),
          x => x.getField("btext")), " ")).as("clean_md5"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        round(when(coalesce(col("n_blocks"), lit(0L)) === 0, 0.0)
          .otherwise(col("n_boiler").cast("double") / col("n_blocks")), 6)
          .as("boiler_ratio"),
        coalesce(col("clean_md5"), md5(lit(""))).as("clean_md5"))
      .orderBy("doc_id")
  }

  // T20: n-gram LM perplexity filter — CCNet's quality signal (Wenzek
  // et al. 2020 §4.3): train an add-one-smoothed bigram LM on the
  // reference half (doc_id ≡ 0 mod 2), score every document's mean
  // negative log-likelihood, and bucket the corpus head/middle/tail at
  // the 33rd/66th percentiles (CCNet keeps "head" for training). Scale
  // shape: the LM tables are token-count aggregates bounded by observed
  // vocabulary (Zipf), broadcast to a map-side scoring join — scoring
  // is a single map-only pass at 100 TB; the exact-percentile cut
  // buffers one double per DOCUMENT in a single aggregate (the a19
  // precedent; approx_percentile is the drop-in at extreme corpus
  // cardinality).
  /** Per-document mean bigram NLL under the even-half LM — t20's score
    * pipeline, factored so t23's curriculum ordering consumes the SAME
    * difficulty signal the filter reports. */
  private def lmDocNll(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val pairs = docs.select(col("doc_id"),
      explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1), i =>
          struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val train = pairs.filter(col("doc_id") % 2 === 0)
    // uni and voc are EXACT functions of the bigram table: c1(w) =
    // Σ_w2 c2(w, w2) (every w1 occurrence is counted by exactly one
    // bigram), and the train vocabulary = distinct(b1 ∪ b2) (groupBy
    // preserves the key set). Deriving them from `big` instead of from
    // `train` cuts the corpus tokenize+explode passes from 4 to 2
    // (big + the scoring join below) and turns two corpus-scale
    // aggregations into vocabulary-bounded ones; the checkpoint makes
    // the shared LM table evaluate once (guide §2.3/§2.4).
    val big = train.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
      .select(col("w1").as("b1"), col("w2").as("b2"), col("c2"))
      .localCheckpoint(true)
    val uni = big.groupBy("b1").agg(sum("c2").as("c1"))
      .select(col("b1").as("u1"), col("c1"))
    val voc = big.select(col("b1").as("w"))
      .union(big.select(col("b2").as("w")))
      .agg(countDistinct("w").as("v"))
    val perDoc = pairs
      // no broadcast hints on the LM tables: observed-bigram counts
      // grow with the training slice until vocab² saturation, so AQE
      // decides (broadcast here; shuffle join at extreme scale — or
      // train on a FIXED reference slice / prune rare bigrams, CCNet's
      // own design, which keeps the artifact broadcastable)
      .join(big, col("w1") === col("b1") && col("w2") === col("b2"), "left")
      .join(uni, col("w1") === col("u1"), "left")
      .crossJoin(broadcast(voc))
      .select(col("doc_id"),
        log((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
          (coalesce(col("c1"), lit(0L)) + col("v"))).as("logp"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        round(-avg(col("logp")), 6).as("nll"))
    perDoc
  }

  /** Head/middle/tail percentile bucket over the rounded NLL, appended
    * to a perDoc frame (consumed twice — cuts + output — with no
    * checkpoint: Spark's shuffle-stage reuse serves the second consumer
    * from the groupBy's map outputs; materializing eagerly only adds a
    * job, measured). */
  private def withNllBucket(perDoc: DataFrame): DataFrame = {
    val cuts = perDoc.agg(
      expr("percentile(nll, array(0.33D, 0.66D))").as("cut"))
    perDoc.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("nll") <= col("cut").getItem(0), "head")
          .when(col("nll") <= col("cut").getItem(1), "middle")
          .otherwise("tail"))
      .drop("cut")
  }

  private def t20LmPerplexity(spark: SparkSession, dir: String): DataFrame =
    withNllBucket(lmDocNll(spark, dir))
      .select(col("doc_id"), col("n_bigrams"), col("nll"),
        round(exp(col("nll")), 6).as("ppl"), col("bucket"))
      .orderBy("doc_id")

  // T23: curriculum ordering — the easy-to-hard training order
  // (Bengio et al. 2009 applied to corpus prep): documents are ranked
  // by LM-difficulty bucket (t20's head < middle < tail), randomized
  // WITHIN a bucket by the t17 hash discipline, and laid out as
  // (bucket, shard, pos) — a reader draining buckets in order, shards
  // round-robin, replays the curriculum identically on any cluster.
  // Scale shape: the only windows are per (bucket, shard) slices; the
  // difficulty signal rides the same LM pipeline as t20 (map-only
  // scoring), so curriculum = one extra shard-keyed exchange over the
  // selection.
  private def t23CurriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nShards = 8
    val ranked = withNllBucket(lmDocNll(spark, dir))
      .withColumn("u", graft.functions.ColFns.pseudoUniform(col("doc_id"), 229L))
      .withColumn("shard",
        floor(graft.functions.ColFns.pseudoUniform(col("doc_id"), 241L) * nShards)
          .cast("int"))
    val w = Window.partitionBy("bucket", "shard")
      .orderBy(col("u").asc, col("doc_id").asc)
    ranked
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .select("doc_id", "bucket", "shard", "pos", "nll")
      .orderBy("doc_id")
  }

  /** T13's composite quality gate as one boolean — the weak label the
    * distilled classifier (t18) trains against; built from the SAME
    * qualityRuleSignals t13 renders as flags. */
  private def qualityWeakLabel(t: org.apache.spark.sql.Column) = {
    val (nWords, meanLen, symbolRatio, stopHits) = qualityRuleSignals(t)
    (nWords >= 20 && nWords <= 500 && meanLen >= 3.0 && meanLen <= 10.0 &&
      symbolRatio < 0.1 && stopHits >= 2).cast("int")
  }

  // T18: distilled quality classifier — the DCLM/FineWeb-edu pattern
  // (a cheap trained model replaces the hand-rule gate at serving
  // time): a multinomial Naive Bayes text classifier trained in closed
  // form on the t13 rule verdicts of the doc_id≡0(2) half, then scoring
  // the WHOLE corpus by summed token log-odds + class prior. Closed-form
  // training keeps it deterministic and fully oracle-mirrorable (no
  // iterative fit). Scale shape: training is one groupBy over (word,
  // label) — vocabulary-bounded; the learned weight table broadcasts to
  // a map-side scoring join, so inference is a single map-only pass at
  // 100 TB (the entire point of distilling the gate).
  /** The distilled-NB model artifacts, trained on the even half: the
    * (word → log-odds) weight table plus the prior and unseen-token
    * default as driver scalars (two bounded 1-row collects — the same
    * numbers the all-Column formulation produced, java.lang.Math.log
    * either way). Shared by t18 (batch scoring) and e12 (the stream
    * gate serving the identical model). */
  // memoized per (app, dir): the model is a pure function of the corpus
  // and serves THREE consumers (t18 batch scoring, e12's stream gate,
  // and e12's oracle-twin spec) — train once, mount everywhere. The
  // doc-level priors fold into the token-level aggregate
  // (countDistinct over doc_id) so setup is ONE job + the weight table.
  private val nbModelCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (DataFrame, Double, Double)]()
  private def nbQualityModel(spark: SparkSession, dir: String)
      : (DataFrame, Double, Double) =
    graft.core.AppCache.get(nbModelCache,
      (spark.sparkContext.applicationId, dir)) {
    val lab = Tables.documents(spark, dir).select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("toks"),
      qualityWeakLabel(col("text")).as("weak_label"))
    val tok = lab.select(col("doc_id"), col("weak_label"),
      explode(col("toks")).as("w"))
    val tr = tok.filter(col("doc_id") % 2 === 0)
    val clsRow = tr.agg(
      sum(when(col("weak_label") === 1, 1L).otherwise(0L)).as("t1"),
      sum(when(col("weak_label") === 0, 1L).otherwise(0L)).as("t0"),
      countDistinct("w").as("v"),
      countDistinct(when(col("weak_label") === 1, col("doc_id"))).as("n1"),
      countDistinct(when(col("weak_label") === 0, col("doc_id"))).as("n0"))
      .head()
    val (t1, t0, v) = (clsRow.getLong(0), clsRow.getLong(1), clsRow.getLong(2))
    val lprior = math.log(clsRow.getLong(3).toDouble / clsRow.getLong(4))
    val defaultLw = math.log((t0 + v).toDouble / (t1 + v))
    val wt = tr.groupBy("w").agg(
        sum(when(col("weak_label") === 1, 1L).otherwise(0L)).as("c1"),
        sum(when(col("weak_label") === 0, 1L).otherwise(0L)).as("c0"))
      .select(col("w").as("ww"),
        (log((col("c1") + lit(1.0)) / lit((t1 + v).toDouble)) -
          log((col("c0") + lit(1.0)) / lit((t0 + v).toDouble))).as("lw"))
      .localCheckpoint(true)
    (wt, lprior, defaultLw)
  }

  private def t18QualityNb(spark: SparkSession, dir: String): DataFrame = {
    val (wt, lprior, defaultLw) = nbQualityModel(spark, dir)
    val lab = Tables.documents(spark, dir).select(col("doc_id"),
      TextAnalysis.tokens(col("text")).as("toks"),
      qualityWeakLabel(col("text")).as("weak_label"))
    val tok = lab.select(col("doc_id"), explode(col("toks")).as("w"))
    val scored = tok.join(broadcast(wt), col("w") === col("ww"), "left")
      .groupBy("doc_id").agg(
        sum(coalesce(col("lw"), lit(defaultLw))).as("s"))
    lab.select(col("doc_id"), size(col("toks")).cast("long").as("n_toks"),
        col("weak_label"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("nb_score", round(lit(lprior) + coalesce(col("s"), lit(0.0)), 6))
      .withColumn("pred_good", (col("nb_score") > 0).cast("int"))
      .withColumn("agree",
        (col("pred_good") === col("weak_label")).cast("int"))
      .select("doc_id", "n_toks", "nb_score", "pred_good", "weak_label", "agree")
      .orderBy("doc_id")
  }

  // R9: split-leakage report — the D7 shape applied to TRAIN/EVAL
  // integrity: after a hash split (90/10), every eval document is
  // checked against the train side's band-signature store; a banded
  // collision that verifies past the Jaccard threshold is LEAKAGE (an
  // eval doc with a near-duplicate in train inflates eval metrics).
  // Candidate generation joins 2 band signatures per doc, never text —
  // the same signature-only shuffle discipline as d7 at 100 TB.
  private def r9SplitLeakage(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ColFns
    def isEval(c: org.apache.spark.sql.Column) =
      ColFns.pseudoUniform(c, 71L) >= 0.9
    val signed = bandSignatures(spark, dir)
    val bands = bandRows(signed)
    val train = bands.filter(!isEval(col("doc_id")))
      .select(col("band"), col("sig"), col("doc_id").as("train_doc"))
    val cand = bands.filter(isEval(col("doc_id"))).join(train, Seq("band", "sig"))
      .select("doc_id", "train_doc").distinct()
    val pairs = cand
      .join(signed.select(col("doc_id"), col("sh").as("sh_a")), "doc_id")
      .join(signed.select(col("doc_id").as("train_doc"), col("sh").as("sh_b")),
        "train_doc")
      .withColumn("n_inter",
        graft.plans.expressions.sorted_intersect_count(col("sh_a"), col("sh_b")))
      .withColumn("j", col("n_inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("n_inter")))
    val per = pairs.groupBy("doc_id").agg(
      count(lit(1)).as("n_candidates"),
      sum(when(col("j") >= 0.1, 1L).otherwise(0L)).as("n_leaks"),
      min(when(col("j") >= 0.1, col("train_doc"))).as("leak_of"))
    Tables.documents(spark, dir).select("doc_id").filter(isEval(col("doc_id")))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_leaks"), lit(0L)).as("n_leaks"),
        coalesce(col("leak_of"), lit(-1L)).as("leak_of"),
        (coalesce(col("n_leaks"), lit(0L)) > 0).cast("int").as("leaked"))
      .orderBy("doc_id")
  }

  // Incremental ANN index maintenance — the d7 pattern applied to the
  // IVF index: the standing index's hash-picked centroids are built
  // from the EXISTING corpus only (vec_id ≢ 0 mod 5); the "new arrival"
  // batch is routed to its nearest list without touching the standing
  // assignments. At 100 TB this is the nightly-ingest path: a
  // broadcast join of the new batch against the nLists-row centroid
  // table — no recluster, no recompare of the corpus.
  private def simIvfIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ColFns
    import org.apache.spark.sql.expressions.Window
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val standing = e.filter(col("vec_id") % 5 =!= 0)
    val arrivals = e.filter(col("vec_id") % 5 === 0)
    // adaptive nlist sized from the STANDING corpus (the index being
    // appended to), mirrored by the oracle's count over the same filter
    val nLists = Similarity.scaleNLists(standing.count())
    val cents = Similarity.hashRankedPick(
      standing.select(col("vec_id").as("cid"), col("v").as("cv")),
      nLists, 13L, "list")
      .select("list", "cv")
    val aw = Window.partitionBy("vec_id").orderBy(col("rank_d").asc, col("list").asc)
    arrivals.crossJoin(broadcast(cents))
      .withColumn("rank_d", round(
        Similarity.dot(col("cv"), col("cv")) -
          lit(2.0) * Similarity.dot(col("v"), col("cv")), 6))
      .withColumn("arn", row_number().over(aw))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("list"), col("rank_d"))
      .orderBy("vec_id")
  }

  // IVF index lifecycle, part 2 (complementing sim_ivf_incremental's
  // ingest routing): BUILD/SERVE split. The build pass constructs the
  // standing index — the nLists hash-picked centroids and the inverted
  // lists (every vector assigned to its nearest centroid, with its
  // norm precomputed) — and PERSISTS both as artifacts. The serve
  // query then answers a probe batch (vec_id ≡ 0 mod 7) against the
  // persisted index ONLY: nProbe-list routing is a broadcast join
  // against the nlist-row centroid artifact, scoring shuffles keyed by
  // list id, and no plan node ever rescans the corpus — the 100 TB
  // serving shape where the index outlives the batch that built it.
  // Both engines recompute routing + scoring from the same parquet.
  /** Hash-pick IVF BUILD (one corpus pass): centroid pick +
    * nearest-list assignment with precomputed norms. All hash-pick
    * lifecycle entries consume ONE build of this via sharedIvfIndex —
    * the production shape (an index is built nightly, served by every
    * query); order-independence comes from the memo, not from
    * per-entry artifact copies (which cost the suite ~7 builds in
    * rounds 8–10). */
  private def buildHashIvf(e: DataFrame, nLists: Int,
                           extraCols: Seq[String] = Nil): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val cents = Similarity.hashRankedPick(
      e.select(col("vec_id").as("cid"), col("v").as("cv")),
      nLists, 13L, "list")
      .select("list", "cv")
    val aw = Window.partitionBy("vec_id").orderBy(col("rank_d").asc, col("list").asc)
    val lists = e.crossJoin(broadcast(cents))
      .withColumn("rank_d",
        Similarity.dot(col("cv"), col("cv")) -
          lit(2.0) * Similarity.dot(col("v"), col("cv")))
      .withColumn("arn", row_number().over(aw))
      .filter(col("arn") === 1)
      .select((Seq(col("list"), col("vec_id"), col("v"),
        Similarity.norm(col("v")).as("nrm")) ++ extraCols.map(col)): _*)
    (cents, lists)
  }

  // THE shared standing index (VERDICT r10 #2): ONE hash-pick IVF build
  // per (app, dir), persisted under the ivf0_* artifact names, consumed
  // READ-ONLY by every hash-pick lifecycle entry (persisted serve,
  // delete-aware serve, compaction's v1, filtered serve) — build once,
  // serve many ways, exactly like production. The label column rides
  // the lists inline so the filtered entry needs no side join; the
  // others ignore it. Order-independence is the memo, not execution
  // order: whichever entry runs first triggers the build, every later
  // one rides it — and the staging entry sim_ann0_ivf_index sorts
  // before all consumers so in a name-ordered suite the build cost
  // lands there, hash-gated on its own.
  private val ivfIndexCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (DataFrame, DataFrame)]()
  private def sharedIvfIndex(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    graft.core.AppCache.get(ivfIndexCache,
      (spark.sparkContext.applicationId, dir)) {
      val e = Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
          col("label"))
      // adaptive nlist (≈√n, floor 16) — same sizing rule and rationale
      // as ivfRanked; the serve oracles read the artifact so only the
      // sim_ann0 build oracle mirrors this count
      val (cents, lists) =
        buildHashIvf(e, Similarity.scaleNLists(e.count()), extraCols = Seq("label"))
      (artifact(spark, dir, "ivf0_centroids", cents),
        artifact(spark, dir, "ivf0_lists", lists))
    }

  // The staging entry's own hash gate: per-list inventory of the
  // persisted index (membership count, exact id sum, norm mass). The
  // oracle recomputes the ENTIRE build relationally from the raw
  // embeddings table — hash-pick centroids, argmin assignment — so a
  // green hash proves the artifact every consumer serves from is
  // exactly the declared function of the corpus.
  private def simIvf0IndexBuild(spark: SparkSession, dir: String): DataFrame = {
    val (_, listA) = sharedIvfIndex(spark, dir)
    listA.groupBy("list")
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("vec_id")).as("id_sum"),
        round(sum(col("nrm")), 4).as("norm_mass"))
      .orderBy("list")
  }

  private def simIvfPersisted(spark: SparkSession, dir: String): DataFrame = {
    val nProbe = 3; val k = 5
    val (centA, listA) = sharedIvfIndex(spark, dir)
    ivfServe(centA, listA, nProbe, k)
  }

  /** Shared serve stage over a persisted IVF index (centroids + inverted
    * lists): probe batch = vec_id ≡ 0 mod 7, nProbe-list routing via a
    * broadcast join against the centroid artifact, scoring shuffles
    * keyed by list id, no plan node rescans the corpus. Both the
    * hash-pick and the KMeans-trained index entries serve through this —
    * and through the SAME relational SQL in their oracles. */
  private def ivfServe(centA: DataFrame, listA: DataFrame,
                       nProbe: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = listA.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("src"), col("v").as("qv"), col("nrm").as("qn"))
    val pw = Window.partitionBy("src").orderBy(col("rank_d").asc, col("list").asc)
    val probes = q.crossJoin(broadcast(centA))
      .withColumn("rank_d",
        Similarity.dot(col("cv"), col("cv")) -
          lit(2.0) * Similarity.dot(col("qv"), col("cv")))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= nProbe)
      .select("src", "qv", "qn", "list")
    val scored = probes.join(listA, Seq("list"))
      .filter(col("src") =!= col("vec_id"))
      .withColumn("cos",
        Similarity.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("src"), col("rn"), col("vec_id").as("dst"),
        round(col("cos"), 6).as("cos"))
      .orderBy("src", "rn")
  }

  // DELETE-AWARE serving over a persisted IVF index — the lifecycle
  // leg after build/serve/ingest/train/filter: a standing index
  // outlives documents that have since been REMOVED (takedowns, TTL,
  // dedup enforcement). Deletions arrive as a tombstone log (here:
  // vec_id ≡ 0 mod 13), never as an index rebuild: serving anti-joins
  // the inverted-list rows against the broadcast tombstone set BEFORE
  // ranking — post-filtering a finished top-k under-fills k, the
  // filtered-ANN trap applied to deletes — and tombstoned ids neither
  // query nor serve. Folding tombstones into the lists artifact is the
  // nightly compaction; this entry is the intervening serve window,
  // which is where production indexes live most of the time.
  private def simIvfDeletes(spark: SparkSession, dir: String): DataFrame = {
    val nProbe = 3; val k = 5
    val (centA, listA) = sharedIvfIndex(spark, dir)
    // the tombstone log is a bounded side table (deletes since the last
    // compaction), broadcast into a LeftAnti against the list scan
    val tomb = listA.select(col("vec_id").as("del_id"))
      .filter(col("del_id") % 13 === 0)
    val live = listA.join(broadcast(tomb),
      col("vec_id") === col("del_id"), "left_anti")
    ivfServe(centA, live, nProbe, k)
  }

  // EXACTLY-ONCE INDEX COMPACTION — the nightly maintenance job
  // sim_ivf_deletes' doc promises: rewrite the inverted lists MINUS the
  // tombstone log, then serve from the compacted artifact with NO
  // delete filter, and prove serve-before ≡ serve-after. Three proofs
  // stack: (1) in-entry, the pre-compaction delete-aware top-k and the
  // post-compaction plain top-k are joined on every column and the
  // result is gated on exact set equality — a lost or resurrected id
  // empties the output; (2) the DuckDB oracle recomputes the serve from
  // the PRE-compaction v1 artifact plus the tombstone rule, so a
  // hash-match proves the rewritten bits are semantically exactly the
  // anti-join; (3) the rewrite itself is one hash partition on `list`
  // (each inverted list lands contiguous in one file run — the s13
  // small-file collapse applied to an index), so at 100 TB compaction
  // is per-list parallel IO with a single key shuffle and serving never
  // pays the per-query anti-join again.
  private def simIvfCompaction(spark: SparkSession, dir: String): DataFrame = {
    val nProbe = 3; val k = 5
    // v1 IS the shared standing index, consumed read-only — compaction
    // writes only its own v2 artifact
    val (centA, listA) = sharedIvfIndex(spark, dir)
    val tomb = listA.select(col("vec_id").as("del_id"))
      .filter(col("del_id") % 13 === 0)
    val live = listA.join(broadcast(tomb),
      col("vec_id") === col("del_id"), "left_anti")
    // the serve window BEFORE the nightly job (sim_ivf_deletes' shape).
    // Both serves are audited by THREE counts below and the returned
    // frame is executed again by the caller — localCheckpoint the
    // top-k results (k·|queries| rows, trivially small) so each serve's
    // scan+rank runs exactly once, not per count.
    val before = ivfServe(centA, live, nProbe, k).localCheckpoint(true)
    // the nightly job: one keyed repartition so every inverted list is
    // a contiguous file run in the v2 artifact, tombstones folded in
    val listB = artifact(spark, dir, "ivf_c_lists_v2",
      live.repartition(4, col("list")))
    // serving AFTER compaction carries no tombstone logic at all
    val after = ivfServe(centA, listB, nProbe, k).localCheckpoint(true)
    // exactly-once gate: identical row SETS or the entry returns empty.
    // The doubles join exactly because v2's rows are byte-identical
    // subsets of v1's (same artifact lineage, same serve math).
    val nBefore = before.count()
    val nAfter = after.count()
    val nJoint = after.join(before, Seq("src", "rn", "dst", "cos")).count()
    after.filter(lit(nBefore) === lit(nJoint) && lit(nAfter) === lit(nJoint))
  }

  // TRAINED-quantizer IVF under the same build/serve artifact split as
  // sim_ivf_persisted: the coarse centroids come from an 8-pass KMeans
  // fit (model-coupled — the fit itself has no SQL mirror, exactly like
  // the m-family fits) instead of the hash pick; everything downstream
  // of the persisted index — nProbe routing, in-list scoring, top-k —
  // is recomputed relationally by both engines from the same parquet
  // bits. Trained centroids balance the inverted lists, which is what
  // bounds the per-list scan cost at 100 TB; SimilaritySpec asserts the
  // trained index's recall against the brute-force ground truth is at
  // least the hash-pick baseline's.
  private def simIvfTrained(spark: SparkSession, dir: String): DataFrame = {
    val nProbe = 3; val k = 5
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // trained k = the same adaptive ≈√n sizing as the hash-pick index,
    // so the trained-vs-baseline recall comparison is like for like
    val nLists = Similarity.scaleNLists(e.count())
    val (cents0, lists0) = Similarity.trainedQuantizer(e, "vec_id", "v", nLists)
    val centA = artifact(spark, dir, "ivf_t_centroids", cents0)
    val listA = artifact(spark, dir, "ivf_t_lists",
      lists0.select(col("list"), col("id").as("vec_id"), col("v"), col("nrm")))
    ivfServe(centA, listA, nProbe, k)
  }

  // ATTRIBUTE-FILTERED ANN over a persisted IVF index: per-query top-k
  // restricted to SAME-LABEL candidates, with the predicate applied
  // INSIDE the inverted-list scan — never to the finished top-k
  // (post-filtering an unfiltered top-k returns < k rows and loses
  // recall; the classic filtered-ANN trap). The label is stored IN the
  // lists artifact (inline metadata), so serving needs no side join:
  // probes meet the broadcast centroid table, then exactly the probed
  // lists' same-label rows rank. Serves from the SHARED ivf0_* index
  // (the label was stored at build time for exactly this entry).
  private def simFilteredIvf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nProbe = 3; val k = 5
    // label rides the SHARED lists artifact as inline metadata
    val (centA, listA) = sharedIvfIndex(spark, dir)
    val q = listA.filter(col("vec_id") % 7 === 0)
      .select(col("vec_id").as("src"), col("v").as("qv"), col("nrm").as("qn"),
        col("label").as("ql"))
    val pw = Window.partitionBy("src").orderBy(col("rank_d").asc, col("list").asc)
    val probes = q.crossJoin(broadcast(centA))
      .withColumn("rank_d",
        Similarity.dot(col("cv"), col("cv")) -
          lit(2.0) * Similarity.dot(col("qv"), col("cv")))
      .withColumn("prn", row_number().over(pw))
      .filter(col("prn") <= nProbe)
      .select("src", "qv", "qn", "ql", "list")
    // the label predicate rides the list join itself: non-matching rows
    // never reach the ranking window
    val scored = probes.join(listA, Seq("list"))
      .filter(col("src") =!= col("vec_id") && col("label") === col("ql"))
      .withColumn("cos",
        Similarity.dot(col("qv"), col("v")) / (col("qn") * col("nrm")))
    val w2 = Window.partitionBy("src").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w2))
      .filter(col("rn") <= k)
      .select(col("src"), col("rn"), col("vec_id").as("dst"), col("label"),
        round(col("cos"), 6).as("cos"))
      .orderBy("src", "rn")
  }

  /** The t13 quality-signal CTE chain (b → m), shared by the t13
    * per-doc oracle and the t24 dataset-card rollup — one text, no
    * drift. m carries doc_id/lang/source/h through for the card. */
  private lazy val qualitySignalsSqlCte: String =
    """b AS (
      |  SELECT doc_id, lang, source, md5(text) AS h,
      |    CASE WHEN len(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_words,
      |    len(text) AS n_char,
      |    len(regexp_replace(text, '\s+', '', 'g')) AS n_nonspace,
      |    len(text) - len(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS n_sym,
      |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |      x -> list_contains(['the','a','and','of','to','in','is','that',
      |        'der','die','das','und','ist','nicht','ein','zu',
      |        'el','la','los','que','de','un','una','es',
      |        'le','les','et','est','une','des'], x))) AS stop_hits
      |  FROM documents),
      |m AS (
      |  SELECT doc_id, lang, source, h, n_words,
      |    CASE WHEN n_words = 0 THEN 0.0
      |         ELSE CAST(n_nonspace AS DOUBLE) / n_words END AS mean_word_len,
      |    CASE WHEN n_char = 0 THEN 0.0
      |         ELSE CAST(n_sym AS DOUBLE) / n_char END AS symbol_ratio,
      |    stop_hits
      |  FROM b)""".stripMargin

  // min-VARCHAR-label propagation unrolled 16 rounds over the
  // undirected near-dup pair graph (same technique as the CC oracle in
  // GraphML; MATERIALIZED stops exponential CTE inlining). Near-dup
  // clusters are shallow — 16 rounds carries a wide margin over the
  // observed diameter. Shared by the d6 and d11 oracles.
  private lazy val clusterCteSql: String = {
    val dotAB = Similarity.dotSql("a.embedding", "b.embedding", DIM)
    val steps = (1 to 16).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT p.id, least(p.lbl, coalesce(m.minn, p.lbl)) AS lbl
         |  FROM l${i - 1} p LEFT JOIN (
         |    SELECT u.dst AS id, min(q.lbl) AS minn
         |    FROM und u JOIN l${i - 1} q ON q.id = u.src
         |    GROUP BY u.dst) m ON m.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""n AS (SELECT vec_id, embedding,
       |       sqrt(${Similarity.dotSql("embedding", "embedding", DIM)}) AS nrm
       |      FROM embeddings),
       |pairs AS MATERIALIZED (
       |  SELECT CAST(a.vec_id AS VARCHAR) AS src, CAST(b.vec_id AS VARCHAR) AS dst
       |  FROM n a JOIN n b ON a.vec_id < b.vec_id
       |  WHERE $dotAB / (a.nrm * b.nrm) >= 0.4),
       |und AS MATERIALIZED (
       |  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
       |verts AS (SELECT DISTINCT src AS id FROM und),
       |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM verts),
       |$steps""".stripMargin
  }

  // persisted-artifact plumbing — one shared definition of the path
  // scheme (graft.core.Artifacts) keeps this catalog's writes and its
  // oracles' reads in lockstep with the m-family twins'
  private def artifact(spark: SparkSession, dir: String, name: String,
                       df: DataFrame): DataFrame =
    graft.core.Artifacts.write(spark, dir, name, df)
  private def artifactSql(name: String): String = graft.core.Artifacts.sql(name)

  // ---- oracles ----

  private val shingleCte =
    """sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      generate_series(1, greatest(len(norm) - 4, 1)),
      |      i -> substr(norm, i, 5))) AS sh
      |  FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      |        FROM documents))""".stripMargin

  // pre-hashed shingles (one md5 each; signature components slice it)
  private val hashedShingleCte =
    s"""$shingleCte,
       |hsh AS (SELECT doc_id, list_transform(sh, s -> md5(s)) AS hs FROM sh)""".stripMargin

  private def minhashSql(j: Int): String =
    s"list_min(list_transform(hs, h -> substr(h, ${j * 8 + 1}, 8)))"

  private val langHitCols: String = {
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    langs.map { l =>
      val words = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(toks, x -> list_contains($words, x))) AS h_$l"
    }.mkString(", ")
  }

  private val langArgmax: String = {
    val langs = TextAnalysis.stopwords.keys.toSeq.sorted
    val hits = langs.map(l => s"h_$l").mkString(", ")
    val chain = langs.map(l => s"WHEN h_$l = greatest($hits) THEN '$l'").mkString(" ")
    s"CASE WHEN greatest($hits) = 0 THEN 'und' $chain END"
  }

  /** t22's 8 learned-merge rounds as CTE text (v0 word-frequency table
    * + per-round l/p/t/v chain) — shared by the t22 oracle (reads the
    * t_i argmaxes) and t22b's (replays the merges over the corpus). */
  private def bpeStepsSql: String = {
    def stepCte(i: Int): String =
      s"""l$i AS MATERIALIZED (
         |  SELECT freq,
         |    string_split(regexp_replace(s, '^_|_${"$"}', '', 'g'), '__') AS l
         |  FROM v${i - 1}),
         |p$i AS MATERIALIZED (
         |  SELECT l[j] AS a, l[j+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM l$i, unnest(generate_series(1, len(l) - 1)) AS g(j)
         |  GROUP BY 1, 2),
         |t$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i
         |        ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
         |v$i AS MATERIALIZED (
         |  SELECT freq, replace(s,
         |    '_' || (SELECT a FROM t$i) || '__' || (SELECT b FROM t$i) || '_',
         |    '_' || (SELECT a FROM t$i) || (SELECT b FROM t$i) || '_') AS s
         |  FROM v${i - 1})""".stripMargin
    val steps = (1 to 8).map(stepCte).mkString(",\n")
    s"""toks AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |  FROM documents),
       |v0 AS MATERIALIZED (
       |  SELECT CAST(count(*) AS BIGINT) AS freq,
       |    '_' || array_to_string(list_transform(
       |      generate_series(1, len(w)), i -> substring(w, i, 1)), '__') || '_'
       |      AS s
       |  FROM toks GROUP BY w),
       |$steps""".stripMargin
  }

  /** The NB quality model's DuckDB replay (train on the even half,
    * score per doc) up to the `perdoc` CTE, parameterized on the final
    * SELECT — t18 reads the whole corpus verdict, e12 the arrival
    * slice's admission log. ONE training/scoring definition so the
    * stream gate provably serves the batch model. */
  private def nbQualityOracle(finalSelect: String): String = {
    val stops = TextAnalysis.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH lab AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks,
       |    CAST((CASE WHEN len(trim(text)) = 0 THEN 0
       |          ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)
       |        BETWEEN 20 AND 500
       |      AND (CASE WHEN len(trim(text)) = 0 THEN 0.0
       |           ELSE CAST(len(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) /
       |             len(regexp_split_to_array(trim(text), '\\s+')) END)
       |        BETWEEN 3.0 AND 10.0
       |      AND (CASE WHEN len(text) = 0 THEN 0.0
       |           ELSE CAST(len(text) -
       |             len(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |             / len(text) END) < 0.1
       |      AND len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |            x -> list_contains($stops, x))) >= 2 AS INT) AS weak_label
       |  FROM documents),
       |tok AS (SELECT doc_id, weak_label, unnest(toks) AS w FROM lab),
       |tr AS (SELECT * FROM tok WHERE doc_id % 2 = 0),
       |cls AS (
       |  SELECT CAST(sum(CASE WHEN weak_label = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS t1,
       |    CAST(sum(CASE WHEN weak_label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS t0,
       |    CAST(count(DISTINCT w) AS BIGINT) AS v
       |  FROM tr),
       |prior AS (
       |  SELECT ln(sum(CASE WHEN weak_label = 1 THEN 1.0 ELSE 0 END) /
       |            sum(CASE WHEN weak_label = 0 THEN 1.0 ELSE 0 END)) AS lprior
       |  FROM lab WHERE doc_id % 2 = 0),
       |wt AS (
       |  SELECT w, ln((c1 + 1.0) / (t1 + v)) - ln((c0 + 1.0) / (t0 + v)) AS lw
       |  FROM (SELECT w,
       |          CAST(sum(CASE WHEN weak_label = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |            AS c1,
       |          CAST(sum(CASE WHEN weak_label = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |            AS c0
       |        FROM tr GROUP BY w) CROSS JOIN cls),
       |scored AS (
       |  SELECT t.doc_id,
       |    sum(coalesce(wt.lw, ln((c.t0 + c.v) * 1.0 / (c.t1 + c.v)))) AS s
       |  FROM tok t LEFT JOIN wt ON t.w = wt.w CROSS JOIN cls c
       |  GROUP BY t.doc_id),
       |perdoc AS (
       |  SELECT l.doc_id, CAST(len(l.toks) AS BIGINT) AS n_toks,
       |    round(p.lprior + coalesce(s.s, 0.0), 6) AS nb_score, l.weak_label
       |  FROM lab l LEFT JOIN scored s USING (doc_id) CROSS JOIN prior p)
       |$finalSelect""".stripMargin
  }

  val entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("sim_ann0_ivf_index", simIvf0IndexBuild,
      "the ONE shared IVF index build; oracle recomputes the build relationally",
      Some {
        // the build recomputed END-TO-END from the raw embeddings table:
        // hash-pick centroids (same pseudo-uniform, same tie-break),
        // argmin assignment, per-list inventory — a hash match proves the
        // persisted ivf0_* artifacts ARE the declared function of the
        // corpus, which is what lets every consumer read them blindly
        import graft.functions.ColFns
        val u = ColFns.pseudoUniformSql("vec_id", 13L)
        val cc = Similarity.dotSql("c.cv", "c.cv", DIM)
        val vc = Similarity.dotSql("e.v", "c.cv", DIM)
        val nn = Similarity.dotSql("e.v", "e.v", DIM)
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |cents AS (
           |  SELECT list, cv FROM (
           |    SELECT v AS cv,
           |      row_number() OVER (ORDER BY $u ASC, vec_id ASC) AS list
           |    FROM e)
           |  WHERE list <= ${Similarity.scaleNListsSql("e")}),
           |ranked AS (
           |  SELECT e.vec_id, c.list, ($cc - 2.0 * $vc) AS rank_d,
           |         sqrt($nn) AS nrm
           |  FROM e CROSS JOIN cents c),
           |assigned AS (SELECT * FROM (
           |    SELECT *, row_number() OVER (PARTITION BY vec_id
           |      ORDER BY rank_d ASC, list ASC) AS arn FROM ranked)
           |  WHERE arn = 1)
           |SELECT list, count(*) AS n_vectors,
           |  CAST(sum(vec_id) AS BIGINT) AS id_sum,
           |  round(sum(nrm), 4) AS norm_mass
           |FROM assigned GROUP BY list ORDER BY list""".stripMargin
      }),
    CatalogEntry("sim_ivf_persisted", simIvfPersisted,
      "ANN served from the persisted shared index artifact",
      Some {
        val cc = Similarity.dotSql("c.cv", "c.cv", DIM)
        val qc = Similarity.dotSql("q.qv", "c.cv", DIM)
        val qd = Similarity.dotSql("p.qv", "l.v", DIM)
        s"""WITH cents AS (SELECT list, cv FROM ${artifactSql("ivf0_centroids")}),
           |lists AS (SELECT list, vec_id, v, nrm FROM ${artifactSql("ivf0_lists")}),
           |q AS (SELECT vec_id AS src, v AS qv, nrm AS qn FROM lists WHERE vec_id % 7 = 0),
           |pr AS (
           |  SELECT q.src, q.qv, q.qn, c.list, ($cc - 2.0 * $qc) AS rank_d
           |  FROM q CROSS JOIN cents c),
           |probes AS (SELECT * FROM (
           |    SELECT pr.*, row_number() OVER (PARTITION BY src
           |      ORDER BY rank_d ASC, list ASC) AS prn FROM pr)
           |  WHERE prn <= 3),
           |scored AS (
           |  SELECT p.src, l.vec_id AS dst, $qd / (p.qn * l.nrm) AS cos
           |  FROM probes p JOIN lists l USING (list) WHERE p.src <> l.vec_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY src
           |        ORDER BY cos DESC, dst ASC) AS rn FROM scored)
           |SELECT src, rn, dst, round(cos, 6) AS cos FROM r WHERE rn <= 5
           |ORDER BY src, rn""".stripMargin
      }),
    CatalogEntry("sim_ivf_deletes", simIvfDeletes,
      "tombstone anti-join BEFORE ranking",
      Some {
        // the persisted-serve oracle with the tombstone rule applied to
        // the LIST rows (deleted ids neither query nor serve)
        val cc = Similarity.dotSql("c.cv", "c.cv", DIM)
        val qc = Similarity.dotSql("q.qv", "c.cv", DIM)
        val qd = Similarity.dotSql("p.qv", "l.v", DIM)
        s"""WITH cents AS (SELECT list, cv FROM ${artifactSql("ivf0_centroids")}),
           |lists AS (SELECT list, vec_id, v, nrm FROM ${artifactSql("ivf0_lists")}
           |          WHERE vec_id % 13 <> 0),
           |q AS (SELECT vec_id AS src, v AS qv, nrm AS qn FROM lists WHERE vec_id % 7 = 0),
           |pr AS (
           |  SELECT q.src, q.qv, q.qn, c.list, ($cc - 2.0 * $qc) AS rank_d
           |  FROM q CROSS JOIN cents c),
           |probes AS (SELECT * FROM (
           |    SELECT pr.*, row_number() OVER (PARTITION BY src
           |      ORDER BY rank_d ASC, list ASC) AS prn FROM pr)
           |  WHERE prn <= 3),
           |scored AS (
           |  SELECT p.src, l.vec_id AS dst, $qd / (p.qn * l.nrm) AS cos
           |  FROM probes p JOIN lists l USING (list) WHERE p.src <> l.vec_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY src
           |        ORDER BY cos DESC, dst ASC) AS rn FROM scored)
           |SELECT src, rn, dst, round(cos, 6) AS cos FROM r WHERE rn <= 5
           |ORDER BY src, rn""".stripMargin
      }),
    CatalogEntry("sim_ivf_compaction", simIvfCompaction,
      "exactly-once index compaction, reader-invisible",
      Some {
        // deliberately reads the PRE-compaction v1 lists plus the
        // tombstone rule — the Spark side serves from the compacted v2
        // with no delete logic, so a hash match IS the proof that the
        // nightly rewrite dropped exactly the tombstoned rows
        val cc = Similarity.dotSql("c.cv", "c.cv", DIM)
        val qc = Similarity.dotSql("q.qv", "c.cv", DIM)
        val qd = Similarity.dotSql("p.qv", "l.v", DIM)
        s"""WITH cents AS (SELECT list, cv FROM ${artifactSql("ivf0_centroids")}),
           |lists AS (SELECT list, vec_id, v, nrm FROM ${artifactSql("ivf0_lists")}
           |          WHERE vec_id % 13 <> 0),
           |q AS (SELECT vec_id AS src, v AS qv, nrm AS qn FROM lists WHERE vec_id % 7 = 0),
           |pr AS (
           |  SELECT q.src, q.qv, q.qn, c.list, ($cc - 2.0 * $qc) AS rank_d
           |  FROM q CROSS JOIN cents c),
           |probes AS (SELECT * FROM (
           |    SELECT pr.*, row_number() OVER (PARTITION BY src
           |      ORDER BY rank_d ASC, list ASC) AS prn FROM pr)
           |  WHERE prn <= 3),
           |scored AS (
           |  SELECT p.src, l.vec_id AS dst, $qd / (p.qn * l.nrm) AS cos
           |  FROM probes p JOIN lists l USING (list) WHERE p.src <> l.vec_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY src
           |        ORDER BY cos DESC, dst ASC) AS rn FROM scored)
           |SELECT src, rn, dst, round(cos, 6) AS cos FROM r WHERE rn <= 5
           |ORDER BY src, rn""".stripMargin
      }),
    CatalogEntry("sim_ivf_trained", simIvfTrained,
      "k-means-trained IVF centroids",
      Some {
        val cc = Similarity.dotSql("c.cv", "c.cv", DIM)
        val qc = Similarity.dotSql("q.qv", "c.cv", DIM)
        val qd = Similarity.dotSql("p.qv", "l.v", DIM)
        s"""WITH cents AS (SELECT list, cv FROM ${artifactSql("ivf_t_centroids")}),
           |lists AS (SELECT list, vec_id, v, nrm FROM ${artifactSql("ivf_t_lists")}),
           |q AS (SELECT vec_id AS src, v AS qv, nrm AS qn FROM lists WHERE vec_id % 7 = 0),
           |pr AS (
           |  SELECT q.src, q.qv, q.qn, c.list, ($cc - 2.0 * $qc) AS rank_d
           |  FROM q CROSS JOIN cents c),
           |probes AS (SELECT * FROM (
           |    SELECT pr.*, row_number() OVER (PARTITION BY src
           |      ORDER BY rank_d ASC, list ASC) AS prn FROM pr)
           |  WHERE prn <= 3),
           |scored AS (
           |  SELECT p.src, l.vec_id AS dst, $qd / (p.qn * l.nrm) AS cos
           |  FROM probes p JOIN lists l USING (list) WHERE p.src <> l.vec_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY src
           |        ORDER BY cos DESC, dst ASC) AS rn FROM scored)
           |SELECT src, rn, dst, round(cos, 6) AS cos FROM r WHERE rn <= 5
           |ORDER BY src, rn""".stripMargin
      }),
    CatalogEntry("sim_filtered_ivf", simFilteredIvf,
      "filtered ANN: predicate applied before ranking",
      Some {
        val cc = Similarity.dotSql("c.cv", "c.cv", DIM)
        val qc = Similarity.dotSql("q.qv", "c.cv", DIM)
        val qd = Similarity.dotSql("p.qv", "l.v", DIM)
        s"""WITH cents AS (SELECT list, cv FROM ${artifactSql("ivf0_centroids")}),
           |lists AS (SELECT list, vec_id, v, nrm, label
           |          FROM ${artifactSql("ivf0_lists")}),
           |q AS (SELECT vec_id AS src, v AS qv, nrm AS qn, label AS ql
           |      FROM lists WHERE vec_id % 7 = 0),
           |pr AS (
           |  SELECT q.src, q.qv, q.qn, q.ql, c.list, ($cc - 2.0 * $qc) AS rank_d
           |  FROM q CROSS JOIN cents c),
           |probes AS (SELECT * FROM (
           |    SELECT pr.*, row_number() OVER (PARTITION BY src
           |      ORDER BY rank_d ASC, list ASC) AS prn FROM pr)
           |  WHERE prn <= 3),
           |scored AS (
           |  SELECT p.src, l.vec_id AS dst, l.label, $qd / (p.qn * l.nrm) AS cos
           |  FROM probes p JOIN lists l USING (list)
           |  WHERE p.src <> l.vec_id AND l.label = p.ql),
           |r AS (SELECT *, row_number() OVER (PARTITION BY src
           |        ORDER BY cos DESC, dst ASC) AS rn FROM scored)
           |SELECT src, rn, dst, label, round(cos, 6) AS cos FROM r WHERE rn <= 5
           |ORDER BY src, rn""".stripMargin
      }),
    CatalogEntry("d1_exact_dedup", d1ExactDedup,
      "exact dedup via content-hash groupBy",
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin)),
    CatalogEntry("d2_minhash_lsh", d2MinhashLsh,
      "MinHash + banded LSH near-duplicate candidates",
      Some(s"""WITH $hashedShingleCte,
         |signed AS (
         |  SELECT doc_id AS doc,
         |    concat_ws('_', ${minhashSql(0)}, ${minhashSql(1)}) AS band_0,
         |    concat_ws('_', ${minhashSql(2)}, ${minhashSql(3)}) AS band_1
         |  FROM hsh),
         |bands AS (
         |  SELECT 0 AS band, band_0 AS sig, doc FROM signed
         |  UNION ALL
         |  SELECT 1, band_1, doc FROM signed)
         |SELECT DISTINCT a.band AS band, a.sig AS sig, a.doc AS doc_a, b.doc AS doc_b
         |FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc < b.doc
         |ORDER BY 1, 2, 3, 4""".stripMargin)),
    CatalogEntry("d3_simhash", d3Simhash,
      "SimHash hamming-band near-duplicates",
      Some {
        val bitTerms = (0 until 16).map { i =>
          s"""(CASE WHEN list_sum(list_transform(toks, t ->
             |  CASE WHEN substr(md5(t), ${i + 1}, 1) IN ('1','3','5','7','9','b','d','f')
             |       THEN 1 ELSE -1 END)) > 0 THEN ${1L << i} ELSE 0 END)""".stripMargin
        }.mkString(" + ")
        s"""WITH t AS (
           |  SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')) AS toks
           |  FROM documents)
           |SELECT doc_id, ($bitTerms) AS simhash FROM t ORDER BY doc_id""".stripMargin
      }),
    CatalogEntry("d4_ngram_jaccard", d4NgramJaccard,
      "n-gram Jaccard candidate verification",
      Some(s"""WITH $shingleCte,
         |base AS (SELECT s.doc_id AS doc, d.n_chars AS bucket, s.sh
         |         FROM sh s JOIN documents d ON s.doc_id = d.doc_id),
         |sizes AS (SELECT doc, bucket, len(sh) AS n_sh FROM base),
         |ex AS (SELECT doc, bucket, unnest(sh) AS s FROM base),
         |inter AS (
         |  SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_inter
         |  FROM ex a JOIN ex b ON a.bucket = b.bucket AND a.s = b.s AND a.doc < b.doc
         |  GROUP BY a.doc, b.doc)
         |SELECT doc_a, doc_b, n_inter,
         |  round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc = doc_a
         |JOIN sizes sb ON sb.doc = doc_b
         |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.1
         |ORDER BY doc_a, doc_b""".stripMargin)),
    CatalogEntry("d5_embedding_neardup", d5EmbeddingNearDup,
      "embedding-cosine near-duplicates",
      Some {
        val dotAB = Similarity.dotSql("a.embedding", "b.embedding", DIM)
        s"""WITH n AS (SELECT vec_id, embedding,
           |            sqrt(${Similarity.dotSql("embedding", "embedding", DIM)}) AS nrm
           |           FROM embeddings)
           |SELECT a.vec_id AS src, b.vec_id AS dst,
           |  round($dotAB / (a.nrm * b.nrm), 6) AS cos
           |FROM n a JOIN n b ON a.vec_id < b.vec_id
           |WHERE $dotAB / (a.nrm * b.nrm) >= 0.4
           |ORDER BY src, dst""".stripMargin
      }),
    CatalogEntry("d13_semantic_dedup", d13SemanticDedup,
      "semantic dedup bounded by trained IVF cells",
      Some(Similarity.ivfNearDupPairsSql("embeddings", "vec_id", "embedding", DIM,
        minCos = 0.4, nListsSql = Similarity.scaleNListsSql("embeddings"),
        nProbe = 2))),
    CatalogEntry("d6_dedup_clusters", d6DedupClusters,
      "connected duplicate clusters with a canonical doc",
      Some(s"""WITH $clusterCteSql
         |SELECT e.vec_id,
         |  coalesce(l16.lbl, CAST(e.vec_id AS VARCHAR)) AS canonical,
         |  CAST(CAST(e.vec_id AS VARCHAR) = coalesce(l16.lbl, CAST(e.vec_id AS VARCHAR))
         |       AS INTEGER) AS kept
         |FROM embeddings e LEFT JOIN l16 ON l16.id = CAST(e.vec_id AS VARCHAR)
         |ORDER BY e.vec_id""".stripMargin)),
    CatalogEntry("r10_cluster_split", r10ClusterSplit,
      "cluster-aware split: near-dups never straddle train/eval",
      Some {
        val u = graft.functions.ColFns.pseudoUniformSql(
          "CAST(canonical AS BIGINT)", 83L)
        s"""WITH $clusterCteSql,
           |m AS (
           |  SELECT e.vec_id,
           |    coalesce(l16.lbl, CAST(e.vec_id AS VARCHAR)) AS canonical
           |  FROM embeddings e LEFT JOIN l16 ON l16.id = CAST(e.vec_id AS VARCHAR))
           |SELECT vec_id, canonical,
           |  CAST($u >= 0.9 AS INT) AS is_eval
           |FROM m ORDER BY vec_id""".stripMargin
      }),
    CatalogEntry("d11_quality_dedup", d11QualityDedup,
      "quality-aware keep-best dedup",
      Some(s"""WITH $clusterCteSql,
         |m AS (
         |  SELECT e.vec_id,
         |    coalesce(l16.lbl, CAST(e.vec_id AS VARCHAR)) AS canonical
         |  FROM embeddings e LEFT JOIN l16 ON l16.id = CAST(e.vec_id AS VARCHAR)),
         |q AS (SELECT doc_id,
         |        CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT) AS quality
         |      FROM documents)
         |SELECT m.vec_id, m.canonical, q.quality,
         |  CAST(row_number() OVER (PARTITION BY m.canonical
         |    ORDER BY q.quality DESC, m.vec_id ASC) = 1 AS INT) AS kept_best
         |FROM m JOIN q ON q.doc_id = m.vec_id
         |ORDER BY m.vec_id""".stripMargin)),
    CatalogEntry("d7_incremental_dedup", d7IncrementalDedup,
      "incremental dedup against the prior accepted set",
      Some(s"""WITH $hashedShingleCte,
         |signed AS (
         |  SELECT s.doc_id, s.sh,
         |    concat_ws('_', ${minhashSql(0)}, ${minhashSql(1)}) AS band_0,
         |    concat_ws('_', ${minhashSql(2)}, ${minhashSql(3)}) AS band_1
         |  FROM sh s JOIN hsh h ON s.doc_id = h.doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, band_0 AS sig FROM signed
         |  UNION ALL
         |  SELECT doc_id, 1, band_1 FROM signed),
         |cand AS (
         |  SELECT DISTINCT i.doc_id, s.doc_id AS store_doc
         |  FROM bands i JOIN bands s ON i.band = s.band AND i.sig = s.sig
         |  WHERE i.doc_id % 3 = 0 AND s.doc_id % 3 <> 0),
         |pairs AS (
         |  SELECT c.doc_id, c.store_doc,
         |    len(list_intersect(a.sh, b.sh)) AS n_inter,
         |    len(a.sh) AS na, len(b.sh) AS nb
         |  FROM cand c
         |  JOIN signed a ON a.doc_id = c.doc_id
         |  JOIN signed b ON b.doc_id = c.store_doc),
         |per AS (
         |  SELECT doc_id, count(*) AS n_candidates,
         |    CAST(sum(CASE WHEN CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.1
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         |    min(CASE WHEN CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.1
         |        THEN store_doc END) AS dup_of
         |  FROM pairs GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(p.n_candidates, 0) AS n_candidates,
         |  coalesce(p.n_dups, 0) AS n_dups, coalesce(p.dup_of, -1) AS dup_of
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |WHERE d.doc_id % 3 = 0 ORDER BY d.doc_id""".stripMargin)),
    CatalogEntry("r9_split_leakage", r9SplitLeakage,
      "train/eval split leakage audit over dup clusters",
      Some {
        import graft.functions.ColFns
        def ev(e: String) = s"${ColFns.pseudoUniformSql(e, 71L)} >= 0.9"
        s"""WITH $hashedShingleCte,
           |signed AS (
           |  SELECT s.doc_id, s.sh,
           |    concat_ws('_', ${minhashSql(0)}, ${minhashSql(1)}) AS band_0,
           |    concat_ws('_', ${minhashSql(2)}, ${minhashSql(3)}) AS band_1
           |  FROM sh s JOIN hsh h ON s.doc_id = h.doc_id),
           |bands AS (
           |  SELECT doc_id, 0 AS band, band_0 AS sig FROM signed
           |  UNION ALL
           |  SELECT doc_id, 1, band_1 FROM signed),
           |cand AS (
           |  SELECT DISTINCT i.doc_id, s.doc_id AS train_doc
           |  FROM bands i JOIN bands s ON i.band = s.band AND i.sig = s.sig
           |  WHERE ${ev("i.doc_id")} AND NOT (${ev("s.doc_id")})),
           |pairs AS (
           |  SELECT c.doc_id, c.train_doc,
           |    len(list_intersect(a.sh, b.sh)) AS n_inter,
           |    len(a.sh) AS na, len(b.sh) AS nb
           |  FROM cand c
           |  JOIN signed a ON a.doc_id = c.doc_id
           |  JOIN signed b ON b.doc_id = c.train_doc),
           |per AS (
           |  SELECT doc_id, count(*) AS n_candidates,
           |    CAST(sum(CASE WHEN CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.1
           |             THEN 1 ELSE 0 END) AS BIGINT) AS n_leaks,
           |    min(CASE WHEN CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.1
           |        THEN train_doc END) AS leak_of
           |  FROM pairs GROUP BY doc_id)
           |SELECT d.doc_id, coalesce(p.n_candidates, 0) AS n_candidates,
           |  coalesce(p.n_leaks, 0) AS n_leaks, coalesce(p.leak_of, -1) AS leak_of,
           |  CAST(coalesce(p.n_leaks, 0) > 0 AS INT) AS leaked
           |FROM documents d LEFT JOIN per p USING (doc_id)
           |WHERE ${ev("d.doc_id")} ORDER BY d.doc_id""".stripMargin
      }),
    CatalogEntry("d8_fuzzy_match", d8FuzzyMatch,
      "blocked fuzzy entity matching (block-bounded pair work)",
      Some("""WITH a AS (
        |  SELECT c_custkey AS id_a, c_name AS name_a, right(c_name, 2) AS blk
        |  FROM customer),
        |b AS (
        |  SELECT c_custkey AS id_b, c_name AS name_b, right(c_name, 2) AS blk
        |  FROM customer)
        |SELECT id_a, id_b, CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
        |FROM a JOIN b USING (blk)
        |WHERE id_a < id_b AND levenshtein(name_a, name_b) <= 2
        |ORDER BY id_a, id_b""".stripMargin)),
    CatalogEntry("d9_entity_clusters", d9EntityClusters,
      "entity resolution clusters",
      Some {
        // min-VARCHAR-label propagation unrolled over the fuzzy-pair graph
        // (components are bounded by the d8 block, so 16 rounds carries a
        // wide margin over the component diameter)
        val steps = (1 to 16).map { i =>
          s"""l$i AS MATERIALIZED (
             |  SELECT p.id, least(p.lbl, coalesce(m.minn, p.lbl)) AS lbl
             |  FROM l${i - 1} p LEFT JOIN (
             |    SELECT u.dst AS id, min(q.lbl) AS minn
             |    FROM und u JOIN l${i - 1} q ON q.id = u.src
             |    GROUP BY u.dst) m ON m.id = p.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH a AS (
           |  SELECT c_custkey AS id_a, c_name AS name_a, right(c_name, 2) AS blk
           |  FROM customer),
           |b AS (
           |  SELECT c_custkey AS id_b, c_name AS name_b, right(c_name, 2) AS blk
           |  FROM customer),
           |pairs AS (
           |  SELECT CAST(id_a AS VARCHAR) AS src, CAST(id_b AS VARCHAR) AS dst
           |  FROM a JOIN b USING (blk)
           |  WHERE id_a < id_b AND levenshtein(name_a, name_b) <= 2),
           |und AS MATERIALIZED (
           |  SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
           |verts AS (SELECT DISTINCT src AS id FROM und),
           |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM verts),
           |$steps
           |SELECT c.c_custkey,
           |  coalesce(l16.lbl, CAST(c.c_custkey AS VARCHAR)) AS entity,
           |  CAST(CAST(c.c_custkey AS VARCHAR) =
           |    coalesce(l16.lbl, CAST(c.c_custkey AS VARCHAR)) AS INTEGER) AS is_canonical
           |FROM customer c LEFT JOIN l16 ON l16.id = CAST(c.c_custkey AS VARCHAR)
           |ORDER BY c.c_custkey""".stripMargin
      }),
    CatalogEntry("j7_knn_topk", simBruteTopK,
      "exact brute-force cosine top-k KNN join (the ANN family's truth)",
      Some {
        val dotAB = Similarity.dotSql("a.embedding", "b.embedding", DIM)
        s"""WITH n AS (SELECT vec_id, embedding,
           |            sqrt(${Similarity.dotSql("embedding", "embedding", DIM)}) AS nrm
           |           FROM embeddings),
           |scored AS (
           |  SELECT a.vec_id AS src, b.vec_id AS dst, $dotAB / (a.nrm * b.nrm) AS cos
           |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
           |      FROM scored)
           |SELECT src, rn, dst, round(cos, 6) AS cos FROM r WHERE rn <= 5 ORDER BY src, rn""".stripMargin
      }),
    CatalogEntry("sim_lsh_topk", simLshTopK,
      "LSH-bucketed ANN top-k",
      Some {
        val bucket = Similarity.lshBucketSqlDynamic("embedding", DIM,
          Similarity.scaleNPlanesSql("embeddings"))
        val dotAB = Similarity.dotSql("a.embedding", "b.embedding", DIM)
        s"""WITH n AS (SELECT vec_id, embedding, $bucket AS bucket,
           |            sqrt(${Similarity.dotSql("embedding", "embedding", DIM)}) AS nrm
           |           FROM embeddings),
           |scored AS (
           |  SELECT a.vec_id AS src, b.vec_id AS dst, $dotAB / (a.nrm * b.nrm) AS cos
           |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
           |      FROM scored)
           |SELECT src, rn, dst, round(cos, 6) AS cos FROM r WHERE rn <= 5 ORDER BY src, rn""".stripMargin
      }),
    CatalogEntry("sim_ivf_topk", simIvfTopK,
      "IVF cell-bounded ANN top-k",
      Some(Similarity.ivfHashTopKSql("embeddings", "vec_id", "embedding", DIM,
        k = 5, nListsSql = Similarity.scaleNListsSql("embeddings"), nProbe = 3))),
    CatalogEntry("a10_similarity_stats", a10SimilarityStats,
      "similarity-score distribution statistics",
      Some {
        val dotAB = Similarity.dotSql("a.embedding", "b.embedding", DIM)
        s"""WITH n AS (SELECT vec_id, embedding,
           |            sqrt(${Similarity.dotSql("embedding", "embedding", DIM)}) AS nrm
           |           FROM embeddings),
           |scored AS (
           |  SELECT a.vec_id AS src, b.vec_id AS dst, $dotAB / (a.nrm * b.nrm) AS cos
           |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
           |r AS (SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
           |      FROM scored),
           |topk AS (SELECT src, round(cos, 6) AS cos FROM r WHERE rn <= 5)
           |SELECT src, round(avg(cos), 6) AS avg_sim, round(max(cos), 6) AS max_sim,
           |  round(min(cos), 6) AS min_sim, count(*) AS n_sim
           |FROM topk GROUP BY src ORDER BY src""".stripMargin
      }),
    CatalogEntry("t1_language_id", t1LangId,
      "n-gram heuristic language identification",
      Some(s"""WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |h AS (SELECT doc_id, $langHitCols FROM t)
         |SELECT doc_id, $langArgmax AS lang_pred FROM h ORDER BY doc_id""".stripMargin)),
    CatalogEntry("t2_quality_score", t2Quality,
      "length/punctuation/stopword quality scoring",
      Some("""WITH b AS (
        |  SELECT doc_id, text,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    len(text) AS n_char,
        |    len(text) - len(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS n_punct,
        |    len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> list_contains(['the','a','and','of','to','in','is','that'], x))) AS n_stop
        |  FROM documents)
        |SELECT doc_id, n_tokens,
        |  round(CASE WHEN n_tokens = 0 THEN 0.0
        |        ELSE CAST(len(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) / n_tokens END, 6) AS avg_token_len,
        |  round(CASE WHEN n_char = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_char END, 6) AS punct_ratio,
        |  round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END, 6) AS stopword_ratio
        |FROM b ORDER BY doc_id""".stripMargin)),
    CatalogEntry("t3_token_count", t3TokenCount,
      "whitespace token counting",
      Some("""SELECT doc_id,
        |  CASE WHEN len(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word_tokens
        |FROM documents ORDER BY doc_id""".stripMargin)),
    CatalogEntry("t3b_bpe_tokens", t3bBpeTokens,
      "GPT-2-style regex pretokenizer unit counts",
      Some(s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${bpePattern.replace("'", "''")}')) AS BIGINT) AS bpe_tokens,
         |  CAST(CASE WHEN len(trim(text)) = 0 THEN 0
         |       ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS ws_tokens
         |FROM documents ORDER BY doc_id""".stripMargin)),
    CatalogEntry("t4_fingerprint", t4Fingerprint,
      "rolling-hash document fingerprints",
      Some("""SELECT doc_id,
        |  CAST(CASE WHEN len(text) = 0 THEN 0
        |       ELSE list_sum(list_transform(generate_series(1, len(text)),
        |              i -> i * ascii(substr(text, i, 1)))) % 1000000007 END AS BIGINT) AS fp,
        |  md5(text) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin)),
    CatalogEntry("t5_corpus_filter", t5CorpusFilter,
      "composed corpus filtering",
      Some(s"""WITH b AS (
         |  SELECT doc_id, text, source,
         |    CASE WHEN len(trim(text)) = 0 THEN 0
         |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
         |    len(text) AS n_char,
         |    len(text) - len(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS n_punct,
         |    len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
         |        x -> list_contains(['the','a','and','of','to','in','is','that'], x))) AS n_stop,
         |    regexp_split_to_array(trim(text), '\\s+') AS toks
         |  FROM documents),
         |q AS (
         |  SELECT doc_id, source, n_tokens,
         |    round(CASE WHEN n_char = 0 THEN 0.0 ELSE CAST(n_punct AS DOUBLE) / n_char END, 6) AS punct_ratio,
         |    round(CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE) / n_tokens END, 6) AS stopword_ratio,
         |    $langHitCols
         |  FROM b),
         |l AS (SELECT *, $langArgmax AS lang_pred FROM q),
         |canon AS (SELECT md5(text) AS h, min(doc_id) AS keep_id FROM documents GROUP BY md5(text))
         |SELECT l.doc_id, l.n_tokens, l.punct_ratio, l.stopword_ratio, l.source
         |FROM l JOIN documents d ON d.doc_id = l.doc_id
         |JOIN canon c ON c.h = md5(d.text)
         |WHERE l.doc_id = c.keep_id AND l.lang_pred = 'en'
         |  AND l.n_tokens >= 10 AND l.punct_ratio < 0.2 AND l.stopword_ratio >= 0.02
         |ORDER BY l.doc_id""".stripMargin)),
    CatalogEntry("t6_winnowing", t6Winnowing,
      "winnowing fingerprint selection",
      Some("""WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(norm) < 5 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(generate_series(1, len(norm) - 4),
        |                i -> md5(substr(norm, i, 5))) END AS grams
        |  FROM n),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(grams) = 0 THEN CAST([] AS VARCHAR[])
        |         WHEN len(grams) - 3 < 1 THEN [list_min(grams)]
        |         ELSE list_transform(generate_series(1, len(grams) - 3),
        |                j -> list_min(grams[j:j+3])) END AS sel
        |  FROM g),
        |f AS (SELECT doc_id, list_distinct(sel) AS fps FROM s)
        |SELECT doc_id, CAST(len(fps) AS INT) AS n_fp,
        |       list_min(fps) AS fp_min, list_max(fps) AS fp_max
        |FROM f ORDER BY doc_id""".stripMargin)),
    CatalogEntry("t7_chunking", t7Chunking,
      "token chunking with declared overlap",
      Some("""WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    CAST(unnest(generate_series(0,
        |      CASE WHEN n <= 50 THEN 0
        |           ELSE CAST(ceil(CAST(n - 10 AS DOUBLE) / 40) AS INTEGER) - 1 END)) AS INTEGER)
        |      AS chunk_no
        |  FROM t WHERE n > 0),
        |s AS (
        |  SELECT doc_id, chunk_no,
        |    list_slice(toks, chunk_no * 40 + 1, least(chunk_no * 40 + 50, n)) AS ct
        |  FROM c)
        |SELECT doc_id, chunk_no, CAST(len(ct) AS INTEGER) AS n_chunk_tokens,
        |       md5(array_to_string(ct, ' ')) AS chunk_hash
        |FROM s ORDER BY doc_id, chunk_no""".stripMargin)),
    CatalogEntry("t8_lang_confusion", t8LangConfusion,
      "language-ID confusion audit",
      Some(s"""WITH t AS (SELECT doc_id, lang, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
         |h AS (SELECT doc_id, lang, $langHitCols FROM t),
         |p AS (SELECT lang, $langArgmax AS lang_pred FROM h)
         |SELECT lang, lang_pred, count(*) AS n FROM p
         |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin)),
    CatalogEntry("t9_top_bigrams", t9TopBigrams,
      "top corpus bigrams",
      Some("""WITH t AS (
        |  SELECT regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
        |b AS (
        |  SELECT unnest(CASE WHEN len(toks) >= 2 THEN
        |    list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i + 1])
        |    ELSE [] END) AS bigram
        |  FROM t)
        |SELECT bigram, count(*) AS n FROM b
        |GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""".stripMargin)),
    CatalogEntry("t10_tfidf", t10Tfidf,
      "TF-IDF weighting",
      Some("""WITH terms AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
        |idf AS (
        |  SELECT term,
        |    ln((CAST((SELECT count(*) FROM documents) AS DOUBLE) + 1.0) /
        |       (count(*) + CAST(1.0 AS DOUBLE))) + 1.0 AS idf
        |  FROM tf GROUP BY term),
        |r AS (
        |  SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS tfidf,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf * idf.idf DESC, tf.term ASC) AS rank
        |  FROM tf JOIN idf USING (term))
        |SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, round(tfidf, 6) AS tfidf
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),
    CatalogEntry("t11_vocab_prune", t11VocabPrune,
      "vocabulary pruning by document frequency",
      Some("""WITH terms AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |kept AS (
        |  SELECT term FROM (SELECT DISTINCT doc_id, term FROM terms)
        |  GROUP BY term
        |  HAVING count(*) >= 2
        |     AND count(*) <= (SELECT count(*) FROM documents) * 9 // 10),
        |k AS (
        |  SELECT t.doc_id, count(*) AS kept_tokens
        |  FROM terms t WHERE t.term IN (SELECT term FROM kept)
        |  GROUP BY t.doc_id),
        |tot AS (SELECT doc_id, count(*) AS total_tokens FROM terms GROUP BY doc_id)
        |SELECT tot.doc_id, coalesce(k.kept_tokens, 0) AS kept_tokens, tot.total_tokens
        |FROM tot LEFT JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin)),
    CatalogEntry("t12_pack_sequences", t12PackSequences,
      "sequence packing to a context length",
      Some("""WITH tok AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents),
        |off AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
        |  FROM tok)
        |SELECT doc_id, n_tokens, "offset",
        |  "offset" // 256 AS pack_id, "offset" % 256 AS offset_in_pack
        |FROM off ORDER BY doc_id""".stripMargin)),
    CatalogEntry("t12b_pack_sharded", t12bPackSharded,
      "sharded sequence packing twin",
      Some("""WITH tok AS (
        |  SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    CAST(doc_id % 8 AS INT) AS shard
        |  FROM documents),
        |off AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS offset_in_shard
        |  FROM tok)
        |SELECT doc_id, shard, n_tokens, offset_in_shard,
        |  offset_in_shard // 256 AS pack_in_shard,
        |  offset_in_shard % 256 AS offset_in_pack
        |FROM off ORDER BY doc_id""".stripMargin)),
    CatalogEntry("t17_shuffle_shards", t17ShuffleShards,
      "deterministic shard shuffle",
      Some {
        val u = graft.functions.ColFns.pseudoUniformSql("doc_id", 97L)
        val us = graft.functions.ColFns.pseudoUniformSql("doc_id", 131L)
        s"""WITH d AS (
           |  SELECT doc_id, $u AS u,
           |    CAST(floor($us * 16) AS INT) AS shard
           |  FROM documents)
           |SELECT doc_id, shard,
           |  row_number() OVER (PARTITION BY shard ORDER BY u ASC, doc_id ASC) - 1 AS pos
           |FROM d ORDER BY doc_id""".stripMargin
      }),
    CatalogEntry("t13_quality_rules", t13QualityRules,
      "rule-based quality gate",
      Some(s"""WITH $qualitySignalsSqlCte
        |SELECT doc_id, n_words, round(mean_word_len, 6) AS mean_word_len,
        |  round(symbol_ratio, 6) AS symbol_ratio, stop_hits,
        |  CAST(n_words BETWEEN 20 AND 500 AS INT) AS flag_word_count,
        |  CAST(mean_word_len BETWEEN 3.0 AND 10.0 AS INT) AS flag_word_len,
        |  CAST(symbol_ratio < 0.1 AS INT) AS flag_symbol,
        |  CAST(stop_hits >= 2 AS INT) AS flag_stopword,
        |  CAST(n_words BETWEEN 20 AND 500 AND mean_word_len BETWEEN 3.0 AND 10.0
        |    AND symbol_ratio < 0.1 AND stop_hits >= 2 AS INT) AS passes
        |FROM m ORDER BY doc_id""".stripMargin)),
    // the same signal CTE, rolled up with d1's canonical-dup rule —
    // one shared text so card and per-doc gate can never drift
    CatalogEntry("t24_dataset_card", t24DatasetCard,
      "dataset-card snapshot report (lang x source, dup, token stats)",
      Some(s"""WITH $qualitySignalsSqlCte,
        |d AS (
        |  SELECT lang, source, n_words,
        |    CAST(n_words BETWEEN 20 AND 500 AND mean_word_len BETWEEN 3.0 AND 10.0
        |      AND symbol_ratio < 0.1 AND stop_hits >= 2 AS BIGINT) AS passes,
        |    CAST(count(*) OVER (PARTITION BY h) > 1
        |      AND doc_id <> min(doc_id) OVER (PARTITION BY h) AS BIGINT) AS is_dup
        |  FROM m)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_tokens,
        |  CAST(sum(passes) AS BIGINT) AS n_quality_pass,
        |  CAST(sum(is_dup) AS BIGINT) AS n_exact_dups
        |FROM d GROUP BY lang, source ORDER BY lang, source""".stripMargin)),
    CatalogEntry("t14_pii_redact", t14PiiRedact,
      "PII pattern redaction",
      Some("""WITH c AS (
        |  SELECT c_custkey,
        |    c_name || ' <user' || c_custkey || '@example.com> ref '
        |      || CAST(c_custkey * 7919 + 104729 AS VARCHAR) AS contact
        |  FROM customer)
        |SELECT c_custkey,
        |  regexp_replace(
        |    regexp_replace(contact,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '[0-9]{4,}', '[NUM]', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(contact,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(
        |    regexp_replace(
        |      regexp_replace(contact,
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '[0-9]{4,}', '[NUM]', 'g'),
        |    '\[NUM\]')) AS INT) AS n_longnums
        |FROM c ORDER BY c_custkey""".stripMargin)),
    CatalogEntry("t15_repetition", t15Repetition,
      "repetition-ratio scoring",
      Some("""WITH g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3 THEN
        |      list_transform(generate_series(1, len(toks) - 2),
        |        i -> array_to_string(toks[i:i+2], ' '))
        |    ELSE [] END AS grams
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |        FROM documents))
        |SELECT doc_id, len(grams) AS n_grams,
        |  len(list_distinct(grams)) AS n_distinct,
        |  round(CASE WHEN len(grams) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) END, 6)
        |    AS rep_ratio,
        |  CAST(round(CASE WHEN len(grams) = 0 THEN 0.0
        |    ELSE 1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams) END, 6)
        |    > 0.2 AS INT) AS flag_repetitive
        |FROM g ORDER BY doc_id""".stripMargin)),
    CatalogEntry("d14_span_dedup", d14SpanDedup,
      "k-token span dedup with rewrite payload",
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |blocks AS (
        |  SELECT doc_id, i AS blk,
        |    array_to_string(toks[(i-1)*8+1:(i-1)*8+8], ' ') AS btext
        |  FROM toks, unnest(generate_series(1, len(toks)//8)) AS g(i)),
        |ranked AS (
        |  SELECT doc_id, blk, btext,
        |    row_number() OVER (PARTITION BY md5(btext) ORDER BY doc_id, blk) AS rn
        |  FROM blocks),
        |perdoc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |    md5(coalesce(string_agg(CASE WHEN rn = 1 THEN btext END,
        |      ' ' ORDER BY blk), '')) AS kept_md5
        |  FROM ranked GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_blocks, 0) AS n_blocks,
        |  coalesce(n_kept, 0) AS n_kept,
        |  round(CASE WHEN coalesce(n_blocks, 0) = 0 THEN 0.0
        |    ELSE 1.0 - coalesce(n_kept, 0) / coalesce(n_blocks, 1.0) END, 6)
        |    AS drop_ratio,
        |  coalesce(kept_md5, md5('')) AS kept_md5
        |FROM documents d LEFT JOIN perdoc USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    CatalogEntry("t19_boilerplate_spans", t19BoilerplateSpans,
      "boilerplate span detection",
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |blocks AS (
        |  SELECT doc_id, i AS blk,
        |    array_to_string(toks[(i-1)*4+1:(i-1)*4+4], ' ') AS btext
        |  FROM toks, unnest(generate_series(1, len(toks)//4)) AS g(i)),
        |boiler AS (
        |  SELECT btext AS ftext FROM blocks
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |j AS (
        |  SELECT b.doc_id, b.blk, b.btext, f.ftext
        |  FROM blocks b LEFT JOIN boiler f ON b.btext = f.ftext),
        |perdoc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
        |    CAST(sum(CASE WHEN ftext IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_boiler,
        |    md5(coalesce(string_agg(CASE WHEN ftext IS NULL THEN btext END,
        |      ' ' ORDER BY blk), '')) AS clean_md5
        |  FROM j GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_blocks, 0) AS n_blocks,
        |  coalesce(n_boiler, 0) AS n_boiler,
        |  round(CASE WHEN coalesce(n_blocks, 0) = 0 THEN 0.0
        |    ELSE coalesce(n_boiler, 0) / coalesce(n_blocks, 1.0) END, 6)
        |    AS boiler_ratio,
        |  coalesce(clean_md5, md5('')) AS clean_md5
        |FROM documents d LEFT JOIN perdoc USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    CatalogEntry("t20_lm_perplexity", t20LmPerplexity,
      "n-gram LM perplexity scoring (trained-on-half discipline)",
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
        |  FROM toks, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
        |big AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
        |  FROM pairs WHERE doc_id % 2 = 0 GROUP BY 1, 2),
        |uni AS (
        |  SELECT w1, CAST(count(*) AS BIGINT) AS c1
        |  FROM pairs WHERE doc_id % 2 = 0 GROUP BY 1),
        |voc AS (
        |  SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM (
        |    SELECT w1 AS w FROM pairs WHERE doc_id % 2 = 0
        |    UNION ALL SELECT w2 FROM pairs WHERE doc_id % 2 = 0)),
        |perdoc AS (
        |  SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    round(-avg(ln((coalesce(b.c2, 0) + 1.0) /
        |      (coalesce(u.c1, 0) + v.v))), 6) AS nll
        |  FROM pairs p
        |  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
        |  LEFT JOIN uni u ON p.w1 = u.w1
        |  CROSS JOIN voc v
        |  GROUP BY p.doc_id),
        |cuts AS (
        |  SELECT quantile_cont(nll, 0.33) AS p33, quantile_cont(nll, 0.66) AS p66
        |  FROM perdoc)
        |SELECT doc_id, n_bigrams, nll, round(exp(nll), 6) AS ppl,
        |  CASE WHEN nll <= p33 THEN 'head'
        |       WHEN nll <= p66 THEN 'middle' ELSE 'tail' END AS bucket
        |FROM perdoc CROSS JOIN cuts
        |ORDER BY doc_id""".stripMargin)),
    CatalogEntry("t18_quality_nb", t18QualityNb,
      "NB quality classifier: trained on half, served broadcast",
      Some(nbQualityOracle(
      """SELECT doc_id, n_toks, nb_score,
        |  CAST(nb_score > 0 AS INT) AS pred_good, weak_label,
        |  CAST((nb_score > 0) = (weak_label = 1) AS INT) AS agree
        |FROM perdoc ORDER BY doc_id""".stripMargin))),
    CatalogEntry("t21_token_budget", t21TokenBudget,
      "token-budget prefix fill without a corpus-sized window",
      Some {
        val u = graft.functions.ColFns.pseudoUniformSql("doc_id", 173L)
        val sh = graft.functions.ColFns.pseudoUniformSql("doc_id", 211L)
        s"""WITH docs AS (
           |  SELECT doc_id, lang,
           |    CAST(CASE WHEN len(trim(text)) = 0 THEN 0
           |         ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT)
           |      AS n_toks,
           |    $u AS u,
           |    CAST(floor($sh * 8) AS INT) AS shard
           |  FROM documents),
           |bylang AS (
           |  SELECT lang, CAST(sum(n_toks) AS BIGINT) AS lang_toks
           |  FROM docs GROUP BY lang),
           |tot AS (SELECT CAST(sum(lang_toks) AS DOUBLE) AS tot_toks FROM bylang),
           |ws AS (
           |  SELECT sum(sqrt(lang_toks / tot_toks)) AS wsum
           |  FROM bylang CROSS JOIN tot),
           |budgets AS (
           |  SELECT lang,
           |    CAST(floor(round(0.2 * tot_toks *
           |      (sqrt(lang_toks / tot_toks) / wsum), 6)) AS BIGINT) AS budget
           |  FROM bylang CROSS JOIN tot CROSS JOIN ws),
           |shard_tots AS (
           |  SELECT lang, shard, CAST(sum(n_toks) AS BIGINT) AS shard_toks
           |  FROM docs GROUP BY lang, shard),
           |offsets AS (
           |  SELECT lang, shard,
           |    CAST(coalesce(sum(shard_toks) OVER (PARTITION BY lang ORDER BY shard
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS shard_offset
           |  FROM shard_tots),
           |cums AS (
           |  SELECT doc_id, lang, n_toks, shard,
           |    CAST(coalesce(sum(n_toks) OVER (PARTITION BY lang, shard
           |      ORDER BY u, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS cum_in_shard
           |  FROM docs)
           |SELECT c.doc_id, c.lang, c.n_toks, c.shard,
           |  o.shard_offset + c.cum_in_shard AS cum_before,
           |  CAST(o.shard_offset + c.cum_in_shard + c.n_toks <= b.budget AS INT)
           |    AS selected
           |FROM cums c
           |JOIN offsets o ON c.lang = o.lang AND c.shard = o.shard
           |JOIN budgets b ON c.lang = b.lang
           |ORDER BY doc_id""".stripMargin
      }),
    CatalogEntry("t22_bpe_merges", t22BpeMerges,
      "BPE merge induction with vocab-size / min-pair-frequency stop rules",
      Some {
        val out = (1 to 8).map(i =>
          s"SELECT $i AS step, a AS lhs, b AS rhs, cnt AS pair_count FROM t$i")
          .mkString("\nUNION ALL\n")
        s"""WITH $bpeStepsSql
           |$out
           |ORDER BY step""".stripMargin
      }),
    CatalogEntry("t22b_bpe_apply", t22bBpeApply,
      "learned BPE merges applied back over the corpus",
      Some {
        // replay the learned merges over every word: nested literal
        // replaces in merge order, each pattern read from its t_i argmax.
        // coalesce to an impossible sentinel (chr(1) can't appear in a
        // whitespace token's sentinel string): a corpus that exhausts its
        // merges early leaves later t_i EMPTY, and a bare scalar subquery
        // would then NULL-poison the whole replace chain — the Scala side
        // gracefully applies the truncated merge list, so must the oracle
        val applied = (1 to 8).foldLeft("s0.s") { (acc, i) =>
          s"""replace($acc,
             |  '_' || coalesce((SELECT a FROM t$i), chr(1)) || '__' || coalesce((SELECT b FROM t$i), chr(1)) || '_',
             |  '_' || coalesce((SELECT a FROM t$i), chr(1)) || coalesce((SELECT b FROM t$i), chr(1)) || '_')""".stripMargin
        }
        s"""WITH $bpeStepsSql,
           |dtoks AS (
           |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
           |  FROM documents),
           |s0 AS MATERIALIZED (
           |  SELECT doc_id, len(w) AS n_chars,
           |    '_' || array_to_string(list_transform(
           |      generate_series(1, len(w)), i -> substring(w, i, 1)), '__') || '_'
           |      AS s
           |  FROM dtoks),
           |appl AS MATERIALIZED (
           |  SELECT doc_id, n_chars,
           |    len(string_split(regexp_replace($applied,
           |      '^_|_$$', '', 'g'), '__')) AS n_sym
           |  FROM s0)
           |SELECT doc_id, CAST(count(*) AS BIGINT) AS ws_tokens,
           |  CAST(sum(n_chars) AS BIGINT) AS char_tokens,
           |  CAST(sum(n_sym) AS BIGINT) AS bpe_tokens,
           |  round(CAST(sum(n_chars) AS DOUBLE) / sum(n_sym), 6) AS compression
           |FROM appl GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin
      }),
    CatalogEntry("t23_curriculum_order", t23CurriculumOrder,
      "curriculum ordering by quality band",
      Some {
        val u = graft.functions.ColFns.pseudoUniformSql("doc_id", 229L)
        val sh = graft.functions.ColFns.pseudoUniformSql("doc_id", 241L)
        s"""WITH toks AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           |  FROM documents),
           |pairs AS (
           |  SELECT doc_id, toks[i] AS w1, toks[i+1] AS w2
           |  FROM toks, unnest(generate_series(1, len(toks) - 1)) AS g(i)),
           |big AS (
           |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
           |  FROM pairs WHERE doc_id % 2 = 0 GROUP BY 1, 2),
           |uni AS (
           |  SELECT w1, CAST(count(*) AS BIGINT) AS c1
           |  FROM pairs WHERE doc_id % 2 = 0 GROUP BY 1),
           |voc AS (
           |  SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM (
           |    SELECT w1 AS w FROM pairs WHERE doc_id % 2 = 0
           |    UNION ALL SELECT w2 FROM pairs WHERE doc_id % 2 = 0)),
           |perdoc AS (
           |  SELECT p.doc_id,
           |    round(-avg(ln((coalesce(b.c2, 0) + 1.0) /
           |      (coalesce(u.c1, 0) + v.v))), 6) AS nll
           |  FROM pairs p
           |  LEFT JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
           |  LEFT JOIN uni u ON p.w1 = u.w1
           |  CROSS JOIN voc v
           |  GROUP BY p.doc_id),
           |cuts AS (
           |  SELECT quantile_cont(nll, 0.33) AS p33, quantile_cont(nll, 0.66) AS p66
           |  FROM perdoc),
           |ranked AS (
           |  SELECT doc_id, nll,
           |    CASE WHEN nll <= p33 THEN 'head'
           |         WHEN nll <= p66 THEN 'middle' ELSE 'tail' END AS bucket,
           |    $u AS u,
           |    CAST(floor($sh * 8) AS INT) AS shard
           |  FROM perdoc CROSS JOIN cuts)
           |SELECT doc_id, bucket, shard,
           |  CAST(row_number() OVER (PARTITION BY bucket, shard
           |    ORDER BY u, doc_id) - 1 AS BIGINT) AS pos,
           |  nll
           |FROM ranked
           |ORDER BY doc_id""".stripMargin
      }),
    CatalogEntry("e12_stream_quality_gate", e12StreamQualityGate,
      "streamed quality gate equals the batch rules",
      Some(nbQualityOracle(
      """SELECT doc_id, n_toks, nb_score,
        |  CAST(nb_score > 0 AS INT) AS admitted
        |FROM perdoc WHERE doc_id % 3 = 0 ORDER BY doc_id""".stripMargin))),
    CatalogEntry("a23_countmin_ngrams", a23CountminNgrams,
      "count-min sketch over corpus bigrams with the >=-exact guarantee gated",
      Some {
        def hvSql(p: Int) =
          s"(ascii(substr(m, $p, 1)) - CASE WHEN substr(m, $p, 1) >= 'a' THEN 87 ELSE 48 END)"
        val jRows = (0 until 3).map { j =>
          s"""SELECT g, exact_cnt, $j AS j,
             |  ((${hvSql(8 * j + 1)}) * 16 + ${hvSql(8 * j + 2)}) % 64 AS bucket
             |FROM grams""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH toks AS (
           |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
           |  FROM documents),
           |grams0 AS (
           |  SELECT toks[i] || ' ' || toks[i+1] AS g
           |  FROM toks, unnest(generate_series(1, len(toks) - 1)) AS gs(i)),
           |grams AS (
           |  SELECT g, CAST(count(*) AS BIGINT) AS exact_cnt, md5(g) AS m
           |  FROM grams0 GROUP BY g),
           |jrows AS (
           |$jRows),
           |cells AS (
           |  SELECT j, bucket, CAST(sum(exact_cnt) AS BIGINT) AS cell
           |  FROM jrows GROUP BY j, bucket),
           |top AS (
           |  SELECT g AS tg, exact_cnt FROM grams
           |  ORDER BY exact_cnt DESC, g ASC LIMIT 10)
           |SELECT t.tg AS gram, t.exact_cnt,
           |  CAST(min(c.cell) AS BIGINT) AS est_cnt,
           |  CAST(min(c.cell) = t.exact_cnt AS INT) AS tight
           |FROM top t
           |JOIN jrows r ON r.g = t.tg
           |JOIN cells c ON c.j = r.j AND c.bucket = r.bucket
           |GROUP BY t.tg, t.exact_cnt
           |ORDER BY t.exact_cnt DESC, gram ASC""".stripMargin
      }),
    CatalogEntry("sim_mmr_rerank", simMmrRerank,
      "MMR diversity re-rank of the ANN top-k",
      Some {
        val dotAB = Similarity.dotSql("a.embedding", "b.embedding", DIM)
        val dot12 = Similarity.dotSql("e1.embedding", "e2.embedding", DIM)
        s"""WITH n AS (SELECT vec_id, embedding,
           |            sqrt(${Similarity.dotSql("embedding", "embedding", DIM)}) AS nrm
           |           FROM embeddings),
           |scored AS (
           |  SELECT a.vec_id AS src, b.vec_id AS dst, $dotAB / (a.nrm * b.nrm) AS cos
           |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
           |cand AS MATERIALIZED (
           |  SELECT src, dst, round(cos, 6) AS rel FROM (
           |    SELECT *, row_number() OVER (PARTITION BY src
           |      ORDER BY cos DESC, dst ASC) AS rn FROM scored)
           |  WHERE rn <= 5),
           |pair AS MATERIALIZED (
           |  SELECT c1.src, c1.dst AS d1, c2.dst AS d2,
           |    round($dot12 / (e1.nrm * e2.nrm), 6) AS cc
           |  FROM cand c1 JOIN cand c2 ON c1.src = c2.src AND c1.dst <> c2.dst
           |  JOIN n e1 ON e1.vec_id = c1.dst
           |  JOIN n e2 ON e2.vec_id = c2.dst),
           |candi AS MATERIALIZED (
           |  SELECT src, dst, rel,
           |    CAST(round(rel * 1000000) AS BIGINT) AS irel FROM cand),
           |pairi AS MATERIALIZED (
           |  SELECT src, d1, d2,
           |    CAST(round(cc * 1000000) AS BIGINT) AS icc FROM pair),
           |s1 AS MATERIALIZED (
           |  SELECT src, dst AS s1, rel AS rel1 FROM (
           |    SELECT *, row_number() OVER (PARTITION BY src
           |      ORDER BY rel DESC, dst ASC) AS rk FROM candi)
           |  WHERE rk = 1),
           |r2 AS (
           |  SELECT c.src, c.dst, 7 * c.irel - 3 * p.icc AS immr
           |  FROM candi c
           |  JOIN s1 ON c.src = s1.src AND c.dst <> s1.s1
           |  JOIN pairi p ON p.src = c.src AND p.d1 = c.dst AND p.d2 = s1.s1),
           |s2 AS MATERIALIZED (
           |  SELECT src, dst AS s2, immr AS immr2 FROM (
           |    SELECT *, row_number() OVER (PARTITION BY src
           |      ORDER BY immr DESC, dst ASC) AS rk FROM r2)
           |  WHERE rk = 1),
           |r3 AS (
           |  SELECT c.src, c.dst,
           |    7 * c.irel - 3 * greatest(p1.icc, p2.icc) AS immr
           |  FROM candi c
           |  JOIN s1 ON c.src = s1.src
           |  JOIN s2 ON c.src = s2.src
           |  JOIN pairi p1 ON p1.src = c.src AND p1.d1 = c.dst AND p1.d2 = s1.s1
           |  JOIN pairi p2 ON p2.src = c.src AND p2.d1 = c.dst AND p2.d2 = s2.s2
           |  WHERE c.dst <> s1.s1 AND c.dst <> s2.s2),
           |s3 AS MATERIALIZED (
           |  SELECT src, dst AS s3, immr AS immr3 FROM (
           |    SELECT *, row_number() OVER (PARTITION BY src
           |      ORDER BY immr DESC, dst ASC) AS rk FROM r3)
           |  WHERE rk = 1)
           |SELECT src, 1 AS rnk, s1 AS dst, rel1 AS score FROM s1
           |UNION ALL
           |SELECT src, 2, s2, CAST(immr2 AS DOUBLE) / 10000000 FROM s2
           |UNION ALL
           |SELECT src, 3, s3, CAST(immr3 AS DOUBLE) / 10000000 FROM s3
           |ORDER BY src, rnk""".stripMargin
      }),
    CatalogEntry("d10_contamination", d10Contamination,
      "eval-set contamination scan",
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(toks) >= 8 THEN
        |      list_transform(generate_series(1, len(toks) - 7),
        |        i -> md5(array_to_string(toks[i:i+7], ' ')))
        |    ELSE [] END)) AS gram
        |  FROM toks)
        |SELECT t.doc_id AS train_doc, b.doc_id AS bench_doc,
        |  count(*) AS n_shared
        |FROM grams t JOIN grams b USING (gram)
        |WHERE t.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
        |GROUP BY 1, 2 HAVING count(*) >= 3
        |ORDER BY train_doc, bench_doc""".stripMargin)),
    CatalogEntry("d12_decontaminate", d12Decontaminate,
      "remove eval-overlapping documents",
      Some("""WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    CASE WHEN len(toks) >= 8 THEN
        |      list_transform(generate_series(1, len(toks) - 7),
        |        i -> md5(array_to_string(toks[i:i+7], ' ')))
        |    ELSE [] END)) AS gram
        |  FROM toks),
        |pairs AS (
        |  SELECT t.doc_id AS train_doc
        |  FROM grams t JOIN grams b USING (gram)
        |  WHERE t.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
        |  GROUP BY t.doc_id, b.doc_id HAVING count(*) >= 3),
        |bad AS (SELECT DISTINCT train_doc FROM pairs)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id % 10 <> 0
        |  AND doc_id NOT IN (SELECT train_doc FROM bad)
        |ORDER BY doc_id""".stripMargin)),
    // e11 = d7 streamed through foreachBatch — same relational truth,
    // plus the kept flag the ingest sink records
    CatalogEntry("e11_stream_ingest_dedup", e11StreamIngestDedup,
      "streamed ingest + dedup equals the d7 batch computation",
      Some(s"""WITH $hashedShingleCte,
         |signed AS (
         |  SELECT s.doc_id, s.sh,
         |    concat_ws('_', ${minhashSql(0)}, ${minhashSql(1)}) AS band_0,
         |    concat_ws('_', ${minhashSql(2)}, ${minhashSql(3)}) AS band_1
         |  FROM sh s JOIN hsh h ON s.doc_id = h.doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, band_0 AS sig FROM signed
         |  UNION ALL
         |  SELECT doc_id, 1, band_1 FROM signed),
         |cand AS (
         |  SELECT DISTINCT i.doc_id, s.doc_id AS store_doc
         |  FROM bands i JOIN bands s ON i.band = s.band AND i.sig = s.sig
         |  WHERE i.doc_id % 3 = 0 AND s.doc_id % 3 <> 0),
         |pairs AS (
         |  SELECT c.doc_id, c.store_doc,
         |    len(list_intersect(a.sh, b.sh)) AS n_inter,
         |    len(a.sh) AS na, len(b.sh) AS nb
         |  FROM cand c
         |  JOIN signed a ON a.doc_id = c.doc_id
         |  JOIN signed b ON b.doc_id = c.store_doc),
         |per AS (
         |  SELECT doc_id, count(*) AS n_candidates,
         |    CAST(sum(CASE WHEN CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.1
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
         |    min(CASE WHEN CAST(n_inter AS DOUBLE) / (na + nb - n_inter) >= 0.1
         |        THEN store_doc END) AS dup_of
         |  FROM pairs GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(p.n_candidates, 0) AS n_candidates,
         |  coalesce(p.n_dups, 0) AS n_dups, coalesce(p.dup_of, -1) AS dup_of,
         |  CAST(CASE WHEN coalesce(p.n_dups, 0) = 0 THEN 1 ELSE 0 END AS INT) AS kept
         |FROM documents d LEFT JOIN per p USING (doc_id)
         |WHERE d.doc_id % 3 = 0 ORDER BY d.doc_id""".stripMargin)),
    CatalogEntry("t16_domain_mix", t16DomainMix,
      "domain mixing plan",
      Some("""WITH t AS (
        |  SELECT source,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_toks
        |  FROM documents),
        |agg AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(n_toks) AS BIGINT) AS n_tokens
        |  FROM t GROUP BY source),
        |tot AS (
        |  SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot_tokens,
        |         CAST(count(*) AS DOUBLE) AS n_sources
        |  FROM agg)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS token_share,
        |  round((tot_tokens / n_sources) / CAST(n_tokens AS DOUBLE), 6) AS mix_weight
        |FROM agg, tot ORDER BY source""".stripMargin)),
    CatalogEntry("t17_training_order", t17TrainingOrder,
      "global training-order assignment",
      Some {
        val u = graft.functions.ColFns.pseudoUniformSql("doc_id", 17L)
        s"""WITH d AS (SELECT doc_id, n_chars, $u AS u FROM documents),
           |s AS (SELECT doc_id, n_chars, u,
           |        CAST(least(7, floor(u * 8)) AS INTEGER) AS shard FROM d)
           |SELECT shard, pos, doc_id, n_chars FROM (
           |  SELECT shard, row_number() OVER (PARTITION BY shard
           |           ORDER BY u ASC, doc_id ASC) AS pos, doc_id, n_chars
           |  FROM s)
           |ORDER BY shard, pos""".stripMargin
      }),
    CatalogEntry("sim_ivf_incremental", simIvfIncremental,
      "IVF incremental appends served with the base index",
      Some {
        import graft.functions.ColFns
        val u = ColFns.pseudoUniformSql("vec_id", 13L)
        val cc = Similarity.dotSql("c.cv", "c.cv", DIM)
        val vc = Similarity.dotSql("a.v", "c.cv", DIM)
        s"""WITH e AS (SELECT vec_id, embedding AS v FROM embeddings),
           |cents AS (
           |  SELECT list, cv FROM (
           |    SELECT v AS cv,
           |      row_number() OVER (ORDER BY $u ASC, vec_id ASC) AS list
           |    FROM e WHERE vec_id % 5 <> 0)
           |  WHERE list <= ${Similarity.scaleNListsSql("e WHERE vec_id % 5 <> 0")}),
           |ranked AS (
           |  SELECT a.vec_id, c.list, round(($cc - 2.0 * $vc), 6) AS rank_d
           |  FROM (SELECT * FROM e WHERE vec_id % 5 = 0) a CROSS JOIN cents c),
           |arn AS (SELECT *, row_number() OVER (PARTITION BY vec_id
           |          ORDER BY rank_d ASC, list ASC) AS arn FROM ranked)
           |SELECT vec_id, list, rank_d FROM arn WHERE arn = 1
           |ORDER BY vec_id""".stripMargin
      }),
    CatalogEntry("mm1_binary_metadata", mm1BinaryMetadata,
      "opaque binary columns with typed metadata",
      Some("""SELECT doc_id, octet_length(encode(text)) AS byte_len, md5(text) AS payload_md5, source
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // Arrays.hashCode replay: fold(1)(31·acc + byte) in unsigned mod-2^32
    // arithmetic, re-signed at the end; trunc-toward-zero division and
    // floorMod mirror the JVM's int semantics. Bytes = ascii codes (the
    // corpus is single-byte; asserted by the octet_length check in
    // mm1 and the t4 ascii oracle).
    CatalogEntry("mm2_decode_features", mm2DecodeFeatures,
      "per-partition batch image decode (javax.imageio) + features",
      Some("""WITH h AS (
        |  SELECT doc_id, octet_length(encode(text)) AS byte_len,
        |    list_reduce([CAST(1 AS BIGINT)] || list_transform(generate_series(1, len(text)),
        |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
        |      (a, b) -> (31 * a + b) % 4294967296) AS hraw
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, byte_len,
        |    CASE WHEN hraw >= 2147483648 THEN hraw - 4294967296 ELSE hraw END AS h32
        |  FROM h)
        |SELECT doc_id AS media_id,
        |  CAST(CASE WHEN byte_len = 0 THEN 0
        |       ELSE 64 + ((h32 % 960) + 960) % 960 END AS INT) AS width,
        |  CAST(CASE WHEN byte_len = 0 THEN 0
        |       ELSE 64 + ((CAST(trunc(h32 / 7.0) AS BIGINT) % 960) + 960) % 960 END AS INT) AS height,
        |  CAST(CASE WHEN byte_len = 0 THEN 0 ELSE 3 END AS INT) AS channels,
        |  CAST(byte_len AS BIGINT) AS byte_len,
        |  CASE WHEN byte_len = 0 THEN NULL
        |       ELSE CAST(((h32 % 1000) + 1000) % 1000 AS FLOAT) / CAST(1000.0 AS FLOAT) END AS f0,
        |  CASE WHEN byte_len = 0 THEN NULL
        |       ELSE CAST(((CAST(trunc(h32 / 8.0) AS BIGINT) % 1000) + 1000) % 1000 AS FLOAT) / CAST(1000.0 AS FLOAT) END AS f7
        |FROM s ORDER BY media_id""".stripMargin)),
    CatalogEntry("mm3_resize_plan", mm3ResizePlan,
      "resize planning over image metadata",
      Some("""WITH h AS (
        |  SELECT doc_id, octet_length(encode(text)) AS byte_len,
        |    list_reduce([CAST(1 AS BIGINT)] || list_transform(generate_series(1, len(text)),
        |      i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
        |      (a, b) -> (31 * a + b) % 4294967296) AS hraw
        |  FROM documents WHERE octet_length(encode(text)) > 0),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN hraw >= 2147483648 THEN hraw - 4294967296 ELSE hraw END AS h32
        |  FROM h),
        |d AS (
        |  SELECT doc_id AS media_id,
        |    CAST(64 + ((h32 % 960) + 960) % 960 AS INT) AS width,
        |    CAST(64 + ((CAST(trunc(h32 / 7.0) AS BIGINT) % 960) + 960) % 960 AS INT) AS height
        |  FROM s),
        |r AS (
        |  SELECT media_id, width, height,
        |    least(CAST(224.0 AS DOUBLE) / width, CAST(224.0 AS DOUBLE) / height) AS sc
        |  FROM d)
        |SELECT media_id, width, height, round(sc, 6) AS scale,
        |  greatest(CAST(round(width * sc) AS INT), 1) AS out_width,
        |  greatest(CAST(round(height * sc) AS INT), 1) AS out_height
        |FROM r ORDER BY media_id""".stripMargin)),
    CatalogEntry("mm4_frame_sample", mm4FrameSample,
      "deterministic frame-sampling plan",
      Some("""WITH m AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS byte_len
        |  FROM documents),
        |f AS (
        |  SELECT media_id,
        |    unnest(generate_series(0, greatest((byte_len - 1) // 100, 0))) AS idx
        |  FROM m)
        |SELECT media_id, CAST(idx AS INT) AS frame_no,
        |       CAST(idx * 100 AS BIGINT) AS byte_offset
        |FROM f ORDER BY media_id, frame_no""".stripMargin)),
    CatalogEntry("sim_quantize_int8", simQuantizeInt8,
      "int8 embedding quantization",
      Some("""WITH b AS (
        |  SELECT vec_id AS id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |s AS (
        |  SELECT id, v,
        |    greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) /
        |      CAST(127.0 AS DOUBLE) AS sc
        |  FROM b),
        |q AS (
        |  SELECT id, sc,
        |    list_transform(v, x -> CAST(round(x / sc) AS INT)) AS qv
        |  FROM s)
        |SELECT id, round(sc, 9) AS scale, CAST(len(qv) AS INT) AS n_dims,
        |  CAST(list_min(qv) AS INT) AS q_min, CAST(list_max(qv) AS INT) AS q_max,
        |  CAST(list_sum(qv) AS BIGINT) AS q_sum
        |FROM q ORDER BY id""".stripMargin)),
    CatalogEntry("sim_pq_codes", simPqCodes,
      "product-quantization codebook assignment",
      Some(Similarity.pqCodesSql("embeddings", "vec_id", "embedding", DIM))),
    CatalogEntry("sim_pq_adc_topk", simPqAdcTopK,
      "PQ asymmetric-distance-computation top-k",
      Some(Similarity.pqAdcTopKSql("embeddings", "vec_id", "embedding", DIM, k = 5,
        nPlanesSql = Similarity.scaleNPlanesSql("embeddings")))),
    CatalogEntry("f10_dot_product", f10DotProduct,
      "native ArrayDotProduct Catalyst expression (codegen)",
      Some {
        val dotAB = Similarity.dotSql("ea", "eb", DIM)
        val cosAB = Similarity.cosineSql("ea", "eb", DIM)
        s"""WITH a AS (SELECT vec_id AS src, embedding AS ea FROM embeddings),
           |b AS (SELECT vec_id - 1 AS src, embedding AS eb FROM embeddings),
           |j AS (SELECT a.src, ea, eb FROM a JOIN b USING (src))
           |SELECT src, round($dotAB, 6) AS dot, round($cosAB, 6) AS cos
           |FROM j ORDER BY src""".stripMargin
      }))
}
