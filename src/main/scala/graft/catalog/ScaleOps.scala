package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Artifacts, Tables}
import graft.sim.Similarity

/** Operator catalog, part 6: the scale-mechanics operators — the join
  * shapes a 100 TB pipeline needs beyond plain equi-joins, each proven
  * result-identical to its naive formulation under the DuckDB hash gate:
  *
  *  - j10: salted skewed equi-join (graft.functions.Skew) — one hot
  *    key's single reducer becomes N parallel reducers, result unchanged.
  *  - j11: as-of join (latest prior click per purchase) as ONE shuffle:
  *    union-tag + running `last(ignoreNulls)` window, instead of a
  *    per-row inequality join (which explodes at scale).
  *  - j12: time-range (band) join via bounded bucket fan-out: each probe
  *    row joins exactly 2 coarse time buckets instead of the whole
  *    history of its key, then the exact band predicate filters.
  *  - sim_recall: ANN quality measurement as a query — recall@k of the
  *    LSH path against the brute-force ground truth (the check you run
  *    before trusting an approximate index at scale).
  *  - e7: the dvid injection pattern as Structured Streaming —
  *    foreachBatch appends each arriving file batch to the
  *    dvid-partitioned store (EventStream.incrementalIngest).
  *  - e15/e16: incremental view maintenance — monoid partial-aggregate
  *    merge, and COUNT(DISTINCT) via the mergeable KMV sketch.
  *  - e17/e18: exactly-once ingest — the idempotent overwrite-own-dvid
  *    sink (redelivery-proof) and checkpointed resume (restart-proof).
  */
object ScaleOps extends CatalogModule {

  private val DIM = 64

  // J10: salted join on a maximally skewed key (l_returnflag has 3
  // values — every key is a hot key). Result must equal the plain join
  // exactly; only the physical key distribution changes.
  private def j10SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    val dim = Tables.lineitem(spark, dir).select("l_returnflag").distinct()
      .withColumn("flag_name", concat(lit("flag_"), col("l_returnflag")))
    graft.functions.Skew.saltedJoin(fact, dim, Seq("l_returnflag"), salts = 8)
      .groupBy("flag_name")
      .agg(count(lit(1)).as("n_lines"), round(sum("l_quantity"), 2).as("total_qty"))
      .orderBy("flag_name")
  }

  // J10B: the SAME skewed join UN-salted, rescued by AQE at runtime —
  // the counterpart that documents when the engine should NOT hand-salt.
  // Manual salting (j10) pays its exploded dim and salted shuffle on
  // every run, known-skew-or-not; AQE's skew-join handling detects the
  // oversized post-shuffle partition at runtime and splits it across
  // tasks with NO logical-plan change, which is the right default when
  // skew is data-dependent. Thresholds are scaled to local data sizes —
  // a 100 TB job tunes the ratios, not the absolutes. Broadcast is
  // disabled so the join genuinely sort-merges (the skewed case AQE
  // splits); the downstream aggregate keys on flag_name, NOT the join
  // key, so the split doesn't violate a required distribution.
  // The fact rows carry a 64-byte incompressible payload (sha2 of the
  // row key): testdata lineitem rows are a few bytes post-compression,
  // far narrower than any production fact row — the payload restores a
  // realistic row width so the hot partition crosses the (scaled-down)
  // byte threshold at every SF. It survives pruning because the output
  // aggregates over it. PlanShapeSpec asserts the executed plan carries
  // the skew split.
  private def j10bAqeSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val ns = spark.newSession()
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ns.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    ns.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    ns.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
    ns.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    // spreadForMap: a single-file scan yields ONE mapper, and AQE's
    // skew splitter works at map-chunk granularity — one mapper means
    // the hot partition is one unsplittable chunk. A real 100 TB fact
    // scan has thousands of splits; this restores that shape locally.
    val fact = Tables.spreadForMap(
        Tables.lineitem(ns, dir)
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
        col("l_orderkey"))
      .withColumn("payload", sha2(concat(col("l_orderkey").cast("string"),
        lit("_"), col("l_linenumber").cast("string")), 256))
    // the dim MATERIALIZED as a standalone table (what it is in
    // production) — measured lesson: OptimizeSkewedJoin only matches
    // SMJ(Sort(shuffle), Sort(shuffle)), so a dim built by distinct()
    // leaves its final HashAggregate under the Sort and silently
    // disables the skew split. 3 rows, trivially checkpointable.
    val dim = Tables.lineitem(ns, dir).select("l_returnflag").distinct()
      .withColumn("flag_name", concat(lit("flag_"), col("l_returnflag")))
      .localCheckpoint(true)
    fact.join(dim, Seq("l_returnflag"))
      .groupBy("flag_name")
      .agg(count(lit(1)).as("n_lines"), round(sum("l_quantity"), 2).as("total_qty"),
        sum(length(col("payload"))).as("payload_bytes"))
      .orderBy("flag_name")
  }

  // J13: bucketed co-located join — the "pre-shuffle once, join many
  // times free" piece of the 100 TB design as a first-class entry: both
  // sides of the recurring orders⋈lineitem join are written as
  // bucketed+sorted managed tables, and the join itself runs with NO
  // exchange on either side (ScaleMechanicsSpec asserts the plan;
  // Bucketing.hasShuffle is the hook). Bucketing is plan-level physics
  // only — rows identical to the plain join, which is exactly what the
  // oracle replays. Aggregates are chosen exact (counts, integer-valued
  // quantity sums, max) so the hash gate is float-order-proof. Table
  // names are dir-scoped: one session benches several SFs.
  // the bucketed tables are the entry's amortized one-time cost — write
  // them once per (app, dir) so in-session re-runs (tests, verify after
  // bench) pay only the shuffle-free join
  private def j13BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    // app-scoped + dir-scoped: two Spark apps sharing one warehouse (or
    // a dir-hash collision) must not DROP/overwrite each other's tables
    // while the other app's memo still believes its tables are valid
    val tag = Artifacts.scratchTag(spark, dir)
    graft.core.AppCache.memo(spark, "scaleops.j13Tables", dir) {
      // cross-process hygiene, the scratch dirs' age-gated policy
      // (Artifacts.freshScratchDir): dead apps' bucketed tables stop
      // accumulating in the shared warehouse (each run otherwise leaves
      // two app-tagged copies of orders+lineitem behind), while a LIVE
      // concurrent app's tables are freshly modified and never touched.
      // Metastore entries die with their JVM (in-memory catalog); the
      // on-disk table dirs are what leaks, so the reap is FS-level.
      val appHex = tag.takeWhile(_ != '_')
      val wh = new java.net.URI(
        spark.conf.get("spark.sql.warehouse.dir")).getPath
      Artifacts.reapStaleWhere(wh, name =>
        name.startsWith("j13_") && !name.contains(s"_${appHex}_"))
      val orders = Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val li = Tables.lineitem(spark, dir)
        .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      graft.functions.Bucketing.writeBucketed(orders, s"j13_orders_$tag",
        "o_orderkey", 8)
      graft.functions.Bucketing.writeBucketed(li, s"j13_lineitem_$tag",
        "o_orderkey", 8)
    }
    graft.functions.Bucketing.bucketedJoin(spark,
        s"j13_orders_$tag", s"j13_lineitem_$tag", "o_orderkey")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_items"),
        sum("l_quantity").as("total_qty"),
        max("o_totalprice").as("max_price"))
      .orderBy("o_custkey")
  }

  // J11: as-of join — for each purchase event, the latest click of the
  // same user at-or-before the purchase time. The scalable shape: tag
  // both sides, ONE shuffle on user_id, and a running last(ignoreNulls)
  // window — never a per-row inequality join. Ties (click ts == purchase
  // ts) count as prior (kind orders clicks first); equal-ts clicks
  // resolve to the max event_id (ascending order, last wins).
  private def j11AsOfJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), lit(0).as("kind"), col("event_id"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), lit(1).as("kind"), col("event_id"),
        lit(null).cast("long").as("click_id"),
        lit(null).cast("timestamp").as("click_ts"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    clicks.unionByName(purchases)
      .withColumn("last_click_id", last(col("click_id"), ignoreNulls = true).over(w))
      .withColumn("last_click_ts", last(col("click_ts"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        coalesce(col("last_click_id"), lit(-1L)).as("last_click_id"),
        coalesce(unix_micros(col("ts")) - unix_micros(col("last_click_ts")),
          lit(-1L)).as("gap_us"))
      .orderBy("purchase_id")
  }

  // J11b: the SAME as-of semantics as j11, through the engine's native
  // custom operator (graft.plans.AsOfJoinPlan → AsOfJoinStrategy →
  // AsOfJoinExec, injected by GraftExtensions). One exchange + sort per
  // side, then a single forward merge pass holding ONE buffered click —
  // O(1) state per partition instead of j11's union + running-window
  // over both sides. The two sides are loaded as INDEPENDENT scans so
  // each carries its own attribute lineage (the operator references
  // key/time by name, but analyzer self-join dedup is still cleaner
  // avoided than survived). Oracle: identical SQL to j11 — the window
  // formulation IS the spec for the native operator.
  private def j11bAsOfNative(spark: SparkSession, dir: String): DataFrame = {
    val clicks = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    graft.plans.AsOfJoinOps.asOfJoin(purchases, clicks,
        leftKey = "user_id", leftTime = "ts",
        rightKey = "c_user", rightTime = "click_ts",
        tieBreak = Seq("click_id"))
      .select(col("purchase_id"), col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("last_click_id"),
        coalesce(unix_micros(col("ts")) - unix_micros(col("click_ts")),
          lit(-1L)).as("gap_us"))
      .orderBy("purchase_id")
  }

  // J11c: the SAME as-of semantics a third time, now through the SQL
  // surface — the GraftSqlParser extension (plans/GraftSqlParser.scala)
  // parses `ASOF JOIN … ON … AT … TIE …` DIRECTLY to AsOfJoinPlan over
  // the registered views, completing the §2.13 ladder's last injection
  // point (functions, aggregate, optimizer rule, planner strategy, and
  // now the parser). Identical physical pipeline to j11b; identical
  // oracle to j11/j11b — the window formulation stays the spec.
  private def j11cAsOfSql(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .createOrReplaceTempView("j11c_clicks")
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
      .createOrReplaceTempView("j11c_purchases")
    spark.sql(
      """ASOF JOIN j11c_purchases AND j11c_clicks
        |ON user_id = c_user AT click_ts <= ts TIE click_id""".stripMargin)
      .select(col("purchase_id"), col("user_id"),
        coalesce(col("click_id"), lit(-1L)).as("last_click_id"),
        coalesce(unix_micros(col("ts")) - unix_micros(col("click_ts")),
          lit(-1L)).as("gap_us"))
      .orderBy("purchase_id")
  }

  // J12: band join — clicks in the 30 minutes before each purchase by
  // the same user. Scale shape: coarse 30-min time buckets bound the
  // fan-out (each purchase probes exactly 2 buckets of its user), the
  // exact band predicate filters after the equi-join on (user, bucket).
  private def j12RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val BIN = 1800L * 1000000L // band width in microseconds
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), unix_micros(col("ts")).as("cus"), col("value"))
      .withColumn("bin", floor(col("cus") / BIN))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("pus"))
    val probed = purchases
      .withColumn("bin", explode(array(floor(col("pus") / BIN) - 1, floor(col("pus") / BIN))))
    val agg = probed.join(clicks, Seq("user_id", "bin"))
      .filter(col("cus") >= col("pus") - BIN && col("cus") < col("pus"))
      .groupBy("event_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
    purchases.select("event_id", "user_id")
      .join(agg, Seq("event_id"), "left")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        coalesce(col("n"), lit(0L)).as("n_clicks"),
        coalesce(col("v"), lit(0.0)).as("click_value"))
      .orderBy("purchase_id")
  }

  // ANN recall@5 of the sign-LSH path against EXACT ground truth on a
  // fixed-size hash-picked probe panel. Integer hit counts with ONE
  // final division keep the statistic bit-exact across engines (no
  // accumulated float error to round away). Both top-5 sets rank on the
  // 6-decimal cosine with a dst tie-break — ranking on the raw double
  // would let engine-side fold-order noise flip rank 5 between
  // near-equal cosines and change the hit set.
  //
  // Panel, not all-pairs: the r12 formulation rode the shared all-pairs
  // KnnCache, so the audit itself was O(n²) and died with the corpus
  // (>570 s at sf10's 200k vectors). Truth against a pseudoUniform-
  // ranked RECALL_PANEL costs panel·n — one broadcast nested-loop of
  // the corpus scan against the panel rows plus one src-keyed shuffle —
  // which is the only shape a recall audit can have at 100 TB, and the
  // statistic it reports (recall@5 over a deterministic query sample)
  // is the one a production index audit reports anyway.
  private val RECALL_PANEL = 1024
  /** e16's sketch size — ONE definition interpolated into both the
    * entry and its oracle SQL (r14 ADVICE: a drifted literal would
    * mislabel regimes inscrutably). */
  private val E16_K = 8192
  private def simRecallEval(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // panel and truth table are each consumed twice below; without the
    // checkpoints the executed plan evaluated the panel·n
    // BroadcastNestedLoopJoin (a dot product per corpus×panel pair)
    // TWICE — once under n_true, once under hits — and re-derived the
    // probe pick per broadcast (guide §2.4: duplicated subtrees). Both
    // tables are panel-sized (≤ RECALL_PANEL·k rows), so the
    // materialization is metadata-priced and the heavy scan runs once.
    val probes = Similarity.hashRankedPick(
        e.select(col("vec_id").as("cid"),
          col("embedding").cast("array<double>").as("pv")),
        RECALL_PANEL, 29L, "pr")
      .select(col("cid").as("src"), col("pv").as("qv"),
        Similarity.norm(col("pv")).as("qn"))
      .localCheckpoint(true)
    // The BNLJ (and the partial per-partition top-5 WindowGroupLimit
    // above it) inherits the corpus SCAN's partitioning — a panel-sized
    // parquet input is one split, so the whole panel·n truth scan plus
    // its 2M-row top-5 sort ran in ONE task (probe: 6.2 of the entry's
    // 6.8 s in that stage). Spread the stream side by pair MASS before
    // the join: ~64k scored pairs per task, floored at the host
    // parallelism, capped at 4× it (guide §2.2/§2.5 — derived from the
    // input, not a local[32] constant). Hash on dst (unique per corpus
    // row) rather than round-robin: no sort-before-repartition pass,
    // and the layout is deterministic under retries.
    val nCorpus = e.count()
    val par = spark.sparkContext.defaultParallelism
    val bnljWidth = math.min(math.max(
      nCorpus * RECALL_PANEL / 65536L, par.toLong), 4L * par).toInt
    val corpus = e.select(col("vec_id").as("dst"),
        col("embedding").cast("array<double>").as("cv"))
      .repartition(bnljWidth, col("dst"))
      .withColumn("cn", Similarity.norm(col("cv")))
    val scored = corpus.join(broadcast(probes), col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        (Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(round(col("cos"), 6).desc, col("dst").asc)
    val brute = scored.withColumn("rn", row_number().over(bw))
      .filter(col("rn") <= 5).select("src", "dst")
      .localCheckpoint(true)
    // the SAME adaptive plane count the serving entry (sim_lsh_topk)
    // uses — recall is only meaningful for the configuration served;
    // the LSH side runs the full bucketed join (linear) and is then
    // restricted to the panel
    val lsh = Similarity.lshTopK(e, "vec_id", "embedding",
      dim = DIM, nPlanes = Similarity.scaleNPlanes(nCorpus), k = 5,
      rankRounded = true).select("src", "dst")
      .join(probes.select("src"), Seq("src"), "left_semi")
    val perQuery = brute.groupBy("src").agg(count(lit(1)).as("n_true"))
      .join(brute.join(lsh, Seq("src", "dst"), "left_semi")
        .groupBy("src").agg(count(lit(1)).as("hits")), Seq("src"), "left")
      .select(col("src"), col("n_true"), coalesce(col("hits"), lit(0L)).as("hits"))
    perQuery.agg(
      count(lit(1)).as("n_queries"),
      sum("hits").as("hits"),
      sum("n_true").as("n_true"),
      (sum("hits").cast("double") / sum("n_true")).as("recall_micro"),
      min("hits").as("min_hits"),
      sum(when(col("hits") === col("n_true"), 1L).otherwise(0L)).as("n_perfect"))
  }

  // E7/§2.12: incremental dvid ingest as Structured Streaming — two
  // "injection" file drops, each drained by a foreachBatch
  // Trigger.AvailableNow run appending to the dvid-partitioned store;
  // the readback per-dvid histogram is the reference's injection
  // verification (fifth_data_injection.py:154-158) over a stream.
  private def e7IncrementalIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = Artifacts.freshScratchDir(spark, "e7", dir)
    val ev = Tables.events(spark, dir)
    val store = s"$base/store"
    Seq(0, 1).foreach { i =>
      val src = s"$base/src$i"
      ev.filter(pmod(col("event_id"), lit(2)) === i).write.parquet(src)
      graft.streaming.EventStream.incrementalIngest(spark, src, store, startDvid = i + 1)
    }
    spark.read.parquet(store)
      .groupBy("dvid", "event_type").agg(count(lit(1)).as("cnt"))
      .orderBy("dvid", "event_type")
  }

  // E15: incremental AGGREGATE maintenance — the materialized-view
  // refresh pattern. e7 maintains the raw dvid store; this maintains a
  // metadata-sized AGGREGATE STATE over it: each arriving batch writes
  // only ITS OWN partial aggregates (count/sum/min/max per group — all
  // commutative monoids) as a new dvid partition of the state table,
  // and the serving aggregate is a MERGE of partials (sum the counts,
  // sum the sums, min the mins, max the maxes). At 100 TB this is the
  // difference between "refresh rescans the corpus" and "refresh costs
  // |delta| + |groups|": history is never re-read, the state table is
  // |groups|·|batches| rows, and the merge job is metadata-sized.
  // Non-decomposable aggregates ride the decomposable ones (avg =
  // merged sum / merged count); sums are exact integer cents so the
  // merge order can never change the answer. The DuckDB oracle is the
  // FULL RECOMPUTE over the raw table — the hash gate proves the
  // incremental path equals the from-scratch path.
  private def e15IncrementalAggMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = Artifacts.freshScratchDir(spark, "e15", dir)
    val state = s"$base/agg_state"
    // stage the three arrivals as real per-batch directories (one
    // partitioned write), so each ingest below genuinely reads ONLY its
    // delta's files — the shape a drop-in arrival has in production
    val deltas = s"$base/deltas"
    Tables.events(spark, dir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .withColumn("b", pmod(col("event_id"), lit(3)))
      .write.partitionBy("b").parquet(deltas)
    // three ingests; each scans only its delta and appends one partial
    // partition — the base corpus is never re-read by a later batch
    Seq(0, 1, 2).foreach { i =>
      spark.read.parquet(s"$deltas/b=$i")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_c"),
          min("cents").as("min_c"), max("cents").as("max_c"))
        .withColumn("dvid", lit(i + 1))
        .write.mode("append").partitionBy("dvid").parquet(state)
    }
    // merge-on-read: re-aggregate the monoid partials — |groups|·3 rows
    spark.read.parquet(state)
      .groupBy("event_type")
      .agg(sum("n").as("n_events"), sum("sum_c").as("sum_cents"),
        min("min_c").as("min_cents"), max("max_c").as("max_cents"))
      .orderBy("event_type")
  }

  // E16: incremental COUNT(DISTINCT) — the aggregate e15's monoid merge
  // CANNOT maintain (distinct counts don't add across batches: the same
  // user appears in many deltas). The KMV sketch (plans/expressions
  // .scala) makes it mergeable: each batch persists one fixed-size
  // binary sketch per group, and serving unions the sketches — the same
  // aggregate, switched to binary input. Below k distinct keys the
  // sketch is EXACT (the mix is a bijection, so the k smallest hashes
  // ARE the distinct set), which is what lets the oracle be a plain
  // COUNT(DISTINCT); beyond k it degrades to a ~1/√k-error estimate at
  // the SAME state size — at 100 TB the state per group is 64 KB
  // whether the group has 10³ or 10¹⁰ distinct users, and refresh cost
  // is |delta| + |groups|, never a re-scan of history.
  private def e16IncrementalDistinct(spark: SparkSession, dir: String): DataFrame =
    e16Core(spark, dir, E16_K, "e16")

  /** e16's machinery with the sketch size as a parameter — the entry
    * runs K = E16_K; ScaleMechanicsSpec runs a tiny K against the same
    * table to force the SATURATED regime (unreachable below ~sf5 at
    * the shipped K) and prove the est_ok tolerance audit fires. */
  private[graft] def e16Core(spark: SparkSession, dir: String, K: Int,
                             tag: String): DataFrame = {
    import graft.plans.expressions.{kmv_sketch, kmv_card}
    val base = Artifacts.freshScratchDir(spark, tag, dir)
    val state = s"$base/distinct_state"
    // staged per-batch dirs (e15's discipline): each ingest reads only
    // its own delta's files, never the corpus
    val deltas = s"$base/deltas"
    Tables.events(spark, dir)
      .withColumn("b", pmod(col("event_id"), lit(3)))
      .write.partitionBy("b").parquet(deltas)
    Seq(0, 1, 2).foreach { i =>
      spark.read.parquet(s"$deltas/b=$i")
        .groupBy("event_type")
        .agg(kmv_sketch(col("user_id").cast("long"), K).as("sk"))
        .withColumn("dvid", lit(i + 1))
        .write.mode("append").partitionBy("dvid").parquet(state)
    }
    // materialize the |groups|-row merged frame once so the exactness
    // gate below and the final readout share ONE evaluation of the
    // sketch-union aggregate (the entry's heaviest job), instead of the
    // gate silently doubling it
    val merged = spark.read.parquet(state)
      .groupBy("event_type")
      .agg(kmv_sketch(col("sk"), K).as("sk")) // binary input → sketch union
      .localCheckpoint(true)
    // REGIME-AWARE readout, read off the checkpointed sketch rows: the
    // binary layout is [k][n][n longs], so a merged sketch is exact iff
    // its length stays under 8 + 8k (n < k; at n == k KmvCardinality
    // already switches to the estimator). Per group:
    //  - exact regime → regime='exact', n_users = the distinct count
    //    (the k smallest hashes ARE the distinct set), hash-gated
    //    against the plain COUNT(DISTINCT) oracle;
    //  - saturated    → regime='estimate', n_users NULL (no portable
    //    SQL reproduces the sketch's mix function bit-for-bit), and the
    //    contract DEGRADES instead of retiring (r14 ADVICE — the r13
    //    shape NULLed the estimate column, so any SF with a saturated
    //    group could never hash-green): est_ok carries a TOLERANCE gate
    //    |est/exact - 1| <= 4/sqrt(K) (4x the KMV ~1/sqrt(k) std err)
    //    checked Spark-side against an exact audit recount, while the
    //    oracle emits literal TRUE — so the hash stays green at EVERY
    //    SF and a drifted estimator flips est_ok scrutably. The audit
    //    recount scans only the SATURATED groups' rows, and only when
    //    any exist (below ~sf5 none do, so gate/bench SFs pay nothing);
    //    it is the gate's instrument, not the serve path — at 100 TB
    //    you serve kmv_card(sk) and audit offline. The raw estimate's
    //    error law stays pinned by a16b's two-scale gate and
    //    ScaleMechanicsSpec.
    // The r12 formulation require()-failed on saturation, which
    // protected the oracle but meant the entry REFUSED to serve exactly
    // where a KMV-backed distinct store earns its keep (first hit by
    // the full-catalog sf10 run).
    val isEst = length(col("sk")) >= lit(8 + 8 * K)
    val sat = merged.filter(isEst).select("event_type")
    val estOkCol =
      if (sat.isEmpty) lit(true)
      else {
        val exact = spark.read.parquet(deltas)
          .join(broadcast(sat), "event_type")
          .groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("n_exact"))
        val audited = merged.filter(isEst)
          .join(exact, Seq("event_type"), "left")
          .select(col("event_type"),
            (abs(kmv_card(col("sk")).cast("double") / col("n_exact") - 1.0)
              <= lit(4.0 / math.sqrt(K.toDouble))).as("ok"))
          .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
        // |saturated groups| entries — metadata-scale literal map
        coalesce(element_at(
          typedLit[Map[String, Boolean]](audited), col("event_type")),
          lit(true))
      }
    merged.select(col("event_type"),
        when(isEst, lit("estimate")).otherwise(lit("exact")).as("regime"),
        when(isEst, lit(null).cast("long"))
          .otherwise(kmv_card(col("sk"))).as("n_users"),
        estOkCol.as("est_ok"))
      .orderBy("event_type")
  }

  // E17: exactly-once under REPLAY — the delivery-retry leg e7's
  // append-mode ingest cannot survive (an at-least-once transport WILL
  // redeliver a batch eventually, and append doubles it). The
  // idempotent sink overwrites the batch's OWN dvid partition (dynamic
  // partition overwrite), so (dvid → content) is a function of the
  // batch, not of the delivery count. The entry ingests two batches,
  // then REDELIVERS the second in full; the oracle aggregates the raw
  // table once — a doubled batch flips every count and the hash gate
  // with it. At 100 TB this is what lets a failed ingest job simply be
  // re-run: no dedup scan of the store, no transaction log, just
  // partition-scoped last-writer-wins keyed by batch identity.
  private def e17IdempotentReplay(spark: SparkSession, dir: String): DataFrame = {
    val base = Artifacts.freshScratchDir(spark, "e17", dir)
    val ev = Tables.events(spark, dir)
    val store = s"$base/store"
    Seq(0, 1).foreach { i =>
      ev.filter(pmod(col("event_id"), lit(2)) === i)
        .write.parquet(s"$base/src$i")
      graft.streaming.EventStream.idempotentIngest(
        spark, s"$base/src$i", store, startDvid = i + 1)
    }
    // the retry: batch 2 arrives AGAIN in full
    graft.streaming.EventStream.idempotentIngest(
      spark, s"$base/src1", store, startDvid = 2)
    spark.read.parquet(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .orderBy("event_type")
  }

  // E18: checkpoint RESUME — the source-side exactly-once half (e17's
  // idempotent sink is the sink side). A checkpointed AvailableNow query
  // drains the source dir, the pipeline stops (deploy, crash, nightly
  // window), MORE files arrive, and the restarted query — same
  // checkpoint — processes ONLY the new arrivals: the file-source
  // offsets persist, so already-ingested files can never re-enter the
  // store no matter how many times the job is bounced. The oracle
  // aggregates the raw table once; a restart that re-read drain 1's
  // files would double them and flip the hash. At 100 TB this is what
  // makes ingest a CRON JOB instead of a long-lived process: each run
  // costs |new files|, state is the checkpoint's offset log, and the
  // dvid per drain gives the store its version lineage for free
  // (batchId continues across restarts).
  private def e18CheckpointResume(spark: SparkSession, dir: String): DataFrame = {
    val base = Artifacts.freshScratchDir(spark, "e18", dir)
    val ev = Tables.events(spark, dir)
    val src = s"$base/src"
    val store = s"$base/store"
    val ckpt = s"$base/ckpt"
    // drain 1: half the corpus is present
    ev.filter(pmod(col("event_id"), lit(2)) === 0)
      .write.mode("append").parquet(src)
    graft.streaming.EventStream.checkpointedIngest(spark, src, store, ckpt,
      startDvid = 1)
    // the pipeline is DOWN while the rest arrives
    ev.filter(pmod(col("event_id"), lit(2)) === 1)
      .write.mode("append").parquet(src)
    // drain 2: same checkpoint — only the new files are read
    graft.streaming.EventStream.checkpointedIngest(spark, src, store, ckpt,
      startDvid = 1)
    spark.read.parquet(store)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
      .orderBy("event_type")
  }

  /** e19's per-micro-batch MERGE: one CDC batch (op ∈ U/D/I rows)
    * applied to the month-partitioned store with s16's copy-on-write
    * discipline — read ONLY the touched months, anti-join the touched
    * keys out, re-insert the upserts, stage off-lineage, dynamic
    * partition overwrite so untouched months' files never move.
    * Package-private: the spec drives it directly to pin the
    * partition-scoped rewrite. */
  private[graft] def e19MergeBatch(store: String)(
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
      batchId: Long): Unit = {
    val sp = batch.sparkSession
    val months = batch.select("o_month").distinct()
      .collect().map(_.getString(0)).toSeq
    if (months.nonEmpty) {
      val cur = sp.read.parquet(store).filter(col("o_month").isin(months: _*))
      val touched = batch.select("o_orderkey").distinct()
      val upserts = batch.filter(col("op") =!= "D")
        .select("o_orderkey", "o_totalprice", "o_month")
      cur.join(touched, Seq("o_orderkey"), "left_anti")
        .unionByName(upserts)
        .localCheckpoint(true) // stage off-lineage before self-overwrite
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_month").parquet(store)
    }
  }

  // E19: STREAM→LAKEHOUSE CDC MERGE — the composition the e- and
  // s-families left open: e17/e18 land raw appends exactly-once, s16
  // merges a batch of changes, but a production CDC feed is a STREAM of
  // ordered change batches that must maintain the lakehouse table
  // continuously. foreachBatch applies each micro-batch with the s16
  // copy-on-write mechanics (per batch: |touched months| read +
  // rewrite, never the table); the e18 checkpoint makes the source
  // exactly-once across restarts — the updates batch drains, the
  // pipeline is DOWN while the deletes+inserts batch arrives, and the
  // restarted query applies only the new batch, in arrival order
  // (delete-after-update wins by ORDER, not by precedence logic).
  // The oracle is s16's relational MERGE truth verbatim: the streamed
  // ordered application must reach exactly the state the batch MERGE
  // declares — stream/batch parity for table maintenance, the same
  // contract e3 pins for aggregation.
  /** The months e19's change feed touches — shared with e20, whose
    * compaction targets exactly the partitions the merges rewrote. */
  private val e19Months = Seq("1996-03", "1996-04")

  // the merged CDC store is a pure function of the dir — build ONCE per
  // (app, dir) (two checkpointed drains + two copy-on-write merges) and
  // share between e19 (serve the merged table) and e20 (compact it,
  // then serve): one maintained table, many readers — the
  // sharedPublishedRoot/sharedIvfIndex economics. Bench reruns report
  // the memo; the `first` map keeps the honest cold wall.
  private def e19MergedStore(spark: SparkSession, dir: String): String =
    graft.core.AppCache.memo(spark, "scaleops.e19Store", dir) {
    val base = Artifacts.freshScratchDir(spark, "e19", dir)
    val src = s"$base/changes"; val store = s"$base/store"
    val ckpt = s"$base/ckpt"
    val months = e19Months
    val orders = Tables.orders(spark, dir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .select("o_orderkey", "o_totalprice", "o_month")
    orders.write.partitionBy("o_month").parquet(store)
    val maxKey = orders.agg(max("o_orderkey")).head().getLong(0)
    val affected = orders.filter(col("o_month").isin(months: _*))
    def drain(): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(e19MergeBatch(store) _)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // change batch 1: price updates (+$5.00, key ≡ 0 mod 37) — drained
    affected.filter(pmod(col("o_orderkey"), lit(37)) === 0)
      .select(lit("U").as("op"), col("o_orderkey"),
        (col("o_totalprice") + 5.0).as("o_totalprice"), col("o_month"))
      .write.mode("append").parquet(src)
    drain()
    // the pipeline is DOWN while batch 2 arrives: deletes (≡ 0 mod 101,
    // overriding batch 1's update where both hit) + inserts (clones of
    // ≡ 0 mod 97 under fresh keys, original price)
    affected.filter(pmod(col("o_orderkey"), lit(101)) === 0)
      .select(lit("D").as("op"), col("o_orderkey"),
        col("o_totalprice"), col("o_month"))
      .unionByName(affected.filter(pmod(col("o_orderkey"), lit(97)) === 0)
        .select(lit("I").as("op"),
          (col("o_orderkey") + lit(maxKey + 1)).as("o_orderkey"),
          col("o_totalprice"), col("o_month")))
      .write.mode("append").parquet(src)
    // drain 2, same checkpoint: only the new batch is read and applied
    drain()
    store
  }

  /** The o_month readout every table-maintenance entry serves (s22,
    * e19, e20, e21, s23): one aggregate, so "the maintenance is reader-
    * invisible" is always proven on the exact same columns. */
  private[graft] def monthReadout(table: DataFrame): DataFrame =
    table.groupBy("o_month")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"),
        sum(col("o_orderkey")).as("key_sum"))

  /** One order-year of (o_orderkey, o_totalprice, o_month) — the store
    * s22, e21 and s23 maintain: partition-dir count, not row mass,
    * prices the staging write, so 12 month dirs demonstrate every
    * mechanic. */
  private[graft] def orders1996(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .filter(col("o_month").startsWith("1996-"))
      .select("o_orderkey", "o_totalprice", "o_month")

  private def e19StreamCdcMerge(spark: SparkSession, dir: String): DataFrame =
    monthReadout(spark.read.parquet(e19MergedStore(spark, dir))).orderBy("o_month")

  // E20: CDC MERGE → COMPACT → SERVE — closing the maintenance loop the
  // e/s families leave at "merged": every copy-on-write merge rewrites
  // its touched partitions with one file per write task, so a
  // continuously maintained table accretes a small-file tail exactly
  // where the churn is — and at 100 TB the listing/task-scheduling tail,
  // not bytes, is what degrades readers (the s13 thesis). The entry runs
  // s13's ZERO-SHUFFLE coalesce compaction over each merge-touched month
  // of e19's store into fresh serve partitions (partition dirs are the
  // unit of compaction — bounded work per partition, trivially parallel
  // across partitions at scale), then serves the table a reader would
  // see after the swap: compacted touched months + untouched months as
  // they were. The oracle is the SAME relational MERGE truth as e19, so
  // the hash gate proves merge→compact→serve ≡ merge→serve — compaction
  // is invisible to every reader. File-count collapse on the touched
  // partitions is asserted in ScaleMechanicsSpec.
  private def e20CdcCompactServe(spark: SparkSession, dir: String): DataFrame = {
    val store = e19MergedStore(spark, dir)
    val serve = Artifacts.freshScratchDir(spark, "e20", dir)
    var (inFiles, outFiles) = (0, 0)
    e19Months.foreach { m =>
      val part = s"$store/o_month=$m"
      inFiles += graft.sources.Compactor.dataFiles(spark, part)
      outFiles += graft.sources.Compactor.compact(spark, part,
        s"$serve/o_month=$m", targetBytes = 1L << 40) // → 1 file/partition
    }
    require(outFiles <= inFiles,
      s"e20: compaction grew the file count ($inFiles -> $outFiles)")
    val compacted = spark.read.parquet(serve) // discovery re-derives o_month
    val untouched = spark.read.parquet(store)
      .filter(!col("o_month").isin(e19Months: _*))
    monthReadout(compacted.select(untouched.columns.map(col): _*)
      .unionByName(untouched)).orderBy("o_month")
  }

  // E21: STREAMED MERGE-ON-READ DELETES — completes the table-
  // maintenance matrix: e19 streams changes with COPY-ON-WRITE
  // (read-optimal: every batch rewrites its touched partitions),
  // s22 takes one delete batch MERGE-ON-READ (write-optimal: the
  // delete IS the write); e21 is the streaming MOR corner — a
  // checkpointed delete FEED whose foreachBatch appends each
  // micro-batch as O(|batch keys|) month-partitioned tombstone files,
  // never touching a data file. The pipeline restarts between batches
  // (e18's source exactly-once: only the new feed files are read), the
  // MOR readout anti-joins the broadcast tombstone union, and ONE
  // materialization pass then folds every tombstone into exactly the
  // touched partitions and retires them. Deletes are idempotent under
  // key overlap across batches (mod-7 ∩ mod-11 keys) via distinct.
  // At 100 TB this is the GDPR/cancellation trickle path: per-batch
  // cost is the keys themselves, partition rewrites amortize into one
  // consolidation job scheduled like s13's compaction. Phase-tagged
  // readouts under ONE relational delete-truth oracle, so the hash
  // gate proves stream-MOR ≡ materialized ≡ truth.
  private def e21StreamMorDeletes(spark: SparkSession, dir: String): DataFrame = {
    val base = Artifacts.freshScratchDir(spark, "e21", dir)
    val src = s"$base/delete_feed"; val store = s"$base/store"
    val tomb = s"$base/tombstones"; val ckpt = s"$base/ckpt"
    val orders = orders1996(spark, dir)
    orders.write.partitionBy("o_month").parquet(store)
    def drain(): Unit = {
      val q = spark.readStream
        .schema(spark.read.parquet(src).schema).parquet(src)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) =>
            // the delete IS the write: O(|batch keys|) appended, no
            // data file touched
            batch.write.mode("append").partitionBy("o_month").parquet(tomb)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    // delete batch 1: keys ≡ 0 mod 7 in 1996-05/06 — drained
    orders.filter(col("o_month").isin("1996-05", "1996-06") &&
        pmod(col("o_orderkey"), lit(7)) === 0)
      .select("o_orderkey", "o_month").write.mode("append").parquet(src)
    drain()
    // pipeline DOWN while batch 2 arrives: keys ≡ 0 mod 11 in 1996-07
    // (plus any mod-77 overlap with batch 1 — idempotent by distinct)
    orders.filter(col("o_month") === "1996-07" &&
        pmod(col("o_orderkey"), lit(11)) === 0)
      .select("o_orderkey", "o_month").write.mode("append").parquet(src)
    drain() // same checkpoint: only the new feed files are read
    val touched = graft.core.PosixCommit.partitions(tomb, "o_month")
    require(touched.nonEmpty,
      "e21: the delete feed matched no rows at this SF — densify the predicates")
    val tombs = spark.read.parquet(tomb).select("o_orderkey").distinct()
    def readout(table: DataFrame, phase: String) =
      monthReadout(table).withColumn("phase", lit(phase))
    // checkpoint BEFORE the rewrite: a lazy MOR frame would re-read the
    // already-materialized store and gate vacuously
    val mor = readout(spark.read.parquet(store)
        .join(broadcast(tombs), Seq("o_orderkey"), "left_anti"), "mor")
      .localCheckpoint(true)
    morFold(spark, store, touched, tombs)
    // tombstone retirement LAST (the MOR-fold commit point) — seam-
    // routed per-key deletes
    graft.core.PosixCommit.deleteDir(tomb)
    mor.unionByName(readout(spark.read.parquet(store), "materialized"))
      .orderBy("phase", "o_month")
  }

  /** THE merge-on-read FOLD: rewrite exactly the tombstone-touched
    * o_month partitions of `store` minus the tombstone keys (s16's
    * dynamic-overwrite mechanics), shared by s22 (batch MOR), e21
    * (streamed MOR) and s23 (the scheduler). Dynamic partition
    * overwrite only replaces partitions PRESENT in the written frame —
    * a month whose every row was deleted writes nothing and its stale
    * files would silently survive the fold — so partitions that
    * emptied out are deleted explicitly (their survivor set is a
    * |touched partitions|-bounded readout off the already-checkpointed
    * fold frame, never a second corpus scan). `broadcastTombs=false`
    * is the above-threshold regime: a tombstone set big enough to
    * trigger the fold is by definition too big to assume broadcastable,
    * so the one-time rewrite pays a shuffled anti-join instead. */
  private[graft] def morFold(spark: SparkSession, store: String,
                             touched: Seq[String], tombs: DataFrame,
                             broadcastTombs: Boolean = true,
                             proto: graft.core.CommitProtocol =
                               graft.core.PosixCommit): Unit = {
    val keys = tombs.select("o_orderkey")
    val folded = spark.read.parquet(store)
      .filter(col("o_month").isin(touched: _*))
      .join(if (broadcastTombs) broadcast(keys) else keys.hint("shuffle_hash"),
        Seq("o_orderkey"), "left_anti")
      .localCheckpoint(true) // stage off-lineage before self-overwrite
    val survived = folded.select("o_month").distinct()
      .collect().map(_.getString(0)).toSet
    folded.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_month").parquet(store)
    // seam-routed: per-key deletes on an object store. Crash-safe only
    // because callers retire the tombstones AFTER this returns — an
    // MOR reader masks any half-deleted emptied partition until then
    // (CommitProtocolSpec's fold matrix pins exactly that ordering)
    touched.filterNot(survived).foreach { m =>
      proto.deleteDir(s"$store/o_month=$m")
    }
  }

  // S23: THE FOLD SCHEDULER — the last prose claim in the maintenance
  // matrix ("a tombstone set too large to broadcast is the signal to
  // schedule the fold", PLANS.md) promoted to a gated operator.
  // morMaintain prices the tombstone mass against the store with two
  // metadata-scale counts and takes ONE of two branches: below
  // foldFrac the delete stays write-optimal — tombstones remain the
  // only bytes written, readers keep the broadcast anti-join (the GDPR
  // trickle regime); at/above it the read amplification has outgrown
  // the one-time rewrite — morFold rewrites exactly the touched
  // partitions via a SHUFFLED anti-join (a fold-sized tombstone set is
  // past broadcastable by definition), retires the tombstones, and
  // readers go back to plain scans. The entry runs both regimes on
  // independent stores of the same order-year — a trickle (mod-7 keys
  // inside two months, ~2% of the store) that must NOT rewrite and a
  // bulk purge (mod-3 keys everywhere, ~33%) that must — and emits
  // both readouts WITH the decision column under one delete-truth
  // oracle that recomputes the decision from the same counts, so the
  // hash gate pins branch AND result. The physical contract the hash
  // can't see (trickle leaves tombstones on disk and store files
  // untouched; purge retires them) is pinned by ScaleMechanicsSpec.
  private[graft] def morMaintain(spark: SparkSession, store: String,
                                 tomb: String, scenario: String,
                                 foldFrac: Double = 0.10): DataFrame = {
    require(graft.core.PosixCommit.partitions(tomb, "o_month").nonEmpty,
      s"s23/$scenario: the delete predicate matched no rows at this SF")
    val tombs = spark.read.parquet(tomb).select("o_orderkey").distinct()
      .localCheckpoint(true) // decision count + anti-join: one evaluation
    val nTomb = tombs.count()
    val nStore = spark.read.parquet(store).count()
    val fold = nTomb >= foldFrac * nStore
    val served = if (fold) {
      morFold(spark, store,
        graft.core.PosixCommit.partitions(tomb, "o_month"), tombs,
        broadcastTombs = false)
      graft.core.PosixCommit.deleteDir(tomb)
      spark.read.parquet(store)
    } else {
      spark.read.parquet(store)
        .join(broadcast(tombs), Seq("o_orderkey"), "left_anti")
    }
    monthReadout(served)
      .withColumn("scenario", lit(scenario))
      .withColumn("branch", lit(if (fold) "fold" else "serve"))
  }

  private def s23MorFoldScheduler(spark: SparkSession, dir: String): DataFrame = {
    val base = Artifacts.freshScratchDir(spark, "s23", dir)
    val orders = orders1996(spark, dir)
    def scenario(name: String,
                 deletePred: org.apache.spark.sql.Column): DataFrame = {
      val store = s"$base/${name}_store"
      val tomb = s"$base/${name}_tombstones"
      orders.write.partitionBy("o_month").parquet(store)
      orders.filter(deletePred).select("o_orderkey", "o_month")
        .write.partitionBy("o_month").parquet(tomb)
      morMaintain(spark, store, tomb, name)
    }
    scenario("purge", pmod(col("o_orderkey"), lit(3)) === 0)
      .unionByName(scenario("trickle",
        col("o_month").isin("1996-05", "1996-06") &&
          pmod(col("o_orderkey"), lit(7)) === 0))
      .orderBy("scenario", "o_month")
  }

  /** min/max of the `ts` column in microseconds, straight from the
    * parquet footer row-group statistics — None when the file layout or
    * stats don't allow it (caller falls back to a scan). */
  private[graft] def tsRangeFromFooter(spark: SparkSession,
                                       path: String): Option[Array[Long]] = {
    try {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path),
          spark.sessionState.newHadoopConf()))
      try {
        import scala.jdk.CollectionConverters._
        import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
        // the unit conversion below must match the annotation the stats
        // were written under — Tables.events handles every encoding the
        // driver has shipped (NANOS-as-long, NTZ micros, LTZ micros); a
        // wrong divisor here would make the derived split silently
        // 1000x off. isAdjustedToUTC doesn't matter: sessions pin UTC,
        // so NTZ and LTZ stats carry the same epoch numbers. Unknown
        // units → None, and the relational fallback (unix_micros over
        // the parsed column) computes the truth.
        val tsField = reader.getFooter.getFileMetaData.getSchema.getFields
          .asScala.find(_.getName == "ts").getOrElse(return None)
        val toMicros: Long => Long = tsField.getLogicalTypeAnnotation match {
          case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              // truncating `/`, matching Tables.events' `ts div 1000`
              // exactly (floorDiv would disagree on pre-epoch negatives);
              // truncation is monotone non-decreasing, so footer min/max
              // still commute with the conversion
              case TimeUnit.NANOS  => n => n / 1000L
              case TimeUnit.MICROS => identity
              case TimeUnit.MILLIS => m => Math.multiplyExact(m, 1000L)
              case _ => return None
            }
          case _ => return None
        }
        val perBlock = reader.getFooter.getBlocks.asScala.toSeq.map { b =>
          val c = b.getColumns.asScala
            .find(_.getPath.toDotString == "ts").getOrElse(return None)
          val st = c.getStatistics
          if (st == null || !st.hasNonNullValue) return None
          (st.genericGetMin.asInstanceOf[Number].longValue(),
            st.genericGetMax.asInstanceOf[Number].longValue())
        }
        if (perBlock.isEmpty) None
        else Some(Array(toMicros(perBlock.map(_._1).min),
          toMicros(perBlock.map(_._2).max)))
      } finally reader.close()
    } catch { case _: Exception => None }
  }

  // E10: watermark late-data semantics under the hash gate. One logical
  // stream fed by two file drops sharing a checkpoint: the first drop
  // carries the LATER half of the events (establishing watermark =
  // max(ts) − 2 h), the second drop replays the EARLIER half as late
  // arrivals. Late rows whose hour-window closed at or before the
  // watermark are discarded by the engine; windows past the watermark
  // finalize exactly once into the append sink. The emitted result is
  // therefore a pure function of the split — on-time rows in finalized
  // windows — which the oracle recomputes relationally. This is the
  // at-scale guarantee that bounds streaming state: state is O(windows
  // inside the watermark horizon), never O(history).
  // staged (half=ontime/late) event split, shared across e10 runs in a
  // session — values are PATHS (not frames)
  private def e10LateDataDrop(spark: SparkSession, dir: String): DataFrame = {
    // app-scoped: two concurrent runs over the same sfDir (bench + test
    // suite on a shared box) must not delete each other's checkpoint/out
    // mid-stream
    val base = Artifacts.freshScratchDir(spark, "e10", dir)
    val ev = Tables.events(spark, dir).select("event_id", "ts", "event_type", "value")
    // the split point needs only min/max(ts) — read them from the
    // parquet FOOTER statistics (what a planner does) instead of paying
    // a full-scan aggregate job; the relational aggregate stays as the
    // fallback when stats are absent. Both give exactly
    // floor(nanos/1000): integer `div` truncation on positive epochs is
    // floor, and floor is monotone, so footer min/max == scan min/max.
    val Array(tminMu, tmaxMu) = tsRangeFromFooter(spark, s"$dir/events.parquet")
      .getOrElse(ev
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head().toSeq.map(_.asInstanceOf[Long]).toArray)
    val midMu = tminMu + (tmaxMu - tminMu) / 2
    val src = s"$base/src"
    val ckpt = s"$base/ckpt"
    // BOTH drops staged in ONE write job (hash-partitioned by half →
    // one file each), then revealed to the stream source by a
    // filesystem link per drop — the e8 staging discipline: the only
    // Spark jobs the entry pays are this write and the stream batches.
    // The staged split is a pure function of (dir), so it is memoized
    // per (app, dir) OUTSIDE the per-run base: repeat runs in one
    // session (bench rerun, suite + bench on one JVM) skip the write
    // job entirely and only hardlink the staged files into their own
    // src. The two-run watermark semantics are untouched — each run
    // still drains its own checkpoint from its own src.
    val evSchema = ev.schema
    val stagedBase = graft.core.AppCache.memo(spark, "scaleops.e10Staged", dir) {
      val p = Artifacts.freshScratchDir(spark, "e10staged", dir)
      // no repartition: the source is a handful of partitions, each
      // writes at most one file per half — a map-only staging job
      ev.withColumn("half",
          when(unix_micros(col("ts")) >= midMu, "ontime").otherwise("late"))
        .write.partitionBy("half").parquet(p)
      p
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    // cloned session: the 2-partition state-store pin stays scoped to
    // this stream's SQLConf instead of mutating the shared session
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "2")
    // (no-data micro-batches stay ENABLED: the trailing empty batch is
    // what persists each run's advanced watermark into the offset log —
    // disabling it restarts run 2 at watermark 0 and the late replay
    // passes the late-row filter, 3370 rows instead of 1684)
    // TWO separate AvailableNow runs sharing the checkpoint are
    // semantically REQUIRED, not a convenience: Spark filters late rows
    // with the PREVIOUS micro-batch's watermark (only eviction uses the
    // current one), so a single run with maxFilesPerTrigger=1 would give
    // the late batch a zero late-filter watermark — the replayed rows
    // would enter state and flush as if on time (measured: 3370 windows
    // instead of 1684). The run boundary forces the watermark into the
    // commit log, which is exactly how a restarted nightly job sees it.
    // Emissions land in a driver-side buffer via foreachBatch (the
    // memory sink can't recover from a shared checkpoint; foreachBatch
    // can). The append output is O(windows inside the horizon) — the
    // very bound the entry demonstrates — never O(events), so the
    // collect is a bounded audit-scale sink, not a data-path collect.
    val emitted = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var outSchema: org.apache.spark.sql.types.StructType = null
    def drainDrop(half: String): Unit = {
      // a degenerate split (every ts identical → all rows one half) means
      // partitionBy never wrote the other half's directory; the drop is
      // then legitimately empty, not an error. Files are HARDLINKED out
      // of the shared staged artifact (same /tmp filesystem, zero copy)
      // so the memoized split survives this run's consumption.
      val staged = java.nio.file.Paths.get(s"$stagedBase/half=$half")
      val dst = java.nio.file.Paths.get(s"$src/$half")
      java.nio.file.Files.createDirectories(dst)
      if (java.nio.file.Files.exists(staged)) {
        import scala.jdk.CollectionConverters._
        val ls = java.nio.file.Files.list(staged)
        try ls.iterator().asScala
          .filter(f => f.getFileName.toString.endsWith(".parquet"))
          .foreach(f => java.nio.file.Files.createLink(
            dst.resolve(f.getFileName), f))
        finally ls.close()
      }
      val q = ss.readStream.schema(evSchema)
          .option("recursiveFileLookup", "true").parquet(src)
          .withWatermark("ts", "2 hours")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
          .select(col("window.start").as("window_start"), col("event_type"),
            col("n"), col("total_value"))
          .writeStream
          .outputMode("append")
          .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val rows = b.collect()
            emitted.synchronized { outSchema = b.schema; emitted ++= rows }
            ()
          }
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      q.awaitTermination()
    }
    drainDrop("ontime")
    drainDrop("late")
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(emitted.toSeq.asJava, outSchema)
      .orderBy("window_start", "event_type")
  }

  val entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("j10_salted_skew_join", j10SaltedJoin,
      "hand-salted skew join: hot keys fanned across salt buckets",
      Some("""WITH dim AS (
        |  SELECT DISTINCT l_returnflag, 'flag_' || l_returnflag AS flag_name FROM lineitem)
        |SELECT d.flag_name, count(*) AS n_lines, round(sum(l.l_quantity), 2) AS total_qty
        |FROM lineitem l JOIN dim d USING (l_returnflag)
        |GROUP BY d.flag_name ORDER BY d.flag_name""".stripMargin)),
    // same relational truth as j10 — salting and AQE skew-splitting are
    // physical-plan physics only, the answers must be identical
    CatalogEntry("j10b_aqe_skew_join", j10bAqeSkewJoin,
      "AQE OptimizeSkewedJoin twin: runtime skew split with its preconditions pinned",
      Some("""WITH dim AS (
        |  SELECT DISTINCT l_returnflag, 'flag_' || l_returnflag AS flag_name FROM lineitem)
        |SELECT d.flag_name, count(*) AS n_lines, round(sum(l.l_quantity), 2) AS total_qty,
        |       CAST(count(*) * 64 AS BIGINT) AS payload_bytes
        |FROM lineitem l JOIN dim d USING (l_returnflag)
        |GROUP BY d.flag_name ORDER BY d.flag_name""".stripMargin)),
    CatalogEntry("j13_bucketed_join", j13BucketedJoin,
      "bucketed co-located join planning with zero exchanges",
      Some("""SELECT o.o_custkey, count(*) AS n_items,
        |  sum(l.l_quantity) AS total_qty,
        |  max(o.o_totalprice) AS max_price
        |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_custkey ORDER BY o.o_custkey""".stripMargin)),
    CatalogEntry("j11_asof_join", j11AsOfJoin,
      "as-of join, window formulation: last click before each purchase",
      Some(asOfOracleSql)),
    // j11b runs the native AsOfJoinExec; the oracle is the SAME relational
    // truth as j11 — the operator must be indistinguishable from the
    // window formulation
    CatalogEntry("j11b_asof_native", j11bAsOfNative,
      "native as-of join operator (custom LogicalPlan + Strategy + Exec)",
      Some(asOfOracleSql)),
    CatalogEntry("j11c_asof_sql", j11cAsOfSql,
      "ASOF JOIN SQL syntax through the injected parser",
      Some(asOfOracleSql)),
    CatalogEntry("j12_range_join", j12RangeJoin,
      "interval/range join banded to bucket keys (flat under scale-up)",
      Some("""WITH clicks AS (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |agg AS (
        |  SELECT p.event_id, count(*) AS n, round(sum(c.value), 2) AS v
        |  FROM purch p JOIN clicks c ON c.user_id = p.user_id
        |   AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
        |   AND epoch_us(c.ts) < epoch_us(p.ts)
        |  GROUP BY p.event_id)
        |SELECT p.event_id AS purchase_id, p.user_id,
        |       coalesce(a.n, 0) AS n_clicks, coalesce(a.v, 0.0) AS click_value
        |FROM purch p LEFT JOIN agg a USING (event_id)
        |ORDER BY purchase_id""".stripMargin)),
    CatalogEntry("sim_recall_eval", simRecallEval,
      "ANN recall@5 on a 1024-probe panel vs exact truth",
      Some {
        val bucket = Similarity.lshBucketSqlDynamic("embedding", DIM,
          Similarity.scaleNPlanesSql("embeddings"))
        val dotAB = Similarity.dotSql("a.embedding", "b.embedding", DIM)
        val pu = graft.functions.ColFns.pseudoUniformSql("vec_id", 29L)
        s"""WITH n AS (SELECT vec_id, embedding, $bucket AS bucket,
           |            sqrt(${Similarity.dotSql("embedding", "embedding", DIM)}) AS nrm
           |           FROM embeddings),
           |probes AS (SELECT vec_id FROM (
           |  SELECT vec_id, row_number() OVER (ORDER BY $pu ASC, vec_id ASC) AS pr
           |  FROM embeddings) WHERE pr <= $RECALL_PANEL),
           |bscored AS (
           |  SELECT a.vec_id AS src, b.vec_id AS dst, $dotAB / (a.nrm * b.nrm) AS cos
           |  FROM n a JOIN probes p ON p.vec_id = a.vec_id
           |  JOIN n b ON a.vec_id <> b.vec_id),
           |bt AS (SELECT src, dst FROM (
           |  SELECT *, row_number() OVER (PARTITION BY src ORDER BY round(cos, 6) DESC, dst ASC) AS rn
           |  FROM bscored) WHERE rn <= 5),
           |lscored AS (
           |  SELECT a.vec_id AS src, b.vec_id AS dst, $dotAB / (a.nrm * b.nrm) AS cos
           |  FROM n a JOIN probes p ON p.vec_id = a.vec_id
           |  JOIN n b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
           |ls AS (SELECT src, dst FROM (
           |  SELECT *, row_number() OVER (PARTITION BY src ORDER BY round(cos, 6) DESC, dst ASC) AS rn
           |  FROM lscored) WHERE rn <= 5),
           |hits AS (
           |  SELECT b.src, count(*) AS h FROM bt b JOIN ls l ON l.src = b.src AND l.dst = b.dst
           |  GROUP BY b.src),
           |per AS (
           |  SELECT base.src, base.nt, coalesce(h.h, 0) AS h
           |  FROM (SELECT src, count(*) AS nt FROM bt GROUP BY src) base
           |  LEFT JOIN hits h USING (src))
           |SELECT count(*) AS n_queries,
           |       CAST(sum(h) AS BIGINT) AS hits, CAST(sum(nt) AS BIGINT) AS n_true,
           |       CAST(sum(h) AS DOUBLE) / sum(nt) AS recall_micro,
           |       min(h) AS min_hits,
           |       CAST(sum(CASE WHEN h = nt THEN 1 ELSE 0 END) AS BIGINT) AS n_perfect
           |FROM per""".stripMargin
      }),
    CatalogEntry("e7_incremental_ingest", e7IncrementalIngest,
      "dvid-append micro-batch ingest",
      Some("""SELECT CAST(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 2 END AS INTEGER) AS dvid,
        |       event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY dvid, event_type""".stripMargin)),
    // the FULL RECOMPUTE over the raw table: a hash match proves the
    // partial-merge refresh path equals the from-scratch aggregate
    CatalogEntry("e15_incremental_agg_merge", e15IncrementalAggMerge,
      "materialized-view maintenance via partial-aggregate partitions",
      Some("""SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(CAST(round(value * 100) AS BIGINT)) AS min_cents,
        |  max(CAST(round(value * 100) AS BIGINT)) AS max_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // exact COUNT(DISTINCT) below the sketch's k (where the KMV
    // estimate IS the exact set size — bijective mix, no collisions);
    // saturated groups get NULL n_users + literal TRUE est_ok, which
    // Spark must EARN via its 4/sqrt(K) tolerance audit. K interpolated
    // from the one Scala constant (r14 ADVICE).
    CatalogEntry("e16_incremental_distinct", e16IncrementalDistinct,
      "mergeable KMV distinct sketches per batch, unioned at read",
      Some(s"""SELECT event_type,
        |  CASE WHEN count(DISTINCT user_id) >= $E16_K THEN 'estimate' ELSE 'exact' END AS regime,
        |  CASE WHEN count(DISTINCT user_id) >= $E16_K THEN NULL
        |       ELSE count(DISTINCT user_id) END AS n_users,
        |  TRUE AS est_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // s16's relational MERGE truth VERBATIM (one shared string): the
    // streamed ordered-batch application must reach exactly the state
    // the batch MERGE declares — stream/batch parity for maintenance
    CatalogEntry("e19_stream_cdc_merge", e19StreamCdcMerge,
      "streamed CDC merge maintains the lakehouse table, restart-safe",
      Some(graft.catalog.Relational.mergeOracleSql)),
    // the SAME merge truth: a compaction visible to readers flips the hash
    CatalogEntry("e20_cdc_compact_serve", e20CdcCompactServe,
      "post-merge zero-shuffle compaction of touched partitions, reader-invisible",
      Some(graft.catalog.Relational.mergeOracleSql)),
    // ONE relational delete truth per phase: the streamed tombstone view
    // and the materialized table must both equal it
    CatalogEntry("e21_stream_mor_deletes", e21StreamMorDeletes,
      "streamed merge-on-read deletes: O(keys) tombstones per micro-batch, restart-safe, one materialize",
      Some("""WITH base AS (
        |  SELECT o_orderkey, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_month FROM orders
        |  WHERE strftime(o_orderdate, '%Y') = '1996'),
        |kept AS (
        |  SELECT * FROM base
        |  WHERE NOT (o_month IN ('1996-05', '1996-06') AND o_orderkey % 7 = 0)
        |    AND NOT (o_month = '1996-07' AND o_orderkey % 11 = 0)),
        |r AS (
        |  SELECT o_month, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
        |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |  FROM kept GROUP BY o_month)
        |SELECT o_month, n_orders, price_cents, key_sum, 'mor' AS phase FROM r
        |UNION ALL
        |SELECT o_month, n_orders, price_cents, key_sum, 'materialized' FROM r
        |ORDER BY phase, o_month""".stripMargin)),
    // delete truth per scenario PLUS the decision recomputed from the
    // same counts: the hash gate pins branch AND result together
    CatalogEntry("s23_mor_fold_scheduler", s23MorFoldScheduler,
      "MOR fold scheduler: tombstone mass vs foldFrac decides serve-vs-rewrite; both branches one delete-truth oracle",
      Some("""WITH base AS (
        |  SELECT o_orderkey, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_month FROM orders
        |  WHERE strftime(o_orderdate, '%Y') = '1996'),
        |scen AS (
        |  SELECT 'purge' AS scenario, o_orderkey, o_totalprice, o_month,
        |    (o_orderkey % 3 = 0) AS del FROM base
        |  UNION ALL
        |  SELECT 'trickle', o_orderkey, o_totalprice, o_month,
        |    (o_month IN ('1996-05', '1996-06') AND o_orderkey % 7 = 0)
        |  FROM base),
        |dec AS (
        |  SELECT scenario,
        |    CASE WHEN sum(CASE WHEN del THEN 1 ELSE 0 END)
        |           >= 0.10 * count(*)
        |         THEN 'fold' ELSE 'serve' END AS branch
        |  FROM scen GROUP BY scenario)
        |SELECT s.o_month, count(*) AS n_orders,
        |  CAST(sum(CAST(round(s.o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents,
        |  CAST(sum(s.o_orderkey) AS BIGINT) AS key_sum,
        |  s.scenario, d.branch
        |FROM scen s JOIN dec d USING (scenario)
        |WHERE NOT s.del
        |GROUP BY s.o_month, s.scenario, d.branch
        |ORDER BY s.scenario, s.o_month""".stripMargin)),
    // the raw table aggregated ONCE: a redelivered batch that appended
    // instead of overwriting would double its counts and flip the hash
    CatalogEntry("e17_idempotent_replay", e17IdempotentReplay,
      "exactly-once under redelivery: partition-scoped overwrite keyed by batch",
      Some("""SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // one aggregate over the raw table: a restart that re-read the
    // first drain's files would double them and flip the hash
    CatalogEntry("e18_checkpoint_resume", e18CheckpointResume,
      "checkpointed source resume reads only files that arrived while down",
      Some("""SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // emitted = on-time (later-half) rows in windows finalized by the
    // watermark (window end STRICTLY < max(ts) − 2 h: Spark's append
    // eviction predicate is attr ≤ watermarkMs − 1, so a window ending
    // exactly at the watermark is never emitted); the late replay of
    // the earlier half is entirely below the watermark and discarded
    CatalogEntry("e10_late_data_drop", e10LateDataDrop,
      "watermark late-data drop accounting",
      Some("""WITH b AS (SELECT min(epoch_us(ts)) AS tmin, max(epoch_us(ts)) AS tmax
        |           FROM events),
        |ontime AS (
        |  SELECT e.* FROM events e, b
        |  WHERE epoch_us(e.ts) >= b.tmin + (b.tmax - b.tmin) // 2)
        |SELECT date_trunc('hour', o.ts) AS window_start, o.event_type,
        |  count(*) AS n, round(sum(o.value), 4) AS total_value
        |FROM ontime o, b
        |WHERE epoch_us(date_trunc('hour', o.ts)) + 3600000000 < b.tmax - 7200000000
        |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)))

  /** Shared by j11 (window formulation) and j11b (native AsOfJoinExec):
    * the as-of truth stated relationally — tag both event kinds, order by
    * (ts, kind, event_id) per user, take the running last non-null click.
    * Ties: a click at the purchase's exact ts counts as prior (kind sorts
    * clicks first); equal-ts clicks resolve to the max event_id. */
  private lazy val asOfOracleSql: String =
    """WITH tagged AS (
      |  SELECT user_id, ts, 0 AS kind, event_id, event_id AS click_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, ts, 1, event_id, NULL, NULL
      |  FROM events WHERE event_type = 'purchase'),
      |w AS (
      |  SELECT *,
      |    last_value(click_id IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts, kind, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc,
      |    last_value(click_ts IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts, kind, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lct
      |  FROM tagged)
      |SELECT event_id AS purchase_id, user_id,
      |       coalesce(lc, -1) AS last_click_id,
      |       coalesce(epoch_us(ts) - epoch_us(lct), -1) AS gap_us
      |FROM w WHERE kind = 1 ORDER BY purchase_id""".stripMargin
}
