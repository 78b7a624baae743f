package graft.recommend

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.ColFns

/** Top-k recommendation strategies (SURVEY §2.9 Q1–Q4) re-expressed as a
  * single parameterized columnar pipeline:
  *
  *   candidates (P7 valid ∖ J6 purchased) → deterministic score →
  *   strategy transform (logit/temperature/noise/mixture) →
  *   per-category cap (W3) → softmax normalize → top-n (W2)
  *
  * vs the reference's four near-copied scripts
  * (topk_recommandations_*.py). Differences by design:
  *  - the model score is a pure column function here (the MLlib scorer
  *    plugs into the same `score` slot);
  *  - all randomness is hash-based (ColFns.pseudoUniform), restoring
  *    referential transparency (SURVEY §7.4 trap 4) and making results
  *    independent of partitioning — required for both the DuckDB oracle
  *    and deterministic re-runs on a 1000-executor cluster.
  *
  * Scale shape: one anti-join shuffle (candidates) + one window shuffle
  * keyed by customer. No driver-side loops; every customer is scored in
  * the same two jobs regardless of |customers|.
  */
object Recommend {

  /** Strategy knobs, matching the reference's four scripts. */
  final case class Strategy(
      temperature: Double, categoryCap: Int,
      noiseScale: Double,   // Q3: stochastic perturbation of p
      uniformMix: Double,   // Q4: 0.3·uniform + 0.7·normalized(p)
      smoothing: Double)    // Q4: +0.05

  val strategies: Map[String, Strategy] = Map(
    "diverse"    -> Strategy(2.5, 1, 0.0, 0.0, 0.0),   // Q1
    "softmax"    -> Strategy(3.0, 2, 0.0, 0.0, 0.0),   // Q2
    "stochastic" -> Strategy(5.0, 4, 0.15, 0.0, 0.0),  // Q3
    "adam"       -> Strategy(2.0, 2, 0.0, 0.3, 0.05))  // Q4

  /** P7: valid-product predicate (stock/category sanity). */
  def validProducts(part: DataFrame): DataFrame =
    part.filter(col("p_size") > 0 && col("p_retailprice") > 0 &&
      !col("p_brand").isin("N/A", "Unknown", "") && col("p_brand").isNotNull)

  /** F8: seasonal discount as a pure function of (product, month) —
    * deterministic replacement for the reference's rand() discount bands
    * (xgboost_mode_training_plus_dynamic_discount.py:73-89). */
  def seasonalDiscount(partKey: Column, queryMonth: Column): Column = {
    val u = ColFns.pseudoUniform(partKey * 12 + queryMonth, 11L)
    when(queryMonth === 12, round(lit(0.30) + u * 0.20, 2))
      .when(queryMonth.isin(6, 7, 11), round(lit(0.15) + u * 0.15, 2))
      .when(queryMonth.isin(1, 2, 8), round(lit(0.05) + u * 0.10, 2))
      .otherwise(round(u * 0.05, 2))
  }

  /** Deterministic stand-in model score in (0,1): logistic over customer
    * account balance and (discounted) product price. */
  def score(acctbal: Column, price: Column, discount: Column): Column =
    ColFns.sigmoid(acctbal / 5000.0 + (price * (lit(1.0) - discount)) / 2000.0 - 2.0)

  /** Candidate generation (P7 ∖ J6 + R2 cap) is strategy-independent, so
    * the materialized frame is memoized per (dir, filter, cap) within the
    * session — the four Q* strategies differ only downstream of it. */
  def candidates(spark: SparkSession, dir: String, customerFilter: Column,
                 candidateCap: Int): DataFrame =
    graft.core.AppCache.memo(spark, "recommend.candidates",
        dir, customerFilter.toString, candidateCap) {
      val cust = Tables.customer(spark, dir).filter(customerFilter)
        .select(col("c_custkey").as("customer"), col("c_acctbal").as("acctbal"))
      val parts = validProducts(Tables.part(spark, dir))
        .select(col("p_partkey").as("product"), col("p_brand").as("category"),
          col("p_retailprice").as("price"))

      // J6: purchased exclusion via the 2-hop traversal — the session's
      // ONE materialized purchase-pair table (shared with the J-family
      // and the training-corpus assembly) semi-joined down to the
      // queried slice, so the anti-join's build side shrinks from every
      // customer's history to the queried customers and broadcasts; the
      // big crossJoin side then avoids a shuffle entirely
      val purchased = graft.graph.Links.purchasePairsNumeric(spark, dir)
        .join(broadcast(cust.select("customer")), Seq("customer"), "left_semi")

      // R2: deterministic candidate cap per customer (hash-ranked)
      val candU = ColFns.pseudoUniform(col("customer") * 131071 + col("product"), 3L)
      val candW = Window.partitionBy("customer").orderBy(candU, col("product"))
      // broadcast only while the queried slice is bounded (it is for the
      // reference's per-customer serving shape); a full-corpus batch run
      // falls back to the shuffled anti-join. The only driver-side count
      // is the queried slice itself; the product count rides the
      // expansion job as a broadcast 1-row aggregate.
      val custN = cust.count()
      val custBounded = custN <= 100000L
      val excl = if (custBounded) broadcast(purchased) else purchased
      // pre-filter by the SAME hash the cap window ranks on: only rows
      // that can possibly be in the per-customer top-`candidateCap` by u
      // need to enter the anti-join + window. 1.3× headroom over the cap
      // makes a sub-cap survivor count a >10σ event even before noting
      // that purchases remove only a handful of products per customer;
      // the window then applies the EXACT cap. Shrinks the windowed row
      // count by (1 − 1.3·cap/|parts|) — at |parts| ≫ cap (the 100 TB
      // shape) the per-customer sort goes from |parts| to ~1.3·cap rows.
      // Mirrored verbatim in the Strategies oracle SQL. Both engines
      // share the constant, so even a (astronomically unlikely)
      // starvation event keeps the engines bit-identical.
      // 13·cap/10, not 1.3·cap: 1.3 has no exact double, and the oracle's
      // literal (2600.0 at cap 2000) must be the bit-identical threshold
      val np = parts.agg(count(lit(1)).as("np"))
      val keepFrac = least(lit(1.0),
        lit(13.0 * candidateCap / 10.0) /
          greatest(col("np"), lit(1L)).cast("double"))
      // Expansion shape, by slice size. Bounded-and-wide (the normal
      // serving batch): hash-partition the customer slice by `customer`
      // FIRST and expand against a NARROW broadcast of product ids — the
      // expansion, hash pre-filter, anti-join, and cap window then run
      // in ONE exchange-free stage over 16-byte rows, and
      // hashpartitioning(customer) satisfies every downstream
      // customer-clustered window. Bounded-but-tiny (a handful of
      // customers): that shape would serialize the |parts|-sized
      // expansion into |cust| tasks, so flip it — partition the PRODUCT
      // ids and broadcast the slice; the cap window's exchange returns,
      // but over ≤ |slice|·1.3·cap rows. Unbounded: plain shuffled
      // crossJoin, nothing force-broadcast. category/price attach AFTER
      // the cap (broadcast in the bounded shapes — the catalog already
      // broadcasts in the enrichment join).
      val par = spark.sparkContext.defaultParallelism
      val partIds = parts.select("product")
      val crossed =
        if (!custBounded) cust.crossJoin(partIds)
        else if (custN >= par * 4L)
          cust.repartition(par, col("customer")).crossJoin(broadcast(partIds))
        else
          partIds.repartition(par).crossJoin(broadcast(cust))
      val capped = crossed
        .crossJoin(broadcast(np))
        .filter(candU < keepFrac)
        .join(excl, Seq("customer", "product"), "left_anti")
        .withColumn("cand_rn", row_number().over(candW))
        .filter(col("cand_rn") <= candidateCap)
        .join(if (custBounded) broadcast(parts) else parts, Seq("product"))
      // checkpoint keeping whatever hash layout the build established
      // (derived from the executed plan, not asserted) — in both bounded
      // shapes that is hashpartitioning(customer), so the strategy
      // windows downstream stay exchange-free
      org.apache.spark.sql.GraftColumnBridge.checkpointKeepingPartitioning(
        capped.select("customer", "acctbal", "product", "category", "price"))
    }

  /** Build/serve split for the serving path (the `sim_ivf_persisted`
    * pattern): stage the strategy-independent candidate artifact for a
    * serving slice and validate the serving plan end-to-end ONCE, so the
    * first strategy query afterwards serves at steady-state latency —
    * exactly how a nightly staging job runs before the slice takes
    * traffic. Returns the staged artifact's per-customer audit summary
    * (deterministic, oracle-checked): candidate count and the exact
    * integer checksum of the candidate product set. */
  def stageCandidates(spark: SparkSession, dir: String, customerFilter: Column,
                      queryMonth: Int, candidateCap: Int): DataFrame = {
    val cands = candidates(spark, dir, customerFilter, candidateCap)
    // smoke-validate the serving query against the staged artifact
    // (count only): compiles + executes the same window/softmax plan the
    // strategy queries run, a staging-job health check before traffic
    topK(spark, dir, "diverse", customerFilter, queryMonth, 3, candidateCap).count()
    cands.groupBy("customer")
      .agg(count(lit(1)).as("n_cands"), sum(col("product")).as("product_sum"))
      .orderBy("customer")
  }

  /** The full pipeline for a set of customers at a simulated month.
    * Returns (customer, rank, product, category, prob). */
  def topK(spark: SparkSession, dir: String, strategyName: String,
           customerFilter: Column, queryMonth: Int, topN: Int = 3,
           candidateCap: Int = 2000): DataFrame = {
    val st = strategies(strategyName)
    val cands = candidates(spark, dir, customerFilter, candidateCap)

    val discount = seasonalDiscount(col("product"), lit(queryMonth))
    val p0 = score(col("acctbal"), col("price"), discount)
    // Q3: deterministic "noise", clipped back into (0,1)
    val noisy =
      if (st.noiseScale == 0.0) p0
      else least(greatest(
        p0 + (ColFns.pseudoUniform(col("customer") * 524287 + col("product"), 5L) - 0.5)
          * (2 * st.noiseScale), lit(1e-6)), lit(1.0 - 1e-6))
    val scored = cands.withColumn("p", noisy)

    // W3: per-category diversity cap
    val catW = Window.partitionBy("customer", "category")
      .orderBy(col("p").desc, col("product").asc)
    val capped = scored.withColumn("cat_rn", row_number().over(catW))
      .filter(col("cat_rn") <= st.categoryCap)

    // strategy transform → unnormalized weight
    val custW = Window.partitionBy("customer")
    val weight: Column =
      if (st.uniformMix > 0.0) {
        // Q4: mixture of uniform and normalized p, smoothed, then softmax
        val pn = col("p") / sum(col("p")).over(custW)
        val mixed = lit(st.uniformMix) / count(lit(1)).over(custW) +
          lit(1.0 - st.uniformMix) * pn + lit(st.smoothing)
        exp(mixed / st.temperature)
      } else {
        exp(ColFns.logit(col("p")) / st.temperature)
      }
    val weighted = capped.withColumn("w", weight)
      .withColumn("prob", col("w") / sum(col("w")).over(custW))

    // W2: final deterministic top-n
    val topW = Window.partitionBy("customer").orderBy(col("prob").desc, col("product").asc)
    weighted.withColumn("rank", row_number().over(topW))
      .filter(col("rank") <= topN)
      .select(col("customer"), col("rank"), col("product"), col("category"),
        round(col("prob"), 6).as("prob"))
  }

  /** Enrichment projection (the reference's display step: product attrs
    * + human-readable message, topk_recommandations_diverse_nodiscounts
    * .py:301-318): joins recommendations back to the catalog and formats
    * the recommendation message string. */
  def enrich(spark: SparkSession, dir: String, recs: DataFrame,
             queryMonth: Int): DataFrame = {
    val parts = Tables.part(spark, dir).select(
      col("p_partkey").as("product"), col("p_name"), col("p_type"),
      col("p_size"), col("p_retailprice"))
    recs.join(broadcast(parts), "product")
      .withColumn("discount", seasonalDiscount(col("product"), lit(queryMonth)))
      .withColumn("final_price",
        round(col("p_retailprice") * (lit(1.0) - col("discount")), 2))
      .withColumn("message", format_string(
        "#%d for customer %d: %s (%s, size %d) at %.2f (%.0f%% off)",
        col("rank"), col("customer"), col("p_name"), col("category"),
        col("p_size"), col("final_price"), col("discount") * 100))
  }
}
