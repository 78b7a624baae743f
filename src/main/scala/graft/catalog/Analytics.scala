package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.ColFns
import graft.graph.{DegreeFeatures, GraphBuilder, GraphSql, Links}

/** Operator catalog, part 2: aggregations (A), windows (W), scalar
  * functions (F), sampling (R), event/stream-shaped queries —
  * SURVEY §2.4, §2.5, §2.7, §2.8.
  */
object Analytics extends CatalogModule {

  private def graphPrelude(body: String): String =
    s"WITH ${GraphSql.nodesCte},\n${GraphSql.edgesCte},\n$body"

  // Flagship aggregation (map-side partial agg + single shuffle).
  // sum_disc_price aggregates exact integer cents and rounds in integer
  // space: the exact 4-decimal sum of price·(1−disc) products lands on a
  // half-cent ~1% of the time per group, where Spark's BigDecimal-string
  // round and DuckDB's binary-double round disagree — the integer form
  // is engine-independent by construction (same fix as the sql_q* suite).
  private def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val centsSum = sum(
      round(col("l_extendedprice") * 100, 0).cast("long") *
        round((lit(1.0) - col("l_discount")) * 100, 0).cast("long"))
    Tables.lineitem(spark, dir).groupBy("l_returnflag", "l_linestatus").agg(
      round(sum("l_quantity"), 2).as("sum_qty"),
      round(sum("l_extendedprice"), 2).as("sum_base_price"),
      (floor((centsSum.cast("double") + 50.0) / 100.0).cast("double") / 100.0)
        .as("sum_disc_price"),
      round(avg("l_quantity"), 6).as("avg_qty"),
      count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // A1: node/edge histogram — the reference's graph invariant report
  // (knowledge_graph_creation.py:217-226)
  private def a1LabelCounts(spark: SparkSession, dir: String): DataFrame = {
    val g = GraphBuilder.fromTpch(spark, dir)
    g.nodes.groupBy(col("label").as("name")).agg(count(lit(1)).as("cnt"))
      .withColumn("kind", lit("node"))
      .unionByName(
        g.edges.groupBy(col("type").as("name")).agg(count(lit(1)).as("cnt"))
          .withColumn("kind", lit("edge")))
      .select("kind", "name", "cnt").orderBy("kind", "name")
  }

  // A2: degree per node (degree_analysis.py:25)
  private def a2Degree(spark: SparkSession, dir: String): DataFrame =
    DegreeFeatures.degrees(GraphBuilder.fromTpch(spark, dir).edges).orderBy("id")

  // A7: log1p degree transform (degree_analysis.py:33-35)
  private def a7LogDegree(spark: SparkSession, dir: String): DataFrame =
    DegreeFeatures.degrees(GraphBuilder.fromTpch(spark, dir).edges)
      .withColumn("log_degree", round(log1p(col("degree")), 6))
      .orderBy("id")

  // A3: global degree moments (degree_analysis.py:44-48)
  private def a3DegreeMoments(spark: SparkSession, dir: String): DataFrame =
    DegreeFeatures.degreeMoments(DegreeFeatures.degrees(GraphBuilder.fromTpch(spark, dir).edges))

  // A4/W6: global degree percentile. Scale-safe: percent_rank is computed
  // over the degree *histogram* (|distinct degrees| rows) and joined back,
  // instead of a single-partition global window over every node.
  private def a4DegreePercentile(spark: SparkSession, dir: String): DataFrame = {
    // the degree table feeds THREE plan legs — the histogram, the
    // total readout at construction, and the join-back — and
    // un-materialized each leg re-ran the 2|E| union + groupBy over
    // the edge memo (guide §2.4 duplicate subtrees). |V|-cardinality
    // (id, degree) — checkpoint-priced like the other stage memos.
    val deg = DegreeFeatures.degrees(GraphBuilder.fromTpch(spark, dir).edges)
      .localCheckpoint(true)
    val hist = deg.groupBy("degree").agg(count(lit(1)).as("n"))
    val w = ColFns.boundedGlobal(col("degree"))(col("degree"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = hist.agg(sum("n")).first().getLong(0)
    val ranked = hist.withColumn("smaller", coalesce(sum(col("n")).over(w), lit(0L)))
      .withColumn("degree_pct",
        round(col("smaller").cast("double") / lit((total - 1).toDouble), 6))
    deg.join(ranked.select("degree", "degree_pct"), "degree")
      .select("id", "degree", "degree_pct").orderBy("id")
  }

  // A4 variant: scipy.stats.percentileofscore(kind='mean') tie semantics
  // — (strictly-below + 0.5·ties-inclusive-self… i.e. (cnt_lt + cnt_le)
  // / (2n)) — the reference's exact percentile definition
  // (degree_analysis.py:38-41; SURVEY §7.4 percentile trap). Computed
  // over the degree histogram (scale-safe), like a4.
  private def a4bPercentileOfScore(spark: SparkSession, dir: String): DataFrame = {
    // same three-leg consumption as a4 — one checkpointed degree table
    val deg = DegreeFeatures.degrees(GraphBuilder.fromTpch(spark, dir).edges)
      .localCheckpoint(true)
    val hist = deg.groupBy("degree").agg(count(lit(1)).as("n"))
    val wLt = ColFns.boundedGlobal(col("degree"))(col("degree"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = hist.agg(sum("n")).first().getLong(0)
    val ranked = hist
      .withColumn("cnt_lt", coalesce(sum(col("n")).over(wLt), lit(0L)))
      .withColumn("pos_mean",
        round((col("cnt_lt") * 2 + col("n")).cast("double") / lit(2.0 * total), 6))
    deg.join(ranked.select("degree", "pos_mean"), "degree")
      .select("id", "degree", "pos_mean").orderBy("id")
  }

  // A5/A7: per-label z-score + log1p degree transform (degree_analysis.py:55-73)
  private def a5PerLabelZScore(spark: SparkSession, dir: String): DataFrame = {
    val g = GraphBuilder.fromTpch(spark, dir)
    val deg = DegreeFeatures.degrees(g.edges)
    val withLabel = deg.join(g.nodes.select("id", "label"), "id")
    DegreeFeatures.groupedZScore(withLabel, "label")
      .select("id", "label", "degree", "degree_z", "log_degree").orderBy("id")
  }

  // A6: per-community degree stats (degree_analysis.py:80-126); community =
  // the customer's nation (the J8 partition-map join feeds this at scale)
  private def a6PerCommunityStats(spark: SparkSession, dir: String): DataFrame = {
    val purchases = Tables.orders(spark, dir).groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("degree"))
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
      .join(purchases, Seq("c_custkey"), "left")
      .withColumn("degree", coalesce(col("degree"), lit(0L)))
    val w = Window.partitionBy("c_nationkey")
    val mean = avg("degree").over(w)
    val std = stddev_pop(col("degree")).over(w)
    val pct = percent_rank().over(
      Window.partitionBy("c_nationkey").orderBy("degree"))
    cust.withColumn("degree_z", round(ColFns.safeZScore(col("degree"), mean, std), 6))
      .withColumn("degree_pct", round(pct, 6))
      .orderBy("c_custkey")
  }

  // A8: temporal recency/frequency with sentinel fallback
  // (xgboost_model_training.py:147-160)
  private def a8RecencyFrequency(spark: SparkSession, dir: String): DataFrame = {
    val g = GraphBuilder.fromTpch(spark, dir)
    val custIds = g.nodes.filter(col("label") === "Customer").select("id")
    val purchases = g.edges.filter(col("type") === "PURCHASED")
    Links.recencyFrequency(custIds, purchases, "src",
      java.sql.Timestamp.valueOf("2002-01-01 00:00:00"))
      .select(col("id"), col("recency_days").cast("long").as("recency_days"),
        col("frequency"))
      .orderBy("id")
  }

  // A9: preferred category = modal brand among purchased products
  // (category_enrichement.py:43-55)
  private def a9PreferredCategory(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.part(spark, dir), col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey").as("customer"), col("p_brand").as("brand"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("customer").orderBy(col("cnt").desc, col("brand").asc)
    counts.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("customer"), col("brand").as("preferred_brand"), col("cnt"))
      .orderBy("customer")
  }

  // A11: K-fold out-of-fold target encoding with global-mean fallback
  // (xgboost_training_for_big_data.py:160-238). Counts-only math — exact
  // integer sums, then one double division — so it is engine-exact.
  private def a11TargetEncoding(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        pmod(col("o_orderkey"), lit(5)).as("fold"),
        when(col("o_totalprice") > 250000.0, 1L).otherwise(0L).as("target"))
    val perFold = rows.groupBy("segment", "fold")
      .agg(count(lit(1)).as("cnt"), sum("target").as("pos"))
    val wSeg = Window.partitionBy("segment")
    // bounded: perFold has one row per (segment, fold) — a handful of
    // segments × 5 folds, never data-sized
    val wAll = ColFns.boundedGlobalAgg(col("segment"))
    perFold
      .withColumn("seg_cnt", sum("cnt").over(wSeg))
      .withColumn("seg_pos", sum("pos").over(wSeg))
      .withColumn("glob_cnt", sum("cnt").over(wAll))
      .withColumn("glob_pos", sum("pos").over(wAll))
      .withColumn("te_oof",
        round(when(col("seg_cnt") === col("cnt"),
          col("glob_pos").cast("double") / col("glob_cnt"))
          .otherwise((col("seg_pos") - col("pos")).cast("double") /
            (col("seg_cnt") - col("cnt"))), 6))
      .select("segment", "fold", "cnt", "pos", "te_oof")
      .orderBy("segment", "fold")
  }

  // A12: class distribution / imbalance ratio
  // (xgboost_training_for_big_data.py:505-510)
  private def a12ClassDistribution(spark: SparkSession, dir: String): DataFrame = {
    val labeled = Tables.orders(spark, dir)
      .select(when(col("o_totalprice") > 250000.0, 1L).otherwise(0L).as("label"))
    labeled.groupBy("label").agg(count(lit(1)).as("cnt"))
      // bounded: one row per class label
      .withColumn("ratio",
        round(col("cnt").cast("double") /
          sum("cnt").over(ColFns.boundedGlobalAgg(col("label"))), 6))
      .orderBy("label")
  }

  // A13: community summary (Louvain_community_algorithm.py:61-63)
  private def a13CommunitySummary(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).agg(
      countDistinct("c_nationkey").as("n_communities"),
      round(count(lit(1)).cast("double") / countDistinct("c_nationkey"), 6)
        .as("avg_community_size"))

  // A14: timestamp diagnostics (topk_recommandations_diverse_nodiscounts.py:65-87)
  private def a14TimestampDiagnostics(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).agg(
      min("l_shipdate").as("min_ts"), max("l_shipdate").as("max_ts"),
      count(lit(1)).as("n_edges"),
      countDistinct(to_date(col("l_shipdate"))).as("n_distinct_days"))

  // W2: deterministic top-n by model score (fallback path of the
  // recommenders, topk_recommandations_diverse_nodiscounts.py:298-309)
  private def w2TopNByScore(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.part(spark, dir)
      .withColumn("score", ColFns.sigmoid(col("p_retailprice") / 1000.0 - 1.0))
    // top-n via orderBy+limit (TakeOrderedAndProject — per-partition
    // partial top-n, no single-partition global window); the rank window
    // then runs over just the n surviving rows
    val top = scored.orderBy(col("score").desc, col("p_partkey").asc).limit(10)
    val w = ColFns.boundedGlobal(col("p_partkey"))(
      col("score").desc, col("p_partkey").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("rank"), col("p_partkey"), round(col("score"), 6).as("score"))
      .orderBy("rank")
  }

  // W3: per-category cap (topk_recommandations_diverse_nodiscounts.py:279-296)
  private def w3CategoryCap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("p_brand")
      .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    Tables.part(spark, dir).withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("p_brand"), col("rn"), col("p_partkey"), col("p_retailprice"))
      .orderBy("p_brand", "rn")
  }

  // F1/F2/F4: string normalization surface
  private def f1StringNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(
      col("p_partkey"),
      ColFns.normValue(col("p_name")).as("name_norm"),
      regexp_replace(col("p_name"), " ", "_").as("name_snake"),
      upper(trim(col("p_type"))).as("type_key"),
      // F2: initcap (single-token input, so the DuckDB mirror is a
      // first-letter title-case — DuckDB 1.0 has no initcap)
      initcap(lower(col("p_brand"))).as("brand_title"),
      concat_ws("_", lit("part"), col("p_partkey"), col("p_brand")).as("node_id"))
      .orderBy("p_partkey")

  // F5/F6: multi-format date parse fallback chain
  // (second_third_and_forth_data_injection.py:24-37)
  private def f5MultiFormatDates(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val asText = o.withColumn("date_text",
      when(pmod(col("o_orderkey"), lit(3)) === 0, date_format(col("o_orderdate"), "MM/dd/yyyy"))
        .when(pmod(col("o_orderkey"), lit(3)) === 1, date_format(col("o_orderdate"), "MM-dd-yyyy"))
        .otherwise(date_format(col("o_orderdate"), "yyyy-MM-dd")))
    asText.select(col("o_orderkey"), col("date_text"),
      ColFns.multiFormatTs(col("date_text"),
        Seq("MM/dd/yyyy", "MM-dd-yyyy", "yyyy-MM-dd"),
        lit(java.sql.Timestamp.valueOf("2022-06-01 00:00:00"))).as("parsed"))
      .orderBy("o_orderkey")
  }

  // F7/F8: date math + seasonal bands + deterministic discount
  // (xgboost_mode_training_plus_dynamic_discount.py:73-89)
  private def f7F8DateMath(spark: SparkSession, dir: String): DataFrame = {
    val m = month(col("o_orderdate"))
    Tables.orders(spark, dir).select(
      col("o_orderkey"),
      m.as("order_month"),
      when(m === 12, "holiday_peak").when(m.isin(6, 7, 11), "high_season")
        .when(m.isin(1, 2, 8), "low_season").otherwise("regular").as("season_band"),
      datediff(lit(java.sql.Date.valueOf("2002-06-01")), col("o_orderdate"))
        .cast("long").as("days_before_ref"),
      graft.recommend.Recommend.seasonalDiscount(col("o_orderkey"), m).as("discount"))
      .orderBy("o_orderkey")
  }

  // F11: pairwise interaction features (xgboost_training_for_big_data.py:360-369)
  // Cross-engine float rule: a product of a negative and a zero operand is
  // IEEE -0.0; Spark's round normalizes it to +0.0 but DuckDB's keeps -0.0,
  // so both sides add `+ 0.0` (-0.0 + 0.0 == +0.0) to agree bitwise.
  private def f11Interactions(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"),
        (round(col("c_acctbal") * col("c_nationkey"), 6) + lit(0.0)).as("bal_x_nation"),
        round(col("c_acctbal") / (col("c_nationkey") + lit(1.0)), 6).as("bal_per_nation"),
        round(pow(col("c_acctbal") / 1000.0, 2), 6).as("bal_sq"))
      .orderBy("c_custkey")

  // F12/F14: numeric guards — clip via greatest/least, NaN scrub via
  // nanvl, null-safe defaults via nullif→coalesce
  // (took_recommandations_softmaxsampling_discount.py:215-241;
  // update_features_after_every_fold.py:86-91). The NaN branch is forced
  // deterministically (every 7th line) so the scrub path is actually
  // exercised; DuckDB mirrors nanvl with isnan() — its 0.0/0.0 is NULL,
  // not NaN, so the NaN must be injected as a literal on both sides.
  private def f12F14Guards(spark: SparkSession, dir: String): DataFrame = {
    val ratio = when(pmod(col("l_orderkey") + col("l_linenumber"), lit(7)) === 0,
        lit(Double.NaN))
      .otherwise(col("l_extendedprice") / col("l_quantity"))
    Tables.lineitem(spark, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      least(greatest(col("l_discount"), lit(0.02)), lit(0.08)).as("discount_clipped"),
      // no round(): the raw quotient of identical doubles is bit-exact in
      // both engines, while round() implementations differ at boundaries
      nanvl(ratio, lit(0.0)).as("unit_price"),
      coalesce(nullif(col("l_returnflag"), lit("N")), lit("Unknown")).as("flag_filled"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  // F13: temperature softmax within group (took_recommandations_softmaxsampling_discount.py:215-231)
  private def f13Softmax(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
    val weight = exp(col("c_acctbal") / lit(1000.0) / lit(2.5))
    Tables.customer(spark, dir)
      .withColumn("prob", round(weight / sum(weight).over(w), 6))
      .select(col("c_custkey"), col("c_mktsegment"), col("prob"))
      .orderBy("c_custkey")
  }

  // F15: category → integer codes, the reference's `.cat.codes` feature
  // encoding (xgboost_training_for_big_data.py:133-134) via MLlib's
  // StringIndexer (frequencyDesc, documented alphabetical tie-break) —
  // mirrored in SQL as dense_rank over (count DESC, value ASC) − 1.
  private def f15CategoryCodes(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.StringIndexer
    val part = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"))
    val model = new StringIndexer().setInputCol("p_brand").setOutputCol("code")
      .setStringOrderType("frequencyDesc").fit(part)
    model.transform(part)
      .select(col("p_partkey"), col("p_brand"), col("code").cast("int").as("brand_code"))
      .orderBy("p_partkey")
  }

  // R1: seeded fixed-fraction sample — hash-thinned, partitioning-proof
  // (second_third_and_forth_data_injection.py:66-69; SURVEY §7.4 trap 9)
  private def r1SeededSample(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(ColFns.pseudoUniform(col("o_orderkey"), 42L) < 0.05)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")

  // R3: edge dropout of 15% restricted to dvid=1
  // (Node2vec_algorithm_inscripton.py:94-121)
  private def r3EdgeDropout(spark: SparkSession, dir: String): DataFrame = {
    val edges = Tables.orders(spark, dir).select(
      col("o_orderkey").as("key"),
      (pmod(col("o_orderkey"), lit(5)) + 1).as("dvid"))
    edges.filter(col("dvid") =!= 1 || ColFns.pseudoUniform(col("key"), 13L) > 0.15)
      .groupBy("dvid").agg(count(lit(1)).as("kept"))
      .orderBy("dvid")
  }

  // R4: stratified train/test split (xgboost_model_training.py:232-234)
  private def r4StratifiedSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("split",
        when(ColFns.pseudoUniform(col("o_orderkey"), 17L) < 0.8, "train").otherwise("test"))
      .groupBy("o_orderstatus", "split").agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus", "split")

  // R5: deterministic gaussian-ish feature noise (xgboost_mode_training_plus_dynamic_discount.py:271-273)
  private def r5FeatureNoise(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_custkey"),
      round(col("c_acctbal") +
        (ColFns.pseudoUniform(col("c_custkey"), 19L) - 0.5) * 0.01, 6).as("acctbal_noisy"))
      .orderBy("c_custkey")

  // R6: minority-class oversampling gate (xgboost_training_for_big_data.py:573-581)
  private def r6Oversample(spark: SparkSession, dir: String): DataFrame = {
    val labeled = Tables.orders(spark, dir).select(col("o_orderkey"),
      when(col("o_totalprice") > 450000.0, 1L).otherwise(0L).as("label"))
    val minority = labeled.filter(col("label") === 1)
      .filter(ColFns.pseudoUniform(col("o_orderkey"), 29L) < 0.5)
    labeled.unionByName(minority).groupBy("label").agg(count(lit(1)).as("n"))
      .orderBy("label")
  }

  // R6 (full form): SMOTE-style interpolated minority synthesis
  // (xgboost_training_for_big_data.py:573-581) — synthetic rows on the
  // segment between each minority point and a NEARBY same-class
  // neighbor, λ ∈ [0,1) deterministic. Neighborhood is SMOTE's own
  // notion approximated scalably: within each of 64 hash buckets the
  // minority sorts by the dominant feature and pairs with the next
  // point via lead() — adjacent-in-feature-space, the 1-D analogue of
  // imblearn's k-NN pairing, in ONE 64-way-parallel window (no k-NN
  // join, no partition ever sees more than ~1/64 of the minority
  // class). Gated on imbalance > 5:1 like the reference; under the
  // gate the result is empty (same schema).
  private def r6bSmoteInterp(spark: SparkSession, dir: String): DataFrame = {
    val labeled = Tables.orders(spark, dir).select(
      col("o_orderkey").as("okey"),
      when(col("o_totalprice") > 450000.0, 1L).otherwise(0L).as("label"),
      col("o_totalprice").cast("double").as("f1"),
      dayofmonth(col("o_orderdate")).cast("double").as("f2"))
    // bounded collect: exactly two rows (class counts), the same
    // imbalance diagnosis every trainer entry performs
    val cc = labeled.groupBy("label").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nPos = cc.getOrElse(1L, 0L)
    val nNeg = cc.getOrElse(0L, 0L)
    val empty = labeled.filter(lit(false)).select(
      col("okey"), lit(0L).as("copy_no"),
      col("f1").as("f1_synth"), col("f2").as("f2_synth"))
    if (nPos == 0 || nNeg.toDouble / nPos <= 5.0) empty
    else {
      // synthesis target = min(deficit, 3 per minority point), realized
      // as ⌈frac⌉ interpolation copies per paired point with the
      // fractional last copy hash-thinned — the deficit is actually
      // produced, not just encoded in a keep-probability (a per-row
      // p<frac filter is vacuous whenever frac ≥ 1, i.e. always under
      // the >5:1 gate)
      val frac = math.min(nNeg - nPos, 3L * nPos).toDouble / nPos
      val fracFloor = math.floor(frac).toLong
      val w = Window.partitionBy("bkt").orderBy("f1", "okey")
      val lam = ColFns.pseudoUniform(col("okey") * 3 + col("copy_no"), 59L)
      labeled.filter(col("label") === 1)
        .withColumn("bkt", pmod(col("okey"), lit(64L)))
        .withColumn("f1_nb", lead("f1", 1).over(w))
        .withColumn("f2_nb", lead("f2", 1).over(w))
        .filter(col("f1_nb").isNotNull)
        .withColumn("copy_no",
          explode(sequence(lit(0L), lit(math.ceil(frac).toLong - 1))))
        .filter(col("copy_no") < fracFloor ||
          ColFns.pseudoUniform(col("okey"), 53L) < frac - fracFloor)
        .select(col("okey"), col("copy_no"),
          round(col("f1") + lam * (col("f1_nb") - col("f1")), 6).as("f1_synth"),
          round(col("f2") + lam * (col("f2_nb") - col("f2")), 6).as("f2_synth"))
        .orderBy("okey", "copy_no")
    }
  }

  // R7: weighted pick without replacement via inverse-CDF over an ordered
  // cumulative-weight window (topk_recommandations_diverse_nodiscounts.py:279-296)
  private def r7WeightedPick(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("ck"), col("c_mktsegment").as("segment"),
      greatest(col("c_acctbal"), lit(1.0)).as("w"))
    val wCum = Window.partitionBy("segment").orderBy("ck")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wSeg = Window.partitionBy("segment")
    val staged = c
      .withColumn("cumw", sum("w").over(wCum))
      .withColumn("tot", sum("w").over(wSeg))
      .withColumn("u", ColFns.pseudoUniform(min("ck").over(wSeg), 23L))
    val hits = staged.filter(col("cumw") >= col("u") * col("tot"))
    val wPick = Window.partitionBy("segment").orderBy("cumw")
    hits.withColumn("rn", row_number().over(wPick)).filter(col("rn") === 1)
      .select(col("segment"), col("ck").as("picked"))
      .orderBy("segment")
  }

  // R8: temperature-based domain mixing — the multilingual-corpus
  // sampling rule (p_i ∝ c_i^α, α=0.5): per-language doc counts are
  // raised to the temperature, normalized, and turned into a per-domain
  // sample allocation for a fixed budget. The per-domain count table is
  // tiny (one row per language) — at 100 TB this is a broadcast-able
  // mixing plan computed from metadata, driving per-partition samplers.
  private def r8TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val alpha = 0.5
    val budget = 200
    val counts = Tables.documents(spark, dir)
      .groupBy("lang").agg(count(lit(1)).as("n_docs"))
    // bounded: one row per language
    val w = ColFns.boundedGlobalAgg(col("lang"))
    counts
      .withColumn("wgt", pow(col("n_docs").cast("double"), alpha))
      .withColumn("p", round(col("wgt") / sum("wgt").over(w), 6))
      .withColumn("n_target", round(col("p") * budget, 0).cast("long"))
      .select("lang", "n_docs", "p", "n_target")
      .orderBy("lang")
  }

  // W9: calendar gap-fill — e1's hourly rollup reports only hours that
  // HAVE events; a report needs every hour, zero-filled. The dense hour
  // spine comes from sequence() over the measured [min, max] span — a
  // metadata-sized generate off a 1-row aggregate, never a corpus scan —
  // left-joined by the hourly counts (both sides tiny; AQE broadcasts).
  // At 100 TB the spine is still |hours| rows: gap-fill cost is a
  // function of the CALENDAR, not the data.
  private def w9GapFill(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val span = hourly.agg(min("h").as("lo"), max("h").as("hi"))
    val spine = span.select(
      explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("h"))
    spine.join(hourly, Seq("h"), "left")
      .select(col("h").as("hour"), coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("hour")
  }

  // A25: single-pass pipeline audit via Spark's Observation API
  // (CollectMetrics). A production quality gate needs BOTH its
  // survivors and its drop counters; the naive form scans twice (once
  // to filter, once to count per rule). `observe` rides the counters
  // on the gate's OWN scan as accumulator-backed metrics — at 100 TB
  // the audit is free, and unlike a cached two-pass it can never
  // disagree with the rows the job actually shipped. The entry returns
  // the audit table; the one action that fills it IS the gate job.
  private def a25ObservedAudit(spark: SparkSession, dir: String): DataFrame = {
    // Observation() lazily initializes the session's ObservationManager —
    // a NON-SERIALIZABLE field on Spark 4's classic.SparkSession. Any
    // later job whose task closure pins the session (e.g. an MLlib model
    // carrying its trainingSummary) then dies with
    // NotSerializableException. Run the observed gate on an isolated
    // newSession() clone (shares the SparkContext and cached data, own
    // sessionState) so the shared session is never touched; only plain
    // Longs cross back to the driver.
    val iso = spark.newSession()
    val obs = org.apache.spark.sql.Observation()
    val gated = Tables.documents(iso, dir)
      .withColumn("r_short", (length(col("text")) < 200).cast("long"))
      .withColumn("r_zh", (col("lang") === "zh").cast("long"))
    val observed = gated.observe(obs,
      count(lit(1)).as("n_total"),
      sum(col("r_short")).as("n_short"),
      sum(col("r_zh")).as("n_zh"),
      sum((col("r_short") === 0 && col("r_zh") === 0).cast("long")).as("n_pass"))
    // the gate job — survivors counted here stand in for the write a
    // real pipeline would do; the metrics fill during this same scan
    val shipped = observed.filter(col("r_short") === 0 && col("r_zh") === 0).count()
    val m = obs.get
    import spark.implicits._
    Seq("n_total", "n_short", "n_zh", "n_pass")
      .map(k => (k, m(k).asInstanceOf[Long]))
      .toDF("metric", "n")
      // belt and braces: the observed pass count must equal the rows
      // the gate actually shipped (they share one scan, so always true)
      .filter(lit(shipped) === lit(m("n_pass").asInstanceOf[Long]))
      .orderBy("metric")
  }

  // A26: table-level CONSTRAINT AUDIT — the data-contract gate (Deequ's
  // shape re-expressed as plain aggregates). Six declared constraints
  // across five tables: PK uniqueness, two FK referential checks, a
  // range rule, a NOT-NULL rule, and a business rule
  // (customer_acctbal_nonneg) that the data genuinely VIOLATES — the
  // failing channel is exercised, not just compiled. Execution
  // discipline: every scalar constraint on a table rides ONE aggregate
  // scan of it (conditional sums), and each FK check is a single
  // key-shuffled anti-join — at 100 TB validation costs one pass per
  // table plus one join per FK, and the report is |constraints| rows.
  // Contrast with a25: that entry audits a pipeline's own gate scan;
  // this one audits standing tables against a declared contract.
  private def a26ConstraintAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
    val cust = Tables.customer(spark, dir)
    val ev = Tables.events(spark, dir)
    // the seven constraint actions are INDEPENDENT jobs on different
    // tables; submitted sequentially each paid its own scheduling +
    // straggler tail while the rest of the host idled. Submit them
    // from a small pool so later jobs back-fill the earlier jobs'
    // tails (guide §2.6 overlap independent jobs — the graph-memo
    // build's pattern); wall becomes ~max(job) instead of the sum.
    // Futures only carry Rows/Longs back; any task failure rethrows
    // at the Await below.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
    val oF = Future { orders.agg(count(lit(1)).as("n"),
      countDistinct(col("o_orderkey")).as("d")).head() }
    val pF = Future { part.agg(count(lit(1)).as("n"),
      sum(when(col("p_size").between(1, 50), 0L).otherwise(1L)).as("v")).head() }
    val eF = Future { ev.agg(count(lit(1)).as("n"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("v")).head() }
    val cF = Future { cust.agg(count(lit(1)).as("n"),
      sum(when(col("c_acctbal") < 0, 1L).otherwise(0L)).as("v")).head() }
    val liNF = Future { li.count() }
    val fkOrdersF = Future { li.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey").as("l_orderkey")),
        Seq("l_orderkey"), "left_anti").count() }
    val fkPartF = Future { li.select(col("l_partkey"))
      .join(part.select(col("p_partkey").as("l_partkey")),
        Seq("l_partkey"), "left_anti").count() }
    val o = Await.result(oF, Duration.Inf)
    val p = Await.result(pF, Duration.Inf)
    val e = Await.result(eF, Duration.Inf)
    val c = Await.result(cF, Duration.Inf)
    val liN = Await.result(liNF, Duration.Inf)
    val fkOrders = Await.result(fkOrdersF, Duration.Inf)
    val fkPart = Await.result(fkPartF, Duration.Inf)
    Seq(
      ("orders_pk_unique", o.getLong(0), o.getLong(0) - o.getLong(1)),
      ("lineitem_fk_orders", liN, fkOrders),
      ("lineitem_fk_part", liN, fkPart),
      ("part_size_range", p.getLong(0), p.getLong(1)),
      ("events_user_not_null", e.getLong(0), e.getLong(1)),
      ("customer_acctbal_nonneg", c.getLong(0), c.getLong(1)))
      .toDF("rule", "checked", "violations")
      .orderBy("rule")
    } finally pool.shutdown()
  }

  // A27: feature correlation — the EDA pass a feature-engineering
  // pipeline runs before trusting a column pair (does discount actually
  // move quantity?). Computed per group from EXACT INTEGER moment sums
  // (n, Σx, Σy, Σxy, Σx², Σy² — quantity units and whole discount
  // percents, both small integers, so every sum is exact BIGINT): both
  // engines then evaluate the same closed-form Pearson expression on
  // identical integers and produce identical doubles — no
  // summation-order float drift, the trap a naive corr() aggregate
  // hash-gate would hit. One scan, map-side partial sums; at 100 TB a
  // whole correlation MATRIX is one pass with k·(k+1)/2 conditional
  // sums, never k² scans.
  private def a27FeatureCorrelation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .withColumn("x", col("l_quantity").cast("long"))
      .withColumn("y", round(col("l_discount") * 100).cast("long"))
    li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      // zero-variance guard: Spark's Divide NULLs on a 0 divisor while
      // DuckDB (ieee_floating_point_ops) yields inf/nan — emit NULL on
      // BOTH sides explicitly so degenerate groups keep the cross-engine
      // contract (correlation is undefined there anyway)
      .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
      .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
      .withColumn("corr_qty_disc",
        when(col("vx") > 0 && col("vy") > 0, round(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt(col("vx").cast("double")) * sqrt(col("vy").cast("double"))), 6)))
      .select("l_returnflag", "n", "sxy", "corr_qty_disc")
      .orderBy("l_returnflag")
  }

  // E14: stream–stream LEFT OUTER interval join — the null-emission-at-
  // watermark semantics e8's inner join can't express. Purchases with
  // zero band clicks surface as n_clicks = 0 once the watermark proves
  // no click can still arrive. The gate keeps only the watermark-SAFE
  // subset, and the cutoff is DERIVED from the data in both engines:
  // date_trunc('day', max(ts) − 2 h). The final watermark under
  // AvailableNow is exactly max(ts) − 2 h, and day-truncation only
  // moves the cutoff DOWN, so cutoff ≤ watermark on any dataset span —
  // every kept purchase is flushed, quantized identically by Spark and
  // DuckDB (both UTC). Aggregated per purchase so the gate needs no
  // cross-engine NULL-ordering contract.
  /** e14's watermark-safe cutoff: day-truncated (max(ts) − delay). */
  private[graft] def e14Cutoff(spark: SparkSession, dir: String): java.sql.Timestamp =
    Tables.events(spark, dir)
      .agg(date_trunc("day", max(col("ts")) - expr("INTERVAL 2 HOURS")).as("c"))
      .head().getTimestamp(0)

  private def e14StreamOuterJoin(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.runAvailableNow(spark, dir, df =>
        graft.streaming.EventStream.intervalJoinOuter(df)
          .select("purchase_id", "p_ts", "c_ts", "c_value"),
        queryName = s"e14_oivj_${math.abs(dir.hashCode)}",
        shufflePartitions = Some(4))
      .filter(col("p_ts") < lit(e14Cutoff(spark, dir)))
      .groupBy("purchase_id")
      .agg(count(col("c_ts")).as("n_clicks"),
        round(sum(coalesce(col("c_value"), lit(0.0))), 2).as("click_value"))
      .orderBy("purchase_id")

  // R11: per-group k-sample as a native Catalyst AGGREGATE — the
  // BottomKByHash TypedImperativeAggregate keeps the k keys with the
  // smallest pseudoUniform hash per group. The window formulation
  // (row_number OVER hash order, the r1/r4 family's shape when a
  // per-group CAP is needed) shuffles and sorts EVERY row; the
  // aggregate keeps ≤k keys per group map-side (ObjectHashAggregate
  // partial) so the exchange carries k·|groups| keys — the sampling
  // plan a 100 TB negative-sampling stage actually wants. Exploded to
  // rows for the hash gate; draw order = ascending hash = the oracle's
  // row_number order.
  private def r11GroupSample(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy("c_mktsegment")
      .agg(graft.plans.expressions.bottom_k_by_hash(col("c_custkey"), 8, 7L).as("ids"))
      .select(col("c_mktsegment"), posexplode(col("ids")).as(Seq("rank", "c_custkey")))
      .orderBy("c_mktsegment", "rank")

  // Event-stream shaped: tumbling window aggregation (the batch twin of
  // the Structured Streaming path in graft.streaming)
  private def e1EventWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"), col("n"), col("total_value"))
      .orderBy("window_start", "event_type")

  // E13: data-driven SESSION windows — Spark's native session_window
  // (gap-merged, per user), the batch face of the stateful
  // sessionization the e4 stream runs. A session's end is its last
  // event + gap; two sessions merge when the next event lands STRICTLY
  // inside the previous window's end. One groupBy = one user-keyed
  // shuffle; the oracle re-derives the same islands relationally
  // (lag-gap break flags + running sum) — native-API and hand-rolled
  // sessionization must agree event-for-event.
  private def e13SessionWindows(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("total_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("total_value"))
      .orderBy("user_id", "session_start")

  // The same windowed aggregation executed through Structured Streaming
  // (AvailableNow over the parquet source, complete output mode so every
  // window flushes) — hash-checked against the SAME DuckDB oracle as the
  // batch twin would be: stream/batch parity is part of the contract.
  private def e3StreamWindows(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.runAvailableNow(spark, dir,
        df => graft.streaming.EventStream.windowedCounts(df),
        queryName = s"e3_win_${math.abs(dir.hashCode)}",
        mode = org.apache.spark.sql.streaming.OutputMode.Complete())
      .select(col("window_start"), col("event_type"), col("n"),
        round(col("total_value"), 4).as("total_value"))
      .orderBy("window_start", "event_type")

  // E4: stateful streaming sessionization (flatMapGroupsWithState) —
  // the stream twin of e2. With Append output and no timeout, each
  // user's LAST session stays in state when the AvailableNow run drains,
  // so the contract (and the oracle) is "every closed session": the
  // batch result minus each user's final session.
  private def e4StreamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.streaming.EventStream.runAvailableNow(spark, dir, df =>
        graft.streaming.EventStream.sessionize(
          df.select(col("event_id").cast("long"), col("ts"),
            col("user_id").cast("long"), col("event_type"),
            col("value").cast("double"))
            .as[graft.streaming.EventStream.Event]).toDF(),
        queryName = s"e4_sess_${math.abs(dir.hashCode)}")
      .orderBy("user_id", "session_start")
  }

  // E5: streaming exact dedup (dropDuplicatesWithinWatermark) — D1's
  // streaming face. Projected to the key columns only, so the emitted
  // row per key is deterministic regardless of which arrival won, and
  // the oracle is a plain batch DISTINCT.
  private def e5StreamDedup(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.runAvailableNow(spark, dir, df =>
        graft.streaming.EventStream.dedupStream(
          df.select(col("ts"), col("user_id"), col("event_type")),
          Seq("user_id", "event_type"))
          .select("user_id", "event_type"),
        queryName = s"e5_dedup_${math.abs(dir.hashCode)}")
      .orderBy("user_id", "event_type")

  // E6: stream–static enrichment join — the event stream joined per
  // micro-batch against the broadcast customer dimension, rolled up by
  // nation (Complete mode flushes the running aggregate). Same DuckDB
  // oracle as the batch form: stream/batch parity is the contract.
  private def e6StreamStaticJoin(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.runAvailableNow(spark, dir, df =>
        graft.streaming.EventStream.enrichedCounts(df,
          Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))),
        queryName = s"e6_enrich_${math.abs(dir.hashCode)}",
        mode = org.apache.spark.sql.streaming.OutputMode.Complete())
      .select(col("c_nationkey"), col("n"), round(col("total_value"), 4).as("total_value"))
      .orderBy("c_nationkey")

  // E9: funnel analysis — ordered sequence completion per user
  // (view → first click AFTER that view → first purchase AFTER that
  // click), rolled up to per-stage user counts and the summed
  // click→purchase delay (sum_purchase_delay_us — integer-exact across
  // engines, which a median of timestamps is not).
  // Each stage is a keyed aggregate over the prior stage's anchor time:
  // three shuffles on user_id total, no per-user event sorting.
  private def e9Funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
    // each stage feeds BOTH the next stage and the final count row;
    // un-materialized, the executed plan re-evaluated v (and its events
    // scan) under c, p AND the count — checkpoint the user-level stage
    // tables once each (user-cardinality, two longs per row)
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("t").as("vt"))
      .localCheckpoint(true)
    // min() over the (constant-per-group) anchor, mirroring the oracle —
    // first() would be flagged as order-dependent even though the value
    // is unique per user here
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("t") > col("vt"))
      .groupBy("user_id").agg(min("t").as("ct"), min("vt").as("vt"))
      .localCheckpoint(true)
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("t") > col("ct"))
      .groupBy("user_id").agg(min("t").as("pt"), min("ct").as("ct"))
    val row = v.agg(count(lit(1)).as("n_view")).crossJoin(
      c.agg(count(lit(1)).as("n_click_after"))).crossJoin(
      p.agg(count(lit(1)).as("n_purchase_after"),
        sum(col("pt") - col("ct")).as("sum_purchase_delay_us")))
    row.select(col("n_view"), col("n_click_after"), col("n_purchase_after"),
      col("sum_purchase_delay_us"))
  }

  // W7: rolling time-RANGE window — per order, the same customer's
  // order count and revenue over the preceding 90 days (inclusive).
  // RANGE frames (not ROWS): same-day peers all join the frame, so the
  // result is partitioning- and tie-independent. Revenue is summed in
  // exact integer cents — windowed double sums associate differently
  // across engines, cents don't.
  private def w7RollingWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"),
      datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1992-01-01")))
        .cast("long").as("d"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val w = Window.partitionBy("o_custkey").orderBy("d").rangeBetween(-90, 0)
    o.select(col("o_orderkey"), col("o_custkey"),
        count(lit(1)).over(w).as("n_90d"),
        sum("cents").over(w).as("rev_cents_90d"))
      .orderBy("o_orderkey")
  }

  // E8: watermarked stream–stream interval join — purchases ⋈ the same
  // user's clicks in the 30 minutes before, then a batch rollup of the
  // materialized matches. Same band semantics as j12_range_join's inner
  // aggregate, so the DuckDB oracle is shared shape: stream/batch
  // parity is the contract.
  private def e8StreamIntervalJoin(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStream.runAvailableNow(spark, dir, df =>
        graft.streaming.EventStream.intervalJoin(df)
          .select("purchase_id", "p_user", "c_value"),
        queryName = s"e8_ivj_${math.abs(dir.hashCode)}",
        // 4 partitions: the join keeps 4 state stores per partition and
        // this entry is a bounded correctness demo — 32 partitions of
        // store setup was 8× fixed cost for the same answer
        shufflePartitions = Some(4))
      .groupBy("purchase_id")
      .agg(count(lit(1)).as("n_clicks"), round(sum("c_value"), 2).as("click_value"))
      .orderBy("purchase_id")

  // A17: pivot — order counts and revenue spread across order-status
  // columns per nation (explicit value list keeps the schema static,
  // which is also the scale rule: pivot over an unbounded value set
  // means a driver-side distinct first).
  private def a17Pivot(spark: SparkSession, dir: String): DataFrame = {
    val joined = Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
    joined.groupBy(col("n_name").as("nation"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("nation"), col("F").as("n_f"), col("O").as("n_o"), col("P").as("n_p"))
      .orderBy("nation")
  }

  // A18: unpivot/melt — the per-status counts folded back to long form
  // (the inverse reshaping; Spark's unpivot = the `stack` generator)
  private def a18Unpivot(spark: SparkSession, dir: String): DataFrame =
    a17Pivot(spark, dir)
      .unpivot(Array(col("nation")),
        Array(col("n_f"), col("n_o"), col("n_p")), "status", "n")
      .orderBy("nation", "status")

  // F16: JSON field extraction — the events table's props column is a
  // JSON document; pull the numeric field and aggregate it per event
  // type (get_json_object stays inside codegen; at scale prefer an
  // explicit from_json schema so pruning works)
  private def f16JsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n_with_k"), sum("k").as("k_sum"))
      .orderBy("event_type")

  // A19: exact percentiles (median/p90) per group — the exact
  // counterpart of a16's approx sketches; l_quantity is integer-valued
  // so the interpolated values are exact binary fractions in both
  // engines.
  private def a19ExactPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).groupBy("l_returnflag")
      .agg(percentile(col("l_quantity"), lit(0.5)).as("median_qty"),
        percentile(col("l_quantity"), lit(0.9)).as("p90_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  // W8: lag/lead sequence windows — per customer, the gap in days since
  // their previous order (first order → -1). Deterministic ordering by
  // (date, orderkey); integer day arithmetic.
  private def w8LagLead(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"),
      datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1992-01-01")))
        .cast("long").as("d"))
    val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    o.select(col("o_orderkey"), col("o_custkey"),
        coalesce(col("d") - lag("d", 1).over(w), lit(-1L)).as("days_since_prev"),
        coalesce(lead("d", 1).over(w) - col("d"), lit(-1L)).as("days_to_next"))
      .orderBy("o_orderkey")
  }

  // A20: cohort retention — users bucketed by first-activity week; per
  // (cohort, week-offset) the count of still-active users. Two keyed
  // aggregates and a broadcast-able first-week join — the standard
  // retention matrix, shuffle-bounded by |users|, not |events|.
  private def a20CohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val WEEK = 7L * 24 * 3600 * 1000000L
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), floor(unix_micros(col("ts")) / WEEK).as("wk"))
      .distinct()
    val first = ev.groupBy("user_id").agg(min("wk").as("cohort"))
    ev.join(first, "user_id")
      .groupBy(col("cohort"), (col("wk") - col("cohort")).as("week_offset"))
      .agg(countDistinct("user_id").as("n_active"))
      .orderBy("cohort", "week_offset")
  }

  // A22: robust statistics — per-group median and MAD (median absolute
  // deviation), the outlier-resistant counterparts of a3's mean/stddev:
  // two exact-percentile passes, the second over |x − median| after a
  // broadcast join of the per-group medians. Quantities are
  // integer-valued so both interpolations are exact.
  private def a22RobustStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select("l_returnflag", "l_quantity")
    val med = li.groupBy("l_returnflag")
      .agg(percentile(col("l_quantity"), lit(0.5)).as("median_qty"))
    li.join(broadcast(med), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(min("median_qty").as("median_qty"),
        percentile(abs(col("l_quantity") - col("median_qty")), lit(0.5)).as("mad_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  // F17: date truncation — monthly revenue rollup via date_trunc (the
  // calendar-bucketing primitive next to f7/f8's day math)
  private def f17DateTrunc(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("month")

  // A15: hierarchical rollup (flag → status → grand total) — the
  // grouping-sets surface the reference lacks but any analytics engine
  // at scale needs; one pass, partial aggregation per grouping set.
  private def a15Rollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy("flag", "status")

  // A16: sketch aggregates (HLL distinct count, approximate quantiles) —
  // the constant-memory summaries a 100 TB profile pass runs instead of
  // exact distinct/sort. Estimates are implementation-specific → no
  // cross-engine oracle (rows-only); CatalogGuardsSpec pins the
  // documented error bounds against the exact answers.
  private def a16ApproxSketches(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.agg(
      approx_count_distinct(col("l_partkey")).as("nd_parts"),
      approx_count_distinct(col("l_orderkey")).as("nd_orders"),
      expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 1000)").as("pcts"))
      .select(col("nd_parts"), col("nd_orders"),
        col("pcts").getItem(0).as("p50_price"),
        col("pcts").getItem(1).as("p95_price"))
  }

  // A16b: the sketch entry under the hash gate — exact distincts are
  // recomputed by the oracle; the sketch side is gated as an INVARIANT
  // (approx within 10% of exact, approx-p50 inside the exact p45–p55
  // band), so a drifting HLL/KLL implementation flips a flag and fails
  // the hash even though the sketch value itself has no SQL mirror.
  // Two data scales in one pass ("full" and the even-orderkey "half",
  // whose order cardinality is ~½) so the bound is asserted as a TREND
  // across scale, not at one point — the ~1/√k error of a sketch must
  // hold regardless of n, and a drifting implementation usually fails
  // at one scale first. The KMV row rides the e16 machinery: k=128 ≪
  // distinct orders at every shipped SF, so the ESTIMATOR regime (not
  // the exact below-k regime) is what's gated, at a 0.25 bound ≈ 2.8σ
  // of the deterministic splitmix64 draw.
  private def a16bSketchBounds(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.expressions.{kmv_sketch, kmv_card}
    val K = 128
    val tagged = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_orderkey"), col("l_extendedprice"),
        explode(when(pmod(col("l_orderkey"), lit(2)) === 0,
          array(lit("full"), lit("half"))).otherwise(array(lit("full"))))
          .as("scale"))
    tagged.groupBy("scale").agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        approx_count_distinct(col("l_partkey")).as("nd_parts"),
        approx_count_distinct(col("l_orderkey")).as("nd_orders"),
        kmv_card(kmv_sketch(col("l_orderkey").cast("long"), K)).as("kmv_orders"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap50"),
        expr("percentile(l_extendedprice, 0.45)").as("p45"),
        expr("percentile(l_extendedprice, 0.55)").as("p55"))
      .select(col("scale"),
        col("exact_parts"), col("exact_orders"),
        (abs(col("nd_parts").cast("double") / col("exact_parts") - 1.0) <= 0.1)
          .cast("int").as("parts_within_10pct"),
        (abs(col("nd_orders").cast("double") / col("exact_orders") - 1.0) <= 0.1)
          .cast("int").as("orders_within_10pct"),
        (col("ap50") >= col("p45") && col("ap50") <= col("p55"))
          .cast("int").as("p50_within_rank_band"),
        (abs(col("kmv_orders").cast("double") / col("exact_orders") - 1.0) <= 0.25)
          .cast("int").as("kmv_orders_within_bound"))
      .orderBy("scale")
  }

  // P6: inactive-node prune — drop customers with no purchase activity
  // in the 730 days before the cutoff (Node2vec_algorithm_inscripton.py:57-87)
  private def p6InactivePrune(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = java.sql.Timestamp.valueOf("1999-01-01 00:00:00")
    val lastAct = Tables.orders(spark, dir)
      .filter(col("o_orderdate") <= lit(cutoff))
      .groupBy(col("o_custkey")).agg(max("o_orderdate").as("latest"))
    lastAct.filter(datediff(lit(cutoff), col("latest")) <= 730)
      .select(col("o_custkey").as("kept_customer"), col("latest"))
      .orderBy("kept_customer")
  }

  // Gap-based sessionization via lag + running conditional sum
  private def e2Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val withGap = Tables.events(spark, dir)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1L).otherwise(0L))
    val withSession = withGap.withColumn("session_id",
      sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withSession.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts").cast("long")) - min(col("ts").cast("long"))).as("duration_sec"))
      .orderBy("user_id", "session_id")
  }

  val entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("q1_agg", q1Agg,
      "flagship TPC-H Q1-style pricing-summary aggregate",
      Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        |  round(sum(l_extendedprice),2) AS sum_base_price,
        |  CAST(floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |    CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) + 50.0)
        |    / 100.0) AS DOUBLE) / 100.0 AS sum_disc_price,
        |  round(avg(l_quantity),6) AS avg_qty, count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    CatalogEntry("a1_label_counts", a1LabelCounts,
      "group-by label counts",
      Some(graphPrelude(
      """h AS (
        |  SELECT 'node' AS kind, label AS name, count(*) AS cnt FROM nodes GROUP BY label
        |  UNION ALL
        |  SELECT 'edge', type, count(*) FROM edges GROUP BY type)
        |SELECT kind, name, cnt FROM h ORDER BY kind, name""".stripMargin))),
    CatalogEntry("a2_degree", a2Degree,
      "node degree aggregation (ref degree_analysis.py)",
      Some(graphPrelude(
      """ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)
        |SELECT id, count(*) AS degree FROM ends GROUP BY id ORDER BY id""".stripMargin))),
    CatalogEntry("a7_log_degree", a7LogDegree,
      "log-transformed degree feature",
      Some(graphPrelude(
      """ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges),
        |deg AS (SELECT id, count(*) AS degree FROM ends GROUP BY id)
        |SELECT id, degree, round(ln(1 + degree), 6) AS log_degree
        |FROM deg ORDER BY id""".stripMargin))),
    CatalogEntry("a3_degree_moments", a3DegreeMoments,
      "degree mean/stddev/skewness moments",
      Some(graphPrelude(
      """ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges),
        |deg AS (SELECT id, count(*) AS degree FROM ends GROUP BY id)
        |SELECT round(avg(degree),6) AS mean_degree, round(stddev_pop(degree),6) AS std_degree,
        |       count(*) AS n_nodes FROM deg""".stripMargin))),
    CatalogEntry("a4_degree_percentile", a4DegreePercentile,
      "percent_rank over node degrees",
      Some(graphPrelude(
      """ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges),
        |deg AS (SELECT id, count(*) AS degree FROM ends GROUP BY id)
        |SELECT id, degree, round(percent_rank() OVER (ORDER BY degree), 6) AS degree_pct
        |FROM deg ORDER BY id""".stripMargin))),
    CatalogEntry("a4b_percentileofscore_mean", a4bPercentileOfScore,
      "scipy percentileofscore tie-semantics twin of a4",
      Some(graphPrelude(
      """ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges),
        |deg AS (SELECT id, count(*) AS degree FROM ends GROUP BY id),
        |hist AS (SELECT degree, count(*) AS n FROM deg GROUP BY degree),
        |r AS (SELECT degree, n,
        |        coalesce(sum(n) OVER (ORDER BY degree
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnt_lt
        |      FROM hist),
        |tot AS (SELECT sum(n) AS t FROM hist)
        |SELECT d.id, d.degree,
        |  round(CAST(r.cnt_lt * 2 + r.n AS DOUBLE) / CAST(2 * tot.t AS DOUBLE), 6) AS pos_mean
        |FROM deg d JOIN r USING (degree) CROSS JOIN tot ORDER BY id""".stripMargin))),
    CatalogEntry("a5_perlabel_zscore", a5PerLabelZScore,
      "per-label z-score standardization",
      Some(graphPrelude(
      """ends AS (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges),
        |deg AS (SELECT id, count(*) AS degree FROM ends GROUP BY id),
        |j AS (SELECT d.id, n.label, d.degree FROM deg d JOIN nodes n ON d.id = n.id),
        |s AS (SELECT *, avg(degree) OVER (PARTITION BY label) AS m,
        |             stddev_pop(degree) OVER (PARTITION BY label) AS sd FROM j)
        |SELECT id, label, degree,
        |  round(CASE WHEN sd IS NULL OR sd = 0 THEN 0.0 ELSE (degree - m) / sd END, 6) AS degree_z,
        |  round(ln(1.0 + degree), 6) AS log_degree
        |FROM s ORDER BY id""".stripMargin))),
    CatalogEntry("a6_percommunity_stats", a6PerCommunityStats,
      "per-community aggregate statistics",
      Some("""WITH purch AS (SELECT o_custkey AS c_custkey, count(*) AS degree FROM orders GROUP BY o_custkey),
        |cust AS (SELECT c.c_custkey, c.c_nationkey, coalesce(p.degree, 0) AS degree
        |         FROM customer c LEFT JOIN purch p USING (c_custkey)),
        |s AS (SELECT *, avg(degree) OVER (PARTITION BY c_nationkey) AS m,
        |             stddev_pop(degree) OVER (PARTITION BY c_nationkey) AS sd,
        |             percent_rank() OVER (PARTITION BY c_nationkey ORDER BY degree) AS pct
        |      FROM cust)
        |SELECT c_custkey, c_nationkey, degree,
        |  round(CASE WHEN sd IS NULL OR sd = 0 THEN 0.0 ELSE (degree - m) / sd END, 6) AS degree_z,
        |  round(pct, 6) AS degree_pct
        |FROM s ORDER BY c_custkey""".stripMargin)),
    CatalogEntry("a8_recency_frequency", a8RecencyFrequency,
      "recency/frequency (RFM) customer aggregates",
      Some("""WITH acts AS (
        |  SELECT concat('cust_', o_custkey) AS id, max(o_orderdate) AS latest, count(*) AS frequency
        |  FROM orders WHERE o_orderdate <= TIMESTAMP '2002-01-01 00:00:00'
        |  GROUP BY o_custkey)
        |SELECT n.id,
        |  coalesce(date_diff('day', CAST(latest AS DATE), DATE '2002-01-01'), 999) AS recency_days,
        |  coalesce(frequency, 0) AS frequency
        |FROM (SELECT concat('cust_', c_custkey) AS id FROM customer) n
        |LEFT JOIN acts USING (id) ORDER BY id""".stripMargin)),
    CatalogEntry("a9_preferred_category", a9PreferredCategory,
      "per-customer preferred category by purchase mode",
      Some("""WITH counts AS (
        |  SELECT o_custkey AS customer, p_brand AS brand, count(*) AS cnt
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  JOIN part ON l_partkey = p_partkey
        |  GROUP BY o_custkey, p_brand),
        |r AS (SELECT *, row_number() OVER (PARTITION BY customer ORDER BY cnt DESC, brand ASC) AS rn
        |      FROM counts)
        |SELECT customer, brand AS preferred_brand, cnt FROM r WHERE rn = 1 ORDER BY customer""".stripMargin)),
    CatalogEntry("a11_target_encoding", a11TargetEncoding,
      "target encoding with global-mean smoothing",
      Some("""WITH rows_ AS (
        |  SELECT c_mktsegment AS segment, o_orderkey % 5 AS fold,
        |         CASE WHEN o_totalprice > 250000.0 THEN 1 ELSE 0 END AS target
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |pf AS (SELECT segment, fold, count(*) AS cnt,
        |              CAST(sum(target) AS BIGINT) AS pos
        |       FROM rows_ GROUP BY segment, fold),
        |s AS (SELECT *, sum(cnt) OVER (PARTITION BY segment) AS seg_cnt,
        |             sum(pos) OVER (PARTITION BY segment) AS seg_pos,
        |             sum(cnt) OVER () AS glob_cnt, sum(pos) OVER () AS glob_pos
        |      FROM pf)
        |SELECT segment, fold, cnt, pos,
        |  round(CASE WHEN seg_cnt = cnt THEN CAST(glob_pos AS DOUBLE) / glob_cnt
        |        ELSE CAST(seg_pos - pos AS DOUBLE) / (seg_cnt - cnt) END, 6) AS te_oof
        |FROM s ORDER BY segment, fold""".stripMargin)),
    CatalogEntry("a12_class_distribution", a12ClassDistribution,
      "label class distribution audit",
      Some("""WITH labeled AS (
        |  SELECT CASE WHEN o_totalprice > 250000.0 THEN 1 ELSE 0 END AS label FROM orders),
        |g AS (SELECT label, count(*) AS cnt FROM labeled GROUP BY label)
        |SELECT label, cnt, round(CAST(cnt AS DOUBLE) / sum(cnt) OVER (), 6) AS ratio
        |FROM g ORDER BY label""".stripMargin)),
    CatalogEntry("a13_community_summary", a13CommunitySummary,
      "community size/composition summary",
      Some("""SELECT count(DISTINCT c_nationkey) AS n_communities,
        |  round(CAST(count(*) AS DOUBLE) / count(DISTINCT c_nationkey), 6) AS avg_community_size
        |FROM customer""".stripMargin)),
    CatalogEntry("a14_timestamp_diagnostics", a14TimestampDiagnostics,
      "timestamp coverage/gap diagnostics",
      Some("""SELECT min(l_shipdate) AS min_ts, max(l_shipdate) AS max_ts, count(*) AS n_edges,
        |  count(DISTINCT CAST(l_shipdate AS DATE)) AS n_distinct_days
        |FROM lineitem""".stripMargin)),
    CatalogEntry("w2_topn_by_score", w2TopNByScore,
      "per-group top-N by score",
      Some("""WITH scored AS (
        |  SELECT p_partkey, 1.0/(1.0 + exp(-(p_retailprice/1000.0 - 1.0))) AS score FROM part),
        |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, p_partkey ASC) AS rank FROM scored)
        |SELECT rank, p_partkey, round(score, 6) AS score FROM r WHERE rank <= 10 ORDER BY rank""".stripMargin)),
    CatalogEntry("w7_rolling_window", w7RollingWindow,
      "rolling window aggregate",
      Some("""WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS d,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY d
        |    RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS n_90d,
        |  CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY d
        |    RANGE BETWEEN 90 PRECEDING AND CURRENT ROW) AS BIGINT) AS rev_cents_90d
        |FROM o ORDER BY o_orderkey""".stripMargin)),
    CatalogEntry("e9_funnel", e9Funnel,
      "click-to-purchase funnel",
      Some("""WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
        |v AS (SELECT user_id, min(t) AS vt FROM e
        |      WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.t) AS ct, min(v.vt) AS vt
        |      FROM e JOIN v ON v.user_id = e.user_id
        |      WHERE e.event_type = 'click' AND e.t > v.vt GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.t) AS pt, min(c.ct) AS ct
        |      FROM e JOIN c ON c.user_id = e.user_id
        |      WHERE e.event_type = 'purchase' AND e.t > c.ct GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM v) AS n_view,
        |       (SELECT count(*) FROM c) AS n_click_after,
        |       (SELECT count(*) FROM p) AS n_purchase_after,
        |       (SELECT CAST(sum(pt - ct) AS BIGINT) FROM p) AS sum_purchase_delay_us""".stripMargin)),
    CatalogEntry("w3_category_cap", w3CategoryCap,
      "per-category cap re-rank (ref topk_recommandations_diverse_nodiscounts.py)",
      Some("""WITH r AS (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        |  FROM part)
        |SELECT p_brand, rn, p_partkey, p_retailprice FROM r WHERE rn <= 2 ORDER BY p_brand, rn""".stripMargin)),
    CatalogEntry("f1_string_normalize", f1StringNormalize,
      "string normalization (trim/case/diacritics)",
      Some("""SELECT p_partkey, lower(trim(p_name)) AS name_norm,
        |  regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
        |  upper(trim(p_type)) AS type_key,
        |  upper(substr(lower(p_brand),1,1)) || substr(lower(p_brand),2) AS brand_title,
        |  concat_ws('_', 'part', p_partkey, p_brand) AS node_id
        |FROM part ORDER BY p_partkey""".stripMargin)),
    CatalogEntry("f5_multiformat_dates", f5MultiFormatDates,
      "multi-format date parsing",
      Some("""WITH t AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0 THEN strftime(o_orderdate, '%m/%d/%Y')
        |         WHEN o_orderkey % 3 = 1 THEN strftime(o_orderdate, '%m-%d-%Y')
        |         ELSE strftime(o_orderdate, '%Y-%m-%d') END AS date_text
        |  FROM orders)
        |SELECT o_orderkey, date_text,
        |  coalesce(try_strptime(date_text, '%m/%d/%Y'), try_strptime(date_text, '%m-%d-%Y'),
        |           try_strptime(date_text, '%Y-%m-%d'), TIMESTAMP '2022-06-01 00:00:00') AS parsed
        |FROM t ORDER BY o_orderkey""".stripMargin)),
    CatalogEntry("f7_f8_date_math", f7F8DateMath,
      "date add/diff calendar math",
      Some {
        val disc = {
          val u = ColFns.pseudoUniformSql("o_orderkey * 12 + month(o_orderdate)", 11L)
          s"""CASE WHEN month(o_orderdate) = 12 THEN round(0.30 + $u * 0.20, 2)
             |     WHEN month(o_orderdate) IN (6,7,11) THEN round(0.15 + $u * 0.15, 2)
             |     WHEN month(o_orderdate) IN (1,2,8) THEN round(0.05 + $u * 0.10, 2)
             |     ELSE round($u * 0.05, 2) END""".stripMargin
        }
        s"""SELECT o_orderkey, month(o_orderdate) AS order_month,
           |  CASE WHEN month(o_orderdate) = 12 THEN 'holiday_peak'
           |       WHEN month(o_orderdate) IN (6,7,11) THEN 'high_season'
           |       WHEN month(o_orderdate) IN (1,2,8) THEN 'low_season'
           |       ELSE 'regular' END AS season_band,
           |  date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-06-01') AS days_before_ref,
           |  $disc AS discount
           |FROM orders ORDER BY o_orderkey""".stripMargin
      }),
    CatalogEntry("f11_interactions", f11Interactions,
      "feature interaction terms",
      Some("""SELECT c_custkey, round(c_acctbal * c_nationkey, 6) + 0.0 AS bal_x_nation,
        |  round(c_acctbal / (c_nationkey + 1.0), 6) AS bal_per_nation,
        |  round(power(c_acctbal / 1000.0, 2), 6) AS bal_sq
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin)),
    CatalogEntry("f12_f14_guards", f12F14Guards,
      "divide-by-zero / null guards matching both engines",
      Some("""WITH g AS (
        |  SELECT l_orderkey, l_linenumber,
        |    least(greatest(l_discount, 0.02), 0.08) AS discount_clipped,
        |    CASE WHEN (l_orderkey + l_linenumber) % 7 = 0 THEN CAST('NaN' AS DOUBLE)
        |         ELSE l_extendedprice / l_quantity END AS ratio,
        |    coalesce(nullif(l_returnflag, 'N'), 'Unknown') AS flag_filled
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, discount_clipped,
        |  CASE WHEN isnan(ratio) THEN 0.0 ELSE ratio END AS unit_price,
        |  flag_filled
        |FROM g ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    CatalogEntry("f13_softmax", f13Softmax,
      "numerically-stable per-group softmax",
      Some("""WITH w AS (SELECT c_custkey, c_mktsegment, exp(c_acctbal / 1000.0 / 2.5) AS wt FROM customer)
        |SELECT c_custkey, c_mktsegment,
        |  round(wt / sum(wt) OVER (PARTITION BY c_mktsegment), 6) AS prob
        |FROM w ORDER BY c_custkey""".stripMargin)),
    CatalogEntry("f15_category_codes", f15CategoryCodes,
      "stable integer category codes",
      Some("""WITH freq AS (SELECT p_brand, count(*) AS c FROM part GROUP BY p_brand),
        |codes AS (
        |  SELECT p_brand,
        |    CAST(dense_rank() OVER (ORDER BY c DESC, p_brand ASC) - 1 AS INTEGER)
        |      AS brand_code
        |  FROM freq)
        |SELECT p.p_partkey, p.p_brand, c.brand_code
        |FROM part p JOIN codes c USING (p_brand) ORDER BY p.p_partkey""".stripMargin)),
    CatalogEntry("r1_seeded_sample", r1SeededSample,
      "deterministic seeded sample via pseudo-uniform hash",
      Some(s"""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         |WHERE ${ColFns.pseudoUniformSql("o_orderkey", 42L)} < 0.05
         |ORDER BY o_orderkey""".stripMargin)),
    CatalogEntry("r3_edge_dropout", r3EdgeDropout,
      "deterministic edge dropout",
      Some(s"""WITH e AS (SELECT o_orderkey AS key, o_orderkey % 5 + 1 AS dvid FROM orders)
         |SELECT dvid, count(*) AS kept FROM e
         |WHERE dvid <> 1 OR ${ColFns.pseudoUniformSql("key", 13L)} > 0.15
         |GROUP BY dvid ORDER BY dvid""".stripMargin)),
    CatalogEntry("r4_stratified_split", r4StratifiedSplit,
      "stratified train/validation split",
      Some(s"""WITH s AS (
         |  SELECT o_orderstatus,
         |    CASE WHEN ${ColFns.pseudoUniformSql("o_orderkey", 17L)} < 0.8 THEN 'train' ELSE 'test' END AS split
         |  FROM orders)
         |SELECT o_orderstatus, split, count(*) AS n FROM s
         |GROUP BY o_orderstatus, split ORDER BY o_orderstatus, split""".stripMargin)),
    CatalogEntry("r5_feature_noise", r5FeatureNoise,
      "hash-derived deterministic feature noise",
      Some(s"""SELECT c_custkey,
         |  round(c_acctbal + (${ColFns.pseudoUniformSql("c_custkey", 19L)} - 0.5) * 0.01, 6) AS acctbal_noisy
         |FROM customer ORDER BY c_custkey""".stripMargin)),
    CatalogEntry("r6_oversample", r6Oversample,
      "minority-class oversampling",
      Some(s"""WITH labeled AS (
         |  SELECT o_orderkey, CASE WHEN o_totalprice > 450000.0 THEN 1 ELSE 0 END AS label FROM orders),
         |aug AS (
         |  SELECT label FROM labeled
         |  UNION ALL
         |  SELECT label FROM labeled
         |  WHERE label = 1 AND ${ColFns.pseudoUniformSql("o_orderkey", 29L)} < 0.5)
         |SELECT label, count(*) AS n FROM aug GROUP BY label ORDER BY label""".stripMargin)),
    CatalogEntry("r6b_smote_interp", r6bSmoteInterp,
      "SMOTE-style neighbor interpolation twin",
      Some {
        val lam = ColFns.pseudoUniformSql("okey * 3 + copy_no", 59L)
        val pick = ColFns.pseudoUniformSql("okey", 53L)
        s"""WITH labeled AS (
           |  SELECT o_orderkey AS okey,
           |    CASE WHEN o_totalprice > 450000.0 THEN 1 ELSE 0 END AS label,
           |    CAST(o_totalprice AS DOUBLE) AS f1,
           |    CAST(EXTRACT(day FROM o_orderdate) AS DOUBLE) AS f2
           |  FROM orders),
           |c AS (SELECT
           |    sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS npos,
           |    sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS nneg
           |  FROM labeled),
           |o AS (SELECT okey, f1, f2,
           |    lead(f1) OVER (PARTITION BY ((okey % 64) + 64) % 64 ORDER BY f1, okey) AS f1_nb,
           |    lead(f2) OVER (PARTITION BY ((okey % 64) + 64) % 64 ORDER BY f1, okey) AS f2_nb
           |  FROM labeled WHERE label = 1),
           |s AS (SELECT o.*,
           |    CAST(least(nneg - npos, 3 * npos) AS DOUBLE) / CAST(npos AS DOUBLE) AS frac
           |  FROM o, c WHERE f1_nb IS NOT NULL AND nneg > 5 * npos),
           |e AS (SELECT s.*,
           |    unnest(range(0, CAST(ceil(frac) AS BIGINT))) AS copy_no FROM s)
           |SELECT okey, copy_no,
           |  round(f1 + $lam * (f1_nb - f1), 6) AS f1_synth,
           |  round(f2 + $lam * (f2_nb - f2), 6) AS f2_synth
           |FROM e
           |WHERE copy_no < floor(frac)
           |   OR (copy_no = floor(frac) AND $pick < frac - floor(frac))
           |ORDER BY okey, copy_no""".stripMargin
      }),
    CatalogEntry("r7_weighted_pick", r7WeightedPick,
      "weighted sampling (ref took_recommandations_adamsampling_discount.py)",
      Some {
        val u = ColFns.pseudoUniformSql("seed", 23L)
        s"""WITH c AS (SELECT c_custkey AS ck, c_mktsegment AS segment,
           |                  greatest(c_acctbal, 1.0) AS w FROM customer),
           |x AS (SELECT *, sum(w) OVER (PARTITION BY segment ORDER BY ck ROWS UNBOUNDED PRECEDING) AS cumw,
           |             sum(w) OVER (PARTITION BY segment) AS tot,
           |             min(ck) OVER (PARTITION BY segment) AS seed
           |      FROM c),
           |y AS (SELECT *, row_number() OVER (PARTITION BY segment ORDER BY cumw) AS rn
           |      FROM x WHERE cumw >= $u * tot)
           |SELECT segment, ck AS picked FROM y WHERE rn = 1 ORDER BY segment""".stripMargin
      }),
    CatalogEntry("r8_temperature_mix", r8TemperatureMix,
      "temperature-weighted corpus mixing plan",
      Some("""WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
        |w AS (SELECT lang, n_docs, pow(CAST(n_docs AS DOUBLE), 0.5) AS wgt FROM c),
        |p AS (SELECT lang, n_docs, round(wgt / sum(wgt) OVER (), 6) AS p FROM w)
        |SELECT lang, n_docs, p, CAST(round(p * 200, 0) AS BIGINT) AS n_target
        |FROM p ORDER BY lang""".stripMargin)),
    // the aggregate's draw order is ascending (hash, key) — exactly the
    // window oracle's row_number order on the shared pseudo-uniform
    CatalogEntry("r11_groupk_sample", r11GroupSample,
      "native BottomKByHash per-group k-sample aggregate",
      Some(s"""WITH h AS (
         |  SELECT c_mktsegment, c_custkey,
         |    ${ColFns.pseudoUniformSql("c_custkey", 7L)} AS u
         |  FROM customer),
         |r AS (
         |  SELECT c_mktsegment, c_custkey,
         |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY u, c_custkey) - 1 AS rank
         |  FROM h)
         |SELECT c_mktsegment, rank, c_custkey FROM r WHERE rank < 8
         |ORDER BY c_mktsegment, rank""".stripMargin)),
    CatalogEntry("e1_event_windows", e1EventWindows,
      "hourly tumbling windows (batch formulation)",
      Some("""SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n,
        |  round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),
    // native session_window re-derived as lag-gap islands: break when
    // the gap is ≥ 30 min (Spark merges only a STRICT overlap with the
    // previous window's end = last ts + gap); session end = last + gap
    CatalogEntry("e13_session_windows", e13SessionWindows,
      "native session_window aggregation",
      Some("""WITH g AS (
        |  SELECT user_id, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM g),
        |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events, round(sum(value), 4) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),
    CatalogEntry("e2_sessionize", e2Sessionize,
      "gap-based sessionization via lag + running sum",
      Some("""WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev_ts IS NULL
        |                     OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_session
        |      FROM g),
        |s AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM f)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  date_diff('second', min(ts), max(ts)) AS duration_sec
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin)),
    CatalogEntry("e3_stream_windows", e3StreamWindows,
      "streamed tumbling windows equal the batch truth",
      Some("""SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n,
        |  round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),
    CatalogEntry("e4_stream_sessionize", e4StreamSessionize,
      "streamed sessionization",
      Some("""WITH g AS (
        |  SELECT user_id, event_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |f AS (SELECT *, CASE WHEN prev_ts IS NULL
        |                     OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_session
        |      FROM g),
        |s AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |      FROM f),
        |agg AS (
        |  SELECT user_id, session_id,
        |    date_trunc('second', min(ts)) AS session_start,
        |    CAST(count(*) AS INT) AS n_events,
        |    date_diff('second', min(ts), max(ts)) AS duration_sec
        |  FROM s GROUP BY user_id, session_id),
        |a2 AS (SELECT *, max(session_id) OVER (PARTITION BY user_id) AS last_id FROM agg)
        |SELECT user_id, session_start, n_events, duration_sec
        |FROM a2 WHERE session_id < last_id
        |ORDER BY user_id, session_start""".stripMargin)),
    CatalogEntry("e5_stream_dedup", e5StreamDedup,
      "streaming dropDuplicates under a watermark",
      Some("""SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin)),
    CatalogEntry("e6_stream_static_join", e6StreamStaticJoin,
      "stream-static broadcast enrichment",
      Some("""SELECT c_nationkey, count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)),
    CatalogEntry("e8_stream_interval_join", e8StreamIntervalJoin,
      "stream-stream interval join",
      Some("""WITH clicks AS (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id AS purchase_id, count(*) AS n_clicks,
        |       round(sum(c.value), 2) AS click_value
        |FROM purch p JOIN clicks c ON c.user_id = p.user_id
        | AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
        | AND epoch_us(c.ts) < epoch_us(p.ts)
        |GROUP BY p.event_id ORDER BY purchase_id""".stripMargin)),
    // the outer join's batch truth: every cutoff purchase, matched or
    // not — n_clicks counts non-null band clicks, 0 when none. The
    // cutoff is the SAME data-derived expression the entry computes:
    // day-truncated (max(ts) − 2 h watermark delay), so the gate holds
    // on any dataset span, not just Jan 2024
    CatalogEntry("e14_stream_outer_join", e14StreamOuterJoin,
      "stream-stream outer join with a derived watermark cutoff",
      Some("""WITH cut AS (
        |  SELECT date_trunc('day', max(ts) - INTERVAL 2 HOUR) AS c FROM events),
        |clicks AS (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'purchase' AND ts < (SELECT c FROM cut))
        |SELECT p.event_id AS purchase_id, count(c.ts) AS n_clicks,
        |       round(sum(coalesce(c.value, 0.0)), 2) AS click_value
        |FROM purch p LEFT JOIN clicks c ON c.user_id = p.user_id
        | AND epoch_us(c.ts) >= epoch_us(p.ts) - 1800000000
        | AND epoch_us(c.ts) < epoch_us(p.ts)
        |GROUP BY p.event_id ORDER BY purchase_id""".stripMargin)),
    CatalogEntry("a25_observed_audit", a25ObservedAudit,
      "Dataset.observe metric audit (isolated session; serialization-safe)",
      Some("""WITH f AS (
        |  SELECT CASE WHEN length(text) < 200 THEN 1 ELSE 0 END AS r_short,
        |         CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS r_zh
        |  FROM documents)
        |SELECT metric, n FROM (
        |  SELECT 'n_total' AS metric, count(*) AS n FROM f
        |  UNION ALL SELECT 'n_short', CAST(sum(r_short) AS BIGINT) FROM f
        |  UNION ALL SELECT 'n_zh', CAST(sum(r_zh) AS BIGINT) FROM f
        |  UNION ALL SELECT 'n_pass',
        |    CAST(sum(CASE WHEN r_short = 0 AND r_zh = 0 THEN 1 ELSE 0 END) AS BIGINT) FROM f)
        |ORDER BY metric""".stripMargin)),
    // the declared contract restated rule by rule; the acctbal rule has
    // real violations in the data, so the failing channel is gated too
    CatalogEntry("a26_constraint_audit", a26ConstraintAudit,
      "declarative constraint audit: nulls, ranges, FK domains",
      Some("""SELECT * FROM (
        |  SELECT 'orders_pk_unique' AS rule, count(*) AS checked,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS violations
        |  FROM orders
        |  UNION ALL
        |  SELECT 'lineitem_fk_orders', count(*),
        |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  UNION ALL
        |  SELECT 'lineitem_fk_part', count(*),
        |    CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |  UNION ALL
        |  SELECT 'part_size_range', count(*),
        |    CAST(sum(CASE WHEN p_size BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM part
        |  UNION ALL
        |  SELECT 'events_user_not_null', count(*),
        |    CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM events
        |  UNION ALL
        |  SELECT 'customer_acctbal_nonneg', count(*),
        |    CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM customer)
        |ORDER BY rule""".stripMargin)),
    // the observed counters re-derived relationally (HUGEINT sums cast
    // back to BIGINT so the schemas agree)
    // same exact-integer moments, same closed-form expression — the
    // doubles agree because the integers do
    CatalogEntry("a27_feature_correlation", a27FeatureCorrelation,
      "Pearson correlation matrix with zero-variance guard",
      Some("""WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sy,
        |    CAST(sum(CAST(l_quantity AS BIGINT) *
        |             CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sxy,
        |    CAST(sum(CAST(l_quantity AS BIGINT) *
        |             CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx,
        |    CAST(sum(CAST(round(l_discount * 100) AS BIGINT) *
        |             CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n, sxy,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
        |  END AS corr_qty_disc
        |FROM m ORDER BY l_returnflag""".stripMargin)),
    // the dense spine re-derived via generate_series; zero-filled hours
    // must appear with n = 0
    CatalogEntry("w9_gapfill", w9GapFill,
      "calendar gap-fill via sequence + explode",
      Some("""WITH hourly AS (
        |  SELECT date_trunc('hour', ts) AS h, count(*) AS n FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |b AS (SELECT min(h) AS lo, max(h) AS hi FROM hourly),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h FROM b)
        |SELECT spine.h AS hour, coalesce(hourly.n, 0) AS n
        |FROM spine LEFT JOIN hourly USING (h)
        |ORDER BY hour""".stripMargin)),
    CatalogEntry("a15_rollup", a15Rollup,
      "hierarchical rollup (grouping sets) in one pass",
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |       coalesce(l_linestatus, 'ALL') AS status,
        |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin)),
    CatalogEntry("a17_pivot", a17Pivot,
      "pivot to wide per-category columns",
      Some("""SELECT n_name AS nation,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nation""".stripMargin)),
    CatalogEntry("a19_exact_percentiles", a19ExactPercentiles,
      "exact percentile aggregation",
      Some("""SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
    CatalogEntry("a20_cohort_retention", a20CohortRetention,
      "cohort retention matrix",
      Some("""WITH e AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch_us(ts) / 604800000000) AS BIGINT) AS wk
        |  FROM events),
        |f AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id)
        |SELECT f.cohort, e.wk - f.cohort AS week_offset,
        |       count(DISTINCT e.user_id) AS n_active
        |FROM e JOIN f USING (user_id)
        |GROUP BY f.cohort, e.wk - f.cohort
        |ORDER BY cohort, week_offset""".stripMargin)),
    CatalogEntry("f17_date_trunc", f17DateTrunc,
      "date_trunc calendar-bucket rollup",
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
        |       count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin)),
    CatalogEntry("a22_robust_stats", a22RobustStats,
      "median/MAD robust statistics",
      Some("""WITH med AS (
        |  SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_returnflag, min(m.median_qty) AS median_qty,
        |  quantile_cont(abs(l.l_quantity - m.median_qty), 0.5) AS mad_qty,
        |  count(*) AS n
        |FROM lineitem l JOIN med m ON m.l_returnflag = l.l_returnflag
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin)),
    CatalogEntry("w8_lag_lead", w8LagLead,
      "lag/lead offset features",
      Some("""WITH o AS (
        |  SELECT o_orderkey, o_custkey,
        |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS d
        |  FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  coalesce(d - lag(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey), -1)
        |    AS days_since_prev,
        |  coalesce(lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) - d, -1)
        |    AS days_to_next
        |FROM o ORDER BY o_orderkey""".stripMargin)),
    CatalogEntry("a18_unpivot", a18Unpivot,
      "unpivot/melt back to long form",
      Some("""WITH p AS (
        |  SELECT n_name AS nation, o_orderstatus AS s, count(*) AS n
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  GROUP BY n_name, o_orderstatus),
        |w AS (
        |  SELECT nation, 'n_f' AS status,
        |    CAST(coalesce(max(CASE WHEN s = 'F' THEN n END), 0) AS BIGINT) AS n
        |  FROM p GROUP BY nation
        |  UNION ALL
        |  SELECT nation, 'n_o',
        |    CAST(coalesce(max(CASE WHEN s = 'O' THEN n END), 0) AS BIGINT)
        |  FROM p GROUP BY nation
        |  UNION ALL
        |  SELECT nation, 'n_p',
        |    CAST(coalesce(max(CASE WHEN s = 'P' THEN n END), 0) AS BIGINT)
        |  FROM p GROUP BY nation)
        |SELECT nation, status, n FROM w ORDER BY nation, status""".stripMargin)),
    CatalogEntry("f16_json_extract", f16JsonExtract,
      "JSON field extraction",
      Some("""SELECT event_type,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    CatalogEntry("a16_approx_sketches", a16ApproxSketches,
      "HLL distinct + approx-percentile sketches (estimates; twin a16b carries the gate)", None),
    CatalogEntry("a16b_sketch_bounds", a16bSketchBounds,
      "sketch error bounds gated across two data scales, incl. a KMV estimator row",
      Some("""WITH s AS (
        |  SELECT 'full' AS scale, l_partkey, l_orderkey FROM lineitem
        |  UNION ALL
        |  SELECT 'half', l_partkey, l_orderkey FROM lineitem
        |  WHERE l_orderkey % 2 = 0)
        |SELECT scale,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        |  1 AS parts_within_10pct, 1 AS orders_within_10pct,
        |  1 AS p50_within_rank_band, 1 AS kmv_orders_within_bound
        |FROM s GROUP BY scale ORDER BY scale""".stripMargin)),
    CatalogEntry("p6_inactive_prune", p6InactivePrune,
      "drop customers inactive for 730 days before the cutoff (ref Node2vec_algorithm_inscripton.py:57)",
      Some("""WITH last_act AS (
        |  SELECT o_custkey, max(o_orderdate) AS latest FROM orders
        |  WHERE o_orderdate <= TIMESTAMP '1999-01-01 00:00:00'
        |  GROUP BY o_custkey)
        |SELECT o_custkey AS kept_customer, latest FROM last_act
        |WHERE date_diff('day', CAST(latest AS DATE), DATE '1999-01-01') <= 730
        |ORDER BY kept_customer""".stripMargin)))
}
