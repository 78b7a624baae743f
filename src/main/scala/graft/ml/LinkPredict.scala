package graft.ml

import org.apache.spark.ml.classification.GBTClassifier
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.functions.ColFns

/** Link-prediction training pipeline (SURVEY §2.11 M1–M11): MLlib's
  * GBTClassifier stands in for XGBoost (parity target = interface +
  * metric gates, SURVEY §7.4 trap 7), logistic regression is the fast
  * path. Implements the reference's training *policy*: stratified split,
  * class weighting (M10), overfit gate (M3: train−val AUC gap ≤ 0.06
  * or revert), threshold sweep targeting F1 (M5), gain-style feature
  * importance (M11).
  *
  * Scale shape: feature assembly is broadcast joins of the pair table
  * against per-node feature tables (J5), and the training-set cap is a
  * hash-thinned sample, so a trainer's corpus is bounded by the cap
  * (rows per class and month slice), not by the data. That bound lets
  * the LR fit run on the driver: one collect, then MLlib's objective
  * and breeze L-BFGS in memory, yielding a real LogisticRegressionModel.
  * GBT keeps MLlib's distributed fit.
  */
object LinkPredict {

  val featureNames: Seq[String] = Seq(
    "cust_frequency", "cust_recency", "acctbal",
    "part_popularity", "price", "discount", "bal_x_price")

  /** Session memo of materialized training sets: the assembly (2-hop
    * positives, anti-join negatives, feature joins) is deterministic per
    * (dir, cap, month), and several catalog operators — GBT, LR sweep,
    * MLP, multi-date — consume the same corpus. Materializing once keeps
    * iterative trainers (L-BFGS/GBT passes) off the join plan. */
  def trainingSetCached(spark: SparkSession, dir: String, cap: Int = 50000,
                        month: Int = 12): DataFrame =
    graft.core.AppCache.memo(spark, "ml.trainingSet", dir, cap, month) {
      trainingSet(spark, dir, cap, month).localCheckpoint(true) }

  /** M2: the discount model's multi-date training corpus — one slice per
    * simulated month with the discount recomputed per date, unioned with
    * a `sim_month` column (vs the reference's loop of four separate
    * retrains, xgboost_mode_training_plus_dynamic_discount.py:225-320).
    * `withDiscount=false` builds the auto-trained no-discount twin. */
  def multiDateTrainingSet(spark: SparkSession, dir: String,
                           months: Seq[Int] = Seq(3, 6, 9, 12),
                           withDiscount: Boolean = true, cap: Int = 20000): DataFrame = {
    // the month only affects the discount column — build the expensive
    // pair+feature base ONCE (materialized), then emit one cheap
    // discount variant per simulated month
    val base = trainingSetCached(spark, dir, cap, month = 12).drop("discount")
    months.map { m =>
      val disc = if (withDiscount)
        graft.recommend.Recommend.seasonalDiscount(col("product"), lit(m))
      else lit(0.0)
      base.withColumn("discount", disc).withColumn("sim_month", lit(m))
    }.reduce(_ unionByName _)
  }

  /** J3 positives + J4 negatives with per-node features attached.
    * Label 1/0; deterministic hash-capped to ≤ `cap` rows per class. */
  def trainingSet(spark: SparkSession, dir: String, cap: Int = 50000,
                  month: Int = 12): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    // materialize once: the distinct pair table feeds three consumers
    // (exact count for the cap fraction, the hash-capped positives, and
    // the anti-join's build side) — unchecked, each replays the
    // orders⋈lineitem join + distinct shuffle
    val pos = graft.graph.Links.purchasePairsNumeric(spark, dir)
      .withColumn("label", lit(1.0))
    val posN = pos.count()
    val posFrac = math.min(1.0, cap.toDouble / math.max(posN, 1L))
    val posCapped = pos.filter(
      ColFns.pseudoUniform(col("customer") * 131 + col("product"), 31L) < posFrac)

    val cust = Tables.customer(spark, dir).select(col("c_custkey").as("customer"))
    val part = Tables.part(spark, dir).select(col("p_partkey").as("product"))
    // J4's target is a ~1:1 class ratio (xgboost_model_training.py:124-141).
    // The keep-fraction must be derived from the candidate pool's OWN
    // measured size — it grows quadratically with scale, so tying it to
    // posFrac (as an earlier version did) silently degraded the ratio to
    // 12:1 at sf0.1 and would be ~120:1 at sf1. The %3/%7 dimension
    // pre-thinning bounds the streamed cross-join size at scale, but at
    // small scale it would starve the pool below the target — apply it
    // only while the thinned pool keeps ≥4× headroom over the target.
    val negTarget = math.min(cap.toLong, posN)
    val nCust = cust.count(); val nPart = part.count()
    val thin = nCust / 3 * (nPart / 7) >= negTarget * 4
    val custSel = if (thin) cust.filter(pmod(col("customer"), lit(3)) === 0) else cust
    val partSel = if (thin) part.filter(pmod(col("product"), lit(7)) === 0) else part
    val negBase =
      (if (thin) custSel.count() else nCust) * (if (thin) partSel.count() else nPart)
    val negFrac = math.min(1.0, negTarget.toDouble / math.max(negBase, 1L))
    val negCand = custSel.crossJoin(partSel)
      .filter(ColFns.pseudoUniform(col("customer") * 977 + col("product"), 37L) <
        negFrac)
    val neg = negCand.join(pos.select("customer", "product"),
        Seq("customer", "product"), "left_anti")
      .withColumn("label", lit(0.0))
      .localCheckpoint(true)

    val pairs = posCapped.select("customer", "product", "label")
      .unionByName(neg.select("customer", "product", "label"))

    // per-node features (A8 pre-aggregated once — SURVEY §7.4 trap 3)
    val custF = orders.groupBy(col("o_custkey").as("customer"))
      .agg(count(lit(1)).cast("double").as("cust_frequency"),
        datediff(lit(java.sql.Date.valueOf("2002-01-01")), max("o_orderdate"))
          .cast("double").as("cust_recency"))
      .join(Tables.customer(spark, dir)
        .select(col("c_custkey").as("customer"), col("c_acctbal").as("acctbal")), "customer")
    val partF = li.groupBy(col("l_partkey").as("product"))
      .agg(count(lit(1)).cast("double").as("part_popularity"))
      .join(Tables.part(spark, dir)
        .select(col("p_partkey").as("product"), col("p_retailprice").as("price")), "product")

    pairs
      .join(broadcast(custF), Seq("customer"), "left")
      .join(broadcast(partF), Seq("product"), "left")
      .na.fill(Map("cust_frequency" -> 0.0, "cust_recency" -> 999.0,
        "acctbal" -> 0.0, "part_popularity" -> 0.0, "price" -> 0.0))
      .withColumn("discount",
        graft.recommend.Recommend.seasonalDiscount(col("product"), lit(month)))
      .withColumn("bal_x_price", col("acctbal") * col("price") / 1e6)
  }

  final case class TrainResult(
      model: org.apache.spark.ml.Transformer,
      scoredVal: DataFrame, metrics: Map[String, Double],
      importances: Seq[(String, Double)])

  /** M1/M3/M4/M10: train + evaluate with the reference's policy gates.
    *
    * Both algorithms share the hash split (`isTrain`), the balanced
    * class weights (M10) and the gate metrics, which are finished on the
    * driver from one collect of scores.
    *
    *  - "lr" fits on the driver (`fitLogistic`): the corpus is collected
    *    once, sorted by pair, and L-BFGS runs in memory — one job for the
    *    whole fit and its metrics, where MLlib's estimator ran one job
    *    per L-BFGS pass. The bound is the corpus: every caller passes a
    *    hash-capped training set (≤ cap rows per class and month slice,
    *    plus SMOTE's ≤ 3 synthetic rows per minority row).
    *  - "gbt" keeps MLlib's distributed fit on a split coalesced to two
    *    partitions: on a sub-100k-row corpus per-task scheduling, not
    *    compute, dominates each tree-level job. */
  def train(spark: SparkSession, data: DataFrame,
            algo: String = "gbt", maxIter: Int = 10, seed: Long = 42L,
            maxDepth: Int = 5, lrMaxIter: Int = 15): TrainResult = {
    val assembled = FeatureLayout.assemble(data, FeatureLayout.DiscountV1)
      .withColumn("split", when(isTrain, "train").otherwise("test"))
    algo match {
      case "gbt" => trainGbt(spark, assembled, maxIter, seed, maxDepth)
      case "lr" => trainLr(spark, assembled, lrMaxIter)
    }
  }

  /** The validation split's scored rows as a frame over driver-held
    * rows: a memoized result must not read through the caller's
    * corpus, whose checkpoint an AppCache trim may release. */
  private def localFrame(spark: SparkSession, rows: Array[Row],
                         schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The 80/20 split on a hash of the pair, so a pair's side never
    * depends on partitioning (m10 persists the same split's counts). */
  private val isTrain: Column =
    ColFns.pseudoUniform(xxhash64(col("customer"), col("product")), 41L) < 0.8

  /** M10: balanced class weights n / (2·n_c) for (positive, negative). */
  private def classWeights(nPos: Long, nNeg: Long): (Double, Double) = {
    val (p, n) = (math.max(nPos, 1L), math.max(nNeg, 1L))
    val total = (p + n).toDouble
    (total / (2.0 * p), total / (2.0 * n))
  }

  /** M3/M4 gate metrics from driver-side (p1, label) scores per split. */
  private def gateMetrics(trainScores: Array[(Double, Double)],
                          valScores: Array[(Double, Double)]): Map[String, Double] = {
    val aucTrain = Metrics.rocPr(Metrics.driverHist(trainScores))._1
    val (aucVal, prVal) = Metrics.rocPr(Metrics.driverHist(valScores))
    val gap = aucTrain - aucVal
    Map(
      "n_train" -> trainScores.length.toDouble, "n_test" -> valScores.length.toDouble,
      "auc_train" -> aucTrain, "auc_val" -> aucVal, "pr_auc_val" -> prVal,
      "overfit_gap" -> gap,
      // M3's acceptance gate: reject models that memorize
      "gate_pass" -> (if (gap <= 0.06) 1.0 else 0.0))
  }

  private def trainGbt(spark: SparkSession, assembled: DataFrame, maxIter: Int,
                       seed: Long, maxDepth: Int): TrainResult = {
    val train = assembled.coalesce(2).filter(col("split") === "train").cache()
    val m = try {
      // one aggregate job for both class counts
      val counts = train.groupBy("label").count().collect()
        .map(r => r.getDouble(0) -> r.getLong(1)).toMap
      val (wPos, wNeg) =
        classWeights(counts.getOrElse(1.0, 0L), counts.getOrElse(0.0, 0L))
      new GBTClassifier().setLabelCol("label").setFeaturesCol("features")
        .setWeightCol("w").setMaxIter(maxIter).setMaxDepth(maxDepth)
        .setStepSize(0.1).setSubsamplingRate(0.8).setSeed(seed)
        .fit(train.withColumn("w", when(col("label") === 1.0, wPos).otherwise(wNeg)))
    } finally train.unpersist()
    val model = ModelRegistry.stripSummary(m)
    // both splits scored by one transform, one collect
    val scored = model.transform(assembled)
    val (tr, va) = scored.collect().partition(_.getAs[String]("split") == "train")
    def scores(rs: Array[Row]) = rs.map(r =>
      (r.getAs[Vector]("probability")(1), r.getAs[Number]("label").doubleValue))
    TrainResult(model, localFrame(spark, va, scored.schema),
      gateMetrics(scores(tr), scores(va)),
      featureNames.zip(m.featureImportances.toArray))
  }

  /** One collected corpus row of the driver LR fit. */
  private final case class Obs(customer: Long, product: Long, label: Double,
                               x: Vector, train: Boolean, row: Row)

  private def obs(r: Row): Obs =
    Obs(r.getAs[Number]("customer").longValue, r.getAs[Number]("product").longValue,
      r.getAs[Number]("label").doubleValue, r.getAs[Vector]("features"),
      r.getAs[String]("split") == "train", r)

  /** Pair first, then label and features: a total row order no
    * partition layout can change (a multi-month corpus holds each pair
    * once per slice). The fit's float sums follow it, so the model and
    * its metrics are bit-stable. */
  private val obsOrder: Ordering[Obs] = new Ordering[Obs] {
    def compare(a: Obs, b: Obs): Int = {
      val c = java.lang.Long.compare(a.customer, b.customer)
      if (c != 0) return c
      val p = java.lang.Long.compare(a.product, b.product)
      if (p != 0) return p
      val l = java.lang.Double.compare(a.label, b.label)
      if (l != 0) l else java.util.Arrays.compare(a.x.toArray, b.x.toArray)
    }
  }

  private def trainLr(spark: SparkSession, assembled: DataFrame,
                      lrMaxIter: Int): TrainResult = {
    val (tr, va) = assembled.collect().map(obs).sorted(obsOrder).partition(_.train)
    val (wPos, wNeg) = classWeights(tr.count(_.label == 1.0), tr.count(_.label == 0.0))
    val (coef, intercept) = fitLogistic(tr.map(_.x.toArray), tr.map(_.label),
      tr.map(o => if (o.label == 1.0) wPos else wNeg), regParam = 0.01, lrMaxIter)
    val model = org.apache.spark.ml.GraftModelBridge
      .logisticRegressionModel(Vectors.dense(coef), intercept)
    // predictProbability is the arithmetic transform's probability
    // column runs, on the same assembled vectors: bit-identical scores
    def scores(os: Array[Obs]) = os.map(o => (model.predictProbability(o.x)(1), o.label))
    TrainResult(model, model.transform(localFrame(spark, va.map(_.row), assembled.schema)),
      gateMetrics(scores(tr), scores(va)), featureNames.zip(coef.map(math.abs)))
  }

  /** MLlib's binary LogisticRegression fit (standardization on, one
    * intercept), run on the driver. Features are standardized by the
    * weighted mean and the unbiased weighted σ, as MLlib's Summarizer
    * computes them (a σ = 0 column drops out). The objective is the
    * weighted log-loss over Σw plus regParam/2 · ‖β‖² on the standardized
    * coefficients, with the intercept unpenalized. Breeze's
    * LBFGS(maxIter, m = 10, tol = 1e-6), the optimizer MLlib calls,
    * minimizes it from zero coefficients and the weighted label
    * log-odds. Returns the coefficients on the original scale and the
    * intercept. */
  private def fitLogistic(x: Array[Array[Double]], y: Array[Double],
                          w: Array[Double], regParam: Double,
                          maxIter: Int): (Array[Double], Double) = {
    import breeze.linalg.{DenseVector => BDV}
    import breeze.optimize.{CachedDiffFunction, DiffFunction, LBFGS}
    require(x.nonEmpty, "logistic fit on an empty train split")
    val (n, d) = (x.length, x.head.length)
    val wSum = w.sum
    val wPos = y.indices.map(i => if (y(i) > 0) w(i) else 0.0).sum
    val wNeg = wSum - wPos
    // one class only: MLlib's constant-label answer, no optimization
    if (wPos == 0 || wNeg == 0)
      return (Array.fill(d)(0.0),
        if (wPos == 0) Double.NegativeInfinity else Double.PositiveInfinity)
    val mean = Array.tabulate(d)(j => x.indices.map(i => w(i) * x(i)(j)).sum / wSum)
    val varDenom = wSum - w.map(v => v * v).sum / wSum
    val std = Array.tabulate(d) { j =>
      val m2 = x.indices.map(i => w(i) * (x(i)(j) - mean(j)) * (x(i)(j) - mean(j))).sum
      if (varDenom > 0) math.sqrt(math.max(m2 / varDenom, 0.0)) else 0.0
    }
    val inv = std.map(s => if (s != 0) 1.0 / s else 0.0)
    val z = x.map(r => Array.tabulate(d)(j => (r(j) - mean(j)) * inv(j)))
    def log1pExp(v: Double) = if (v > 0) v + math.log1p(math.exp(-v)) else math.log1p(math.exp(v))
    val loss = new DiffFunction[BDV[Double]] {
      def calculate(beta: BDV[Double]): (Double, BDV[Double]) = {
        val g = new Array[Double](d + 1)
        var l = 0.0
        var i = 0
        while (i < n) {
          val zi = z(i)
          var m = beta(d)
          var j = 0
          while (j < d) { m += beta(j) * zi(j); j += 1 }
          l += w(i) * (if (y(i) > 0) log1pExp(-m) else log1pExp(-m) + m)
          val mult = w(i) * (1.0 / (1.0 + math.exp(-m)) - y(i))
          j = 0
          while (j < d) { g(j) += mult * zi(j); j += 1 }
          g(d) += mult
          i += 1
        }
        var reg = 0.0
        var j = 0
        while (j < d) { g(j) = g(j) / wSum + regParam * beta(j); reg += beta(j) * beta(j); j += 1 }
        g(d) /= wSum
        (l / wSum + 0.5 * regParam * reg, BDV(g))
      }
    }
    val init = BDV.zeros[Double](d + 1)
    init(d) = math.log(wPos / wNeg)
    val beta = new LBFGS[BDV[Double]](maxIter, 10, 1e-6)
      .minimizeAndReturnState(new CachedDiffFunction(loss), init).x
    // back to the original scale: z = (x − μ)/σ folds μ into the intercept
    (Array.tabulate(d)(j => if (std(j) != 0) beta(j) / std(j) else 0.0),
      beta(d) - (0 until d).map(j => beta(j) * (inv(j) * mean(j))).sum)
  }

  /** R6 (full form): SMOTE-style interpolated oversampling — synthetic
    * minority rows between each sampled minority point and a same-class
    * neighbor, with a deterministic interpolation factor (vs the
    * reference's imblearn call, xgboost_training_for_big_data.py:573-581).
    * Neighbor pairing is hash-based (cheap and partition-stable): each
    * sampled minority row pairs with the "next" minority row by hash
    * bucket — statistically equivalent to random pairing for synthesis.
    * Applied only when imbalance exceeds `gate` (the reference's 5:1). */
  def smoteOversample(data: DataFrame, gate: Double = 5.0): DataFrame = {
    val nPos = data.filter(col("label") === 1.0).count().toDouble
    val nNeg = data.filter(col("label") === 0.0).count().toDouble
    if (nPos == 0 || nNeg / nPos <= gate) data
    else {
      val need = math.min((nNeg - nPos).toLong, nPos.toLong * 3)
      val minority = data.filter(col("label") === 1.0)
      val frac = need.toDouble / nPos
      val numeric = featureNames
      import org.apache.spark.sql.expressions.Window
      // minority class only (the SMALL side by the gate's definition) —
      // the single partition is the stated bound, not an accident
      val w = ColFns.boundedGlobal(col("customer"))(
        xxhash64(col("customer"), col("product")))
      val ordered = minority.withColumn("rn", row_number().over(w))
      val a = ordered
      val b = ordered.select(
        (col("rn") - 1).as("rn") +: numeric.map(c => col(c).as(s"${c}_nb")): _*)
      val paired = a.join(b, Seq("rn")).filter(
        ColFns.pseudoUniform(col("rn"), 53L) < frac)
      val lam = ColFns.pseudoUniform(col("rn"), 59L)
      val synth = numeric.foldLeft(paired) { (df, c) =>
        df.withColumn(c, col(c) + lam * (col(s"${c}_nb") - col(c)))
      }.select((Seq("customer", "product", "label") ++ numeric).map(col): _*)
      data.unionByName(synth, allowMissingColumns = true)
    }
  }

  /** M3/M6: the incremental "big data" training policy — gate SMOTE on
    * the incoming batch's imbalance ratio (reference applies it past
    * 5:1, xgboost_training_for_big_data.py:563-581), probe the previous
    * model on the new corpus (alert past a 0.02 AUC drop), retrain from
    * scratch (the reference FORCES scratch retrains to break the
    * overfitting-inheritance chain, line 627-636), apply the overfit
    * gate (revert to previous on failure, line 654-660), persist
    * model + history. Returns the full decision trail — every policy
    * decision alongside the measurement it was made on, which is what
    * the m3b catalog twin persists and re-derives relationally. */
  def incrementalTrain(spark: SparkSession, data: DataFrame,
                       modelPath: String, historyPath: String,
                       maxIter: Int = 15, algo: String = "gbt",
                       maxDepth: Int = 5, lrMaxIter: Int = 15,
                       smoteGate: Double = 5.0): Map[String, Double] = {
    val prevExists = new java.io.File(modelPath).exists()
    // imbalance diagnosis on the incoming batch (one aggregate job)
    val cc = data.groupBy("label").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    val nPos = math.max(cc.getOrElse(1.0, 0L), 1L)
    val nNeg = math.max(cc.getOrElse(0.0, 0L), 1L)
    val ratio = nNeg.toDouble / nPos
    val smoteApplied = ratio > smoteGate
    val corpus = if (smoteApplied) smoteOversample(data, smoteGate) else data
    val probe =
      if (!prevExists) ModelRegistry.CompatProbe(None, 0.0, 0.0, alert = false)
      else {
        val assembled = new VectorAssembler()
          .setInputCols(featureNames.toArray).setOutputCol("features")
          .transform(data)
        ModelRegistry.compatProbe(spark, modelPath, historyPath, assembled,
          algo = algo)
      }
    val r = train(spark, corpus, algo, maxIter = maxIter, maxDepth = maxDepth,
      lrMaxIter = lrMaxIter)
    val accept = r.metrics("gate_pass") == 1.0
    if (accept) {
      ModelRegistry.saveModel(
        r.model.asInstanceOf[org.apache.spark.ml.util.MLWritable], modelPath)
      ModelRegistry.appendHistory(historyPath, r.metrics)
    }
    r.metrics ++ Map(
      "prev_exists" -> (if (prevExists) 1.0 else 0.0),
      "n_pos" -> nPos.toDouble, "n_neg" -> nNeg.toDouble,
      "imbalance_ratio" -> ratio,
      "smote_applied" -> (if (smoteApplied) 1.0 else 0.0),
      "probe_drop" -> probe.drop,
      "probe_alert" -> (if (probe.alert) 1.0 else 0.0),
      "accepted" -> (if (accept) 1.0 else 0.0),
      "reverted" -> (if (accept) 0.0 else 1.0))
  }

  /** M5: threshold sweep over scored validation output — one explode +
    * groupBy, no driver loop. Returns (threshold, tp, fp, fn, precision,
    * recall, f1) per threshold. */
  def thresholdSweep(scored: DataFrame, thresholds: Seq[Double]): DataFrame =
    thresholdSweepScores(scored.select(col("label"), p1.as("p")),
      col("p"), thresholds)

  /** probability[1] of a fitted classifier's output. */
  private val p1: Column =
    org.apache.spark.ml.functions.vector_to_array(col("probability")).getItem(1)

  /** The same sweep over a plain score column (no MLlib vector coupling)
    * — lets the operator run on any (label, score) frame, which is also
    * what the deterministic-score oracle entry exercises. */
  def thresholdSweepScores(scored: DataFrame, score: org.apache.spark.sql.Column,
                           thresholds: Seq[Double]): DataFrame = {
    val sp = scored.sparkSession
    import sp.implicits._
    val base = scored.select(col("label"), score.as("p"))
      .crossJoin(thresholds.toDF("threshold"))
    val agg = base.groupBy("threshold").agg(
      sum(when(col("p") >= col("threshold") && col("label") === 1.0, 1L).otherwise(0L)).as("tp"),
      sum(when(col("p") >= col("threshold") && col("label") === 0.0, 1L).otherwise(0L)).as("fp"),
      sum(when(col("p") < col("threshold") && col("label") === 1.0, 1L).otherwise(0L)).as("fn"))
    agg.withColumn("precision",
        when(col("tp") + col("fp") === 0, 0.0)
          .otherwise(col("tp").cast("double") / (col("tp") + col("fp"))))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0, 0.0)
          .otherwise(col("tp").cast("double") / (col("tp") + col("fn"))))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0.0, 0.0)
          .otherwise(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))
      .orderBy("threshold")
  }

  /** M5's decision rule: the threshold whose F1 lands closest to the
    * target — the reference tunes toward F1 ≈ 0.80, not max-F1
    * (xgboost_training_for_big_data.py:727-729). Deterministic tie-break
    * on the lower threshold. */
  def pickThreshold(swept: DataFrame, targetF1: Double = 0.80): Double =
    swept.orderBy(abs(col("f1") - targetF1).asc, col("threshold").asc)
      .select("threshold").head().getDouble(0)
}
