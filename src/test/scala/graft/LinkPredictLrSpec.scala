package graft

import org.apache.spark.ml.classification.{LogisticRegression, LogisticRegressionModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ColFns
import graft.ml.{FeatureLayout, LinkPredict, Metrics, ModelRegistry}

/** `LinkPredict.train(…, "lr")` fits on the driver. MLlib's distributed
  * `LogisticRegression` — what the branch ran before — is the reference
  * here: same split, class weights, objective and metric code, so the
  * two must agree to the solver's float noise. */
class LinkPredictLrSpec extends SparkSpec {

  private lazy val corpus =
    LinkPredict.trainingSet(spark, sfDir, cap = 5000).localCheckpoint(true)
  private lazy val synthetic =
    SerializationHygieneSpec.syntheticCorpus(spark).localCheckpoint(true)

  private val p1 =
    org.apache.spark.ml.functions.vector_to_array(col("probability")).getItem(1)

  /** The MLlib fit and its metrics, as `train`'s "lr" branch computed
    * them with the estimator. */
  private def mllibReference(data: DataFrame, lrMaxIter: Int)
      : (LogisticRegressionModel, Map[String, Double]) = {
    val assembled = FeatureLayout.assemble(data.coalesce(2), FeatureLayout.DiscountV1)
      .withColumn("split", when(ColFns.pseudoUniform(
        xxhash64(col("customer"), col("product")), 41L) < 0.8, "train").otherwise("test"))
    val train = assembled.filter(col("split") === "train").cache()
    val test = assembled.filter(col("split") === "test").cache()
    try {
      val counts = train.groupBy("label").count().collect()
        .map(r => r.getDouble(0) -> r.getLong(1)).toMap
      val nPos = math.max(counts.getOrElse(1.0, 0L), 1L)
      val nNeg = math.max(counts.getOrElse(0.0, 0L), 1L)
      val total = (nPos + nNeg).toDouble
      val m = ModelRegistry.stripSummary(new LogisticRegression()
        .setLabelCol("label").setFeaturesCol("features").setWeightCol("w")
        .setMaxIter(lrMaxIter).setRegParam(0.01)
        .fit(train.withColumn("w", when(col("label") === 1.0, total / (2.0 * nPos))
          .otherwise(total / (2.0 * nNeg)))))
      val aucTrain = Metrics.auc(m.transform(train), "label", p1)
      val (aucVal, prVal) = Metrics.binaryAucs(m.transform(test), "label", p1)
      val gap = aucTrain - aucVal
      (m, Map("n_train" -> counts.values.sum.toDouble,
        "n_test" -> test.count().toDouble, "auc_train" -> aucTrain,
        "auc_val" -> aucVal, "pr_auc_val" -> prVal, "overfit_gap" -> gap,
        "gate_pass" -> (if (gap <= 0.06) 1.0 else 0.0)))
    } finally { train.unpersist(); test.unpersist() }
  }

  private def lrModel(r: LinkPredict.TrainResult) =
    r.model.asInstanceOf[LogisticRegressionModel]

  private def assertRel(what: String, got: Double, want: Double, tol: Double): Unit =
    assert(math.abs(got - want) <= tol * math.max(math.abs(want), 1e-300),
      s"$what: driver $got vs MLlib $want")

  for ((name, data) <- Seq[(String, () => DataFrame)](
         "trainingSet(cap = 5000)" -> (() => corpus),
         "the synthetic corpus" -> (() => synthetic));
       iters <- Seq(3, 15)) {
    test(s"driver LR matches MLlib's LogisticRegression on $name at lrMaxIter $iters") {
      val r = LinkPredict.train(spark, data(), "lr", lrMaxIter = iters)
      val (ref, refMetrics) = mllibReference(data(), iters)
      val m = lrModel(r)
      m.coefficients.toArray.zip(ref.coefficients.toArray).zipWithIndex.foreach {
        case ((got, want), j) => assertRel(s"coefficient $j", got, want, 1e-6)
      }
      assertRel("intercept", m.intercept, ref.intercept, 1e-6)
      Seq("auc_train", "auc_val", "pr_auc_val", "overfit_gap").foreach { k =>
        assert(math.abs(r.metrics(k) - refMetrics(k)) <= 1e-9,
          s"$k: driver ${r.metrics(k)} vs MLlib ${refMetrics(k)}")
      }
      Seq("gate_pass", "n_train", "n_test").foreach { k =>
        assert(r.metrics(k) === refMetrics(k), k)
      }
    }
  }

  test("the LR fit and its metrics run as at most 2 Spark jobs on a materialized corpus") {
    corpus.count()
    val jobs = jobsDuring { LinkPredict.train(spark, corpus, "lr") }
    assert(jobs <= 2, s"train(…, \"lr\") ran $jobs jobs")
  }

  test("the LR fit is bit-stable across partition layouts and row orders") {
    Seq(corpus, synthetic).foreach { ts =>
      val a = LinkPredict.train(spark, ts.repartition(7), "lr")
      val b = LinkPredict.train(spark, ts.coalesce(1), "lr")
      assert(lrModel(a).coefficients === lrModel(b).coefficients)
      assert(lrModel(a).intercept === lrModel(b).intercept)
      assert(a.metrics === b.metrics)
    }
  }

  test("the driver-built model saves and reloads, reproducing scoredVal's probabilities") {
    val r = LinkPredict.train(spark, corpus, "lr")
    val dir = java.nio.file.Files.createTempDirectory("graft_lr_model").toFile
    val loaded = try {
      val path = s"$dir/m"
      ModelRegistry.saveModel(
        r.model.asInstanceOf[org.apache.spark.ml.util.MLWritable], path)
      ModelRegistry.loadLr(path)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
    assert(loaded.coefficients === lrModel(r).coefficients)
    assert(loaded.intercept === lrModel(r).intercept)
    val rescored = loaded.setProbabilityCol("p_reloaded")
      .setRawPredictionCol("raw_reloaded").setPredictionCol("pred_reloaded")
      .transform(r.scoredVal)
    val n = rescored.count()
    assert(n > 0 && n.toDouble === r.metrics("n_test"))
    assert(rescored.filter(col("probability") =!= col("p_reloaded")).count() === 0)
  }
}
