package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.MultilayerPerceptronClassifier
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.ColFns

/** Multi-tower MLP approximation (SURVEY §2.11 M7–M9; reference
  * Neural_network_multi_towered_training.py:62-150).
  *
  * Documented divergence (SURVEY §7.4): MLlib's MLP has no per-tower
  * sub-networks, BatchNorm, or dropout, so the tower structure is kept
  * where it matters statistically — per-tower standardization (M8: a
  * separate StandardScaler per feature block, exactly as the reference
  * fits five scalers) — and the concatenated scaled vector feeds a
  * [towers → hidden → 2] MLP trained with a fixed seed (M9 approximated
  * by MLlib's L-BFGS instead of AdamW).
  *
  * This entry stays as the MLlib-library point of comparison; the
  * jointly-trained tower ARCHITECTURE with the reference's own AdamW
  * loop lives in [[TowerNet]] (catalog `m14_tower_loop` +
  * `m14b_tower_deterministic`).
  */
object MultiTower {

  /** Feature blocks = the reference's tower split (degree / temporal /
    * structured), over the features LinkPredict assembles. */
  val towers: Map[String, Seq[String]] = Map(
    "tw_degree" -> Seq("cust_frequency", "part_popularity"),
    "tw_temporal" -> Seq("cust_recency"),
    "tw_structured" -> Seq("acctbal", "price", "discount", "bal_x_price"))

  /** `scoredVal`: the validation set's (label, p, prediction) —
    * materialized (localCheckpoint) so it survives the caches below and
    * can be persisted by the deterministic-twin catalog entry (m7b). */
  final case class Result(metrics: Map[String, Double], scoredVal: DataFrame)

  def train(spark: SparkSession, data: DataFrame, seed: Long = 42L,
            maxIter: Int = 40): Result = {
    val stages = towers.toSeq.sortBy(_._1).flatMap { case (name, cols) =>
      Seq(
        new VectorAssembler().setInputCols(cols.toArray).setOutputCol(s"${name}_raw"),
        new StandardScaler().setInputCol(s"${name}_raw").setOutputCol(s"${name}_scaled")
          .setWithMean(true).setWithStd(true))
    }
    val concat = new VectorAssembler()
      .setInputCols(towers.keys.toArray.sorted.map(n => s"${n}_scaled"))
      .setOutputCol("features")
    val nFeatures = towers.values.map(_.size).sum
    val mlp = new MultilayerPerceptronClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setLayers(Array(nFeatures, 16, 8, 2))
      .setMaxIter(maxIter).setSeed(seed).setBlockSize(128)
    val pipeline = new Pipeline().setStages((stages :+ concat :+ mlp).toArray)

    // few fat partitions: MLlib's L-BFGS runs one job per pass over the
    // cached corpus, and at this row count per-task scheduling, not
    // compute, dominates each pass
    val split = data.coalesce(2).withColumn("part",
      when(ColFns.pseudoUniform(xxhash64(col("customer"), col("product")), 43L) < 0.8,
        "train").otherwise("test"))
    // cache both splits: L-BFGS makes maxIter passes over `train`, and
    // the scorer reads `test` thrice — neither should replay assembly
    val train = split.filter(col("part") === "train").cache()
    val test = split.filter(col("part") === "test").cache()
    try {
      val model = ModelRegistry.stripSummary(pipeline.fit(train))
      val scored = model.transform(test).cache()
      val p1 = org.apache.spark.ml.functions.vector_to_array(col("probability")).getItem(1)
      val auc = Metrics.auc(scored, "label", p1)
      // train-side AUC feeds the reference's overfit gate
      // (xgboost_training_for_big_data.py:523-529: reject when
      // train_auc - val_auc > 0.06) applied to the MLP approximation —
      // the same acceptance shape the reference imposes on its NN.
      val scoredTrain = model.transform(train)
      val aucTrain = Metrics.auc(scoredTrain, "label", p1)
      val gap = aucTrain - auc
      val acc = scored.filter(col("prediction") === col("label")).count().toDouble /
        math.max(scored.count(), 1L)
      val scoredVal = scored.select(col("label"), p1.as("p"), col("prediction"))
        .localCheckpoint(true)
      val r = Result(Map("auc_val" -> auc, "auc_train" -> aucTrain,
        "overfit_gap" -> gap, "gate_pass" -> (if (gap <= 0.06) 1.0 else 0.0),
        "accuracy" -> acc,
        "n_train" -> train.count().toDouble, "n_test" -> test.count().toDouble),
        scoredVal)
      scored.unpersist()
      r
    } finally { train.unpersist(); test.unpersist() }
  }
}
