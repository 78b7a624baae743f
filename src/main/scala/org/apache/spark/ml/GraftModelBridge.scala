package org.apache.spark.ml

import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.util.Identifiable

/** Bridge to the `private[spark]` binary LogisticRegressionModel
  * constructor, so coefficients fit outside MLlib's estimator become a
  * real MLlib model (transform, MLWritable save, load). Same shim
  * practice as `org.apache.spark.sql.GraftColumnBridge`; nothing else
  * lives here.
  */
object GraftModelBridge {
  def logisticRegressionModel(coefficients: Vector,
                              intercept: Double): LogisticRegressionModel =
    new LogisticRegressionModel(Identifiable.randomUID("logreg"), coefficients, intercept)
}
