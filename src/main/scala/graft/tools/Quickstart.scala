package graft.tools

import org.apache.spark.sql.functions._

/** Executable end-to-end quickstart — the reference user's whole journey
  * on one page (sf0.001 by default, ~30 s):
  *
  *   1. build the versioned property graph from the transactional tables
  *      (knowledge_graph_creation.py),
  *   2. run the per-injection feature fold: walks → embeddings → KNN →
  *      Louvain → degree features (update_features_after_every_fold.py
  *      and the feature_engineering/ scripts),
  *   3. train the link-prediction model with the policy gates
  *      (xgboost_model_training.py),
  *   4. serve top-3 recommendations for sample customers with the
  *      "diverse" strategy (topk_recommandations_diverse_nodiscounts.py),
  *   5. the same engine through plain SQL (spark.sql over Views).
  *
  * Run: `sbt "runMain graft.tools.Quickstart [sfDir]"`.
  */
object Quickstart {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.GraftSession.local()

    println(s"== 1. property graph from $dir ==")
    val g = graft.graph.GraphBuilder.fromTpch(spark, dir)
    g.nodes.groupBy("label").count().orderBy("label").show(10, truncate = false)

    println("== 2. feature-engineering fold (walks → KNN → Louvain → degrees) ==")
    val fold = graft.pipeline.FeatureFold.run(spark, g)
    println(s"embeddings: ${fold.embeddings.count()} nodes, " +
      s"similarity edges: ${fold.simEdges.count()}, " +
      s"communities: ${fold.communities.select("community").distinct().count()}")
    fold.features.select("id", "label", "degree", "community").show(5, truncate = false)

    println("== 3. link-prediction training (policy gates) ==")
    val r = graft.ml.LinkPredict.train(spark,
      graft.ml.LinkPredict.trainingSetCached(spark, dir, cap = 20000), "lr")
    r.metrics.toSeq.sortBy(_._1).foreach { case (k, v) => println(f"  $k%-14s $v%.4f") }

    println("== 4. top-3 'diverse' recommendations for 3 sample customers ==")
    graft.recommend.Recommend.topK(spark, dir, "diverse",
        customerFilter = pmod(col("c_custkey"), lit(50)) === 1,
        queryMonth = 12, topN = 3)
      .orderBy("customer", "rank").show(9, truncate = false)

    println("== 5. the same engine via plain SQL ==")
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT n_name AS nation, round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY revenue DESC LIMIT 5""".stripMargin).show(truncate = false)

    spark.stop()
  }
}
