package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{DegreeFeatures, Louvain, Node2Vec, PropertyGraph}
import graft.sim.Similarity

/** The per-injection feature-engineering fold (SURVEY §3.2): the
  * pipeline the reference re-runs after every dvid injection —
  * node2vec embeddings → KNN similarity graph → Louvain communities →
  * degree features → one joined node-feature table
  * (update_features_after_every_fold.py).
  *
  * One entry point, each stage a DataFrame job over the graph tables;
  * the output feature table is what the link-prediction trainer and the
  * recommenders broadcast-join against (J5/J9).
  */
object FeatureFold {

  final case class FoldResult(embeddings: DataFrame, simEdges: DataFrame,
                              communities: DataFrame, features: DataFrame)

  def run(spark: SparkSession, g: PropertyGraph,
          cutoff: Option[java.sql.Timestamp] = None,
          knnK: Int = 5,
          n2v: Node2Vec.Params = Node2Vec.Params(numWalks = 2, walkLength = 6, dim = 16))
      : FoldResult = {
    // P5: leak-proof edge time filter before walking
    val edges = cutoff.map(t => g.edges.filter(col("ts").isNull || col("ts") <= lit(t)))
      .getOrElse(g.edges)

    // G3: embeddings from biased walks
    val emb = Node2Vec.embeddings(spark, edges.select("src", "dst"), n2v)
      .localCheckpoint(true)

    // G4/J7: KNN similarity graph over the embeddings — exact top-k by
    // the broadcast kernel (one map-only stage emitting n·k rows; node
    // ids are strings, tie-broken in Spark's string order)
    val sim = Similarity.bruteForceTopKBlocked(emb, emb, "id", "embedding", knnK)
      .select(col("src"), col("dst"), col("cos").as("weight"))
      .localCheckpoint(true)

    // G2: communities on the similarity graph
    val comm = Louvain.detect(spark, sim, maxIter = 6).localCheckpoint(true)

    // A2–A7: degree features joined with labels
    val deg = DegreeFeatures.degrees(g.edges)
    val withLabel = deg.join(g.nodes.select("id", "label"), "id")
    val degFeats = DegreeFeatures.groupedZScore(withLabel, "label")

    // J9: one feature table, null-safe defaults for nodes missing a stage
    val features = degFeats
      .join(comm, Seq("id"), "left")
      .join(emb, Seq("id"), "left")
      .withColumn("community", coalesce(col("community"), lit("none")))
    FoldResult(emb, sim, comm, features)
  }
}
