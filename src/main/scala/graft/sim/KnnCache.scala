package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Process-local materialized view of the embeddings KNN graph: the
  * exact brute-force top-k is a deterministic pure function of
  * (sfDir, k, ranking), and four catalog operators (J7, A10, G2's
  * similarity graph, sim_recall's ground truth) consume it —
  * materialize once per session and inputs, and share.
  * The 100 TB analogue is a persisted similarity-edges table refreshed
  * per injection fold (FeatureFold computes the fold's edges and returns
  * them; nothing persists them yet); this cache is the in-session
  * equivalent.
  */
object KnnCache {
  def topk(spark: SparkSession, dir: String, k: Int = 5,
           rankRounded: Boolean = false): DataFrame =
    graft.core.AppCache.memo(spark, "sim.knnTopk", dir, k, rankRounded) {
        val e = graft.core.Tables.embeddings(spark, dir)
        // blocked kernel: bit-identical to bruteForceTopK (asserted in
        // SimilaritySpec) without the n² pair shuffle
        Similarity.bruteForceTopKBlocked(e, e, "vec_id", "embedding", k,
            rankRounded = rankRounded)
          .localCheckpoint(true)
      }

  /** The near-dup pair table (threshold cosine self-join), shared by the
    * pair-report operator (D5) and the cluster-resolution operator (D6). */
  def neardupPairs(spark: SparkSession, dir: String, minCos: Double): DataFrame =
    graft.core.AppCache.memo(spark, "sim.neardupPairs", dir, minCos) {
        val e = graft.core.Tables.embeddings(spark, dir)
        Similarity.thresholdJoinBlocked(e, "vec_id", "embedding", minCos)
          .localCheckpoint(true)
      }
}
