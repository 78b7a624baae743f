package graft.graph

import org.apache.spark.ml.feature.Word2Vec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ColFns

/** node2vec (SURVEY §2.10 G3): biased second-order random walks +
  * skip-gram embeddings (MLlib Word2Vec), replacing the reference's
  * node2vec library (Node2vec_algorithm_inscripton.py:40-48,
  * Fast_node2vec_algorithm.py:22-35).
  *
  * Walk engine design (SURVEY §7.4 trap 2): walk state is a DataFrame
  * (walk_id, step, prev, cur, prev_nbrs); each step joins state with the
  * adjacency table once — the p/q bias needs prev's neighbor set, which
  * is *carried along* in the state instead of re-joined (one shuffle per
  * step, not two). Steps are O(walkLen) shuffles by design — the
  * documented trade-off vs a GraphX Pregel loop; at 100 TB you bound
  * walkLen (the reference's "fast" profile uses 20) and pre-partition
  * adjacency by node so every step's join is co-partitioned.
  *
  * All randomness is hash-based (walk id × step), so walks are exactly
  * reproducible regardless of partitioning or retries.
  */
object Node2Vec {

  final case class Params(
      numWalks: Int = 4, walkLength: Int = 8,
      p: Double = 1.0, q: Double = 0.5,
      dim: Int = 32, window: Int = 5, minCount: Int = 0,
      maxSentenceLength: Int = 1000, seed: Long = 42L,
      // Word2Vec training parallelism. MLlib's default is 1 (single
      // task); >1 trains partition-local models merged per iteration —
      // walks/vocab/dims are unchanged, vector values differ slightly.
      w2vPartitions: Int = 8)

  /** Adjacency with sorted neighbor arrays (deterministic walk order).
    * collect_set + sort_array dedups inside the single groupBy shuffle
    * (a separate distinct() would add a second shuffle keyed by the
    * full pair). */
  def neighborTable(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
    sym.groupBy("src").agg(sort_array(collect_set("dst")).as("nbrs"))
  }

  /** Generate biased second-order walks. Returns (walk_id, walk) with
    * walk = array of node ids.
    *
    * Physical shape: when the adjacency fits the broadcast budget
    * (`broadcastMaxNodes`), every step joins state↔adjacency as a
    * map-only broadcast hash join — zero shuffles across the whole walk,
    * the expressions (and therefore the walks) are bit-identical to the
    * shuffle path. Above the budget each step is one co-partitioned
    * shuffle join (the 100 TB path). */
  def walks(spark: SparkSession, edges: DataFrame, prm: Params,
            broadcastMaxNodes: Long = 2000000L): DataFrame = {
    val adj0 = neighborTable(edges).cache()
    val nNodes = adj0.count()
    val adj = if (nNodes <= broadcastMaxNodes) broadcast(adj0) else adj0

    // initial state: numWalks walks per node; first hop is a uniform
    // deterministic pick among neighbors. Broadcast the tiny range side —
    // broadcasting adj here would make the output inherit the range's
    // 1-2 partitions and serialize every later step on a 32-core box.
    val starts = adj0.crossJoin(
        broadcast(spark.range(prm.numWalks.toLong).toDF("walk_no")))
      .withColumn("walk_id", concat_ws("#", col("src"), col("walk_no")))
    // pseudoUniform pmods its key, so raw (possibly negative) xxhash64
    // values are safe — no abs(), which ANSI mode would reject on MinValue
    val firstIdx = (floor(
      ColFns.pseudoUniform(xxhash64(col("walk_id")), prm.seed) *
        size(col("nbrs"))).cast("int") + 1)
    var state = starts.select(
      col("walk_id"),
      col("src").as("prev"),
      element_at(col("nbrs"), firstIdx).as("cur"),
      col("nbrs").as("prev_nbrs"),
      array(col("src"), element_at(col("nbrs"), firstIdx)).as("path"))

    val longIds = adj0.schema("nbrs").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    for (step <- 2 until prm.walkLength) {
      val joined = state.join(adj.withColumnRenamed("src", "cur"), Seq("cur"), "inner")
      // candidate weight α: back to prev → 1/p; neighbor of prev → 1;
      // else → 1/q  (Grover & Leskovec 2016). Weighted pick via the
      // exponential-race trick — argmin(-ln(u_c)/w_c) — which is O(deg)
      // per step instead of an O(deg²) prefix-sum scan, and needs only a
      // per-candidate deterministic hash. Long-id graphs take the custom
      // WeightedStepPick expression (one tight primitive loop + binary
      // search over the sorted prev_nbrs); other id types take the
      // equivalent higher-order-function tree, which HOF-interprets a
      // lambda per candidate.
      val picked =
        if (longIds)
          graft.plans.expressions.weighted_step_pick(
            col("nbrs"), col("prev_nbrs"), col("prev"),
            xxhash64(col("walk_id"), lit(step)),
            1.0 / prm.p, 1.0 / prm.q, prm.seed)
        else {
          val keyed = transform(col("nbrs"), c => {
            val w = when(c === col("prev"), lit(1.0 / prm.p))
              .when(array_contains(col("prev_nbrs"), c), lit(1.0))
              .otherwise(lit(1.0 / prm.q))
            val u = ColFns.pseudoUniform(
              xxhash64(col("walk_id"), lit(step), c), prm.seed)
            struct((-log(u + lit(1e-12)) / w).as("key"), c.as("pick"))
          })
          array_min(keyed).getField("pick")
        }
      state = joined.select(
        col("walk_id"),
        col("cur").as("prev"),
        picked.as("cur"),
        col("nbrs").as("prev_nbrs"),
        concat(col("path"), array(picked)).as("path"))
      // truncate the per-step join lineage periodically (plan growth)
      if (step % 4 == 0)
        state = org.apache.spark.sql.GraftColumnBridge
          .localCheckpointClampedStats(state)
    }
    state.select(col("walk_id"), col("path").as("walk"))
  }

  /** Walks → skip-gram embeddings via MLlib Word2Vec. Returns
    * (id, embedding ArrayType(Float)). */
  def embeddings(spark: SparkSession, edges: DataFrame,
                 prm: Params = Params()): DataFrame = {
    // materialize: Word2Vec makes several passes (vocab count + training)
    // and would otherwise replay the whole walk-join chain each time
    // Word2Vec consumes string "sentences"; the walk engine itself is
    // id-type-agnostic — feeding NUMERIC node ids keeps every
    // per-candidate lambda op (equality, array_contains, xxhash64) on
    // longs instead of UTF8Strings (~2× per-step cost), so callers map
    // label↔number around this boundary and we cast once here.
    val w0 = walks(spark, edges, prm)
    val w = (if (w0.schema("walk").dataType ==
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, true) ||
        w0.schema("walk").dataType ==
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType, false))
      w0
    else w0.withColumn("walk", col("walk").cast("array<string>")))
      .localCheckpoint(true)
    val model = new Word2Vec()
      .setInputCol("walk").setOutputCol("vec")
      .setVectorSize(prm.dim).setWindowSize(prm.window)
      .setMinCount(prm.minCount).setSeed(prm.seed)
      .setMaxSentenceLength(prm.maxSentenceLength)
      .setNumPartitions(prm.w2vPartitions)
      .fit(w)
    model.getVectors.select(
      col("word").as("id"),
      org.apache.spark.ml.functions.vector_to_array(col("vector"), "float32")
        .as("embedding"))
  }
}
