package graft.graph

import org.apache.spark.ml.feature.Word2Vec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructType}
import graft.functions.ColFns
import graft.plans.WeightedStepPick

/** node2vec (SURVEY §2.10 G3): biased second-order random walks +
  * skip-gram embeddings (MLlib Word2Vec), replacing the reference's
  * node2vec library (Node2vec_algorithm_inscripton.py:40-48,
  * Fast_node2vec_algorithm.py:22-35).
  *
  * Walk engine design (SURVEY §7.4 trap 2): a walk's state is
  * (walk_id, prev, cur, prev_nbrs, path) — the p/q bias needs prev's
  * neighbor set, which is *carried along* in the state instead of
  * re-joined. Two physical shapes, one pick routine
  * ([[graft.plans.WeightedStepPick]]), so both produce the same walks,
  * row for row and partition for partition:
  *   - adjacency within the broadcast budget (`broadcastMaxNodes`):
  *     the adjacency is broadcast as an id → sorted-neighbors table and
  *     ONE mapPartitions over the start rows walks every step of every
  *     walk in memory — one stage, no per-step join, no checkpoint.
  *     A dataflow round per step (Pregelix's superstep) buys nothing
  *     when every task holds the whole graph.
  *   - above the budget: each step joins state with the adjacency once
  *     (one co-partitioned shuffle per step, the 100 TB path; bound
  *     walkLen — the reference's "fast" profile uses 20), with a
  *     lineage checkpoint every fourth step.
  * The string-id step used to pick through a higher-order lambda inside
  * the step's select, whose `prev` resolved to that select's own output
  * alias `cur AS prev` (Spark resolves lateral aliases inside lambda
  * bodies): the return step never got 1/p and was weighed as an outward
  * step, 1/q. Both id types now take the WeightedStepPick expression,
  * whose arguments sit outside any lambda and resolve to the joined
  * input.
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
    * walk = array of node ids (long or string). The start rows — every
    * node × numWalks, first hop a uniform deterministic pick among its
    * neighbors — fix the output's partitions and row order; both walk
    * shapes keep them (Word2Vec's repartition depends on them). A walk
    * that reaches a node without neighbors is dropped. */
  def walks(spark: SparkSession, edges: DataFrame, prm: Params,
            broadcastMaxNodes: Long = 2000000L): DataFrame = {
    val adj0 = neighborTable(edges).cache()
    val idType = adj0.schema("src").dataType
    require(idType == LongType || idType == StringType,
      s"node2vec node ids must be bigint or string, got $idType")
    val nNodes = adj0.count()

    // Broadcast the tiny range side — broadcasting adj here would make
    // the output inherit the range's 1-2 partitions and serialize every
    // walk on a 32-core box.
    val starts = adj0.crossJoin(
        broadcast(spark.range(prm.numWalks.toLong).toDF("walk_no")))
      .withColumn("walk_id", concat_ws("#", col("src"), col("walk_no")))
    // pseudoUniform pmods its key, so raw (possibly negative) xxhash64
    // values are safe — no abs(), which ANSI mode would reject on MinValue
    val firstIdx = (floor(
      ColFns.pseudoUniform(xxhash64(col("walk_id")), prm.seed) *
        size(col("nbrs"))).cast("int") + 1)
    val start = starts.select(
      col("walk_id"),
      col("src").as("prev"),
      element_at(col("nbrs"), firstIdx).as("cur"),
      col("nbrs").as("prev_nbrs"),
      array(col("src"), element_at(col("nbrs"), firstIdx)).as("path"))

    if (nNodes <= broadcastMaxNodes) walkInMemory(spark, adj0, start, prm)
    else walkJoined(adj0, start, prm)
  }

  /** Steps 2..walkLength-1 of every walk in one mapPartitions over the
    * start rows, against a broadcast id → sorted-neighbors table. */
  private def walkInMemory(spark: SparkSession, adj: DataFrame, start: DataFrame,
                           prm: Params): DataFrame = {
    val idType = adj.schema("src").dataType
    val table = new java.util.HashMap[Any, ArrayData]()
    adj.queryExecution.toRdd.map(_.copy()).collect()
      .foreach(r => table.put(r.get(0, idType), r.getArray(1)))
    val bc = spark.sparkContext.broadcast(table)
    // the start path holds two ids even when walkLength < 2, as in the chain
    val (len, invP, invQ, seed) =
      (math.max(prm.walkLength, 2), 1.0 / prm.p, 1.0 / prm.q, prm.seed)
    val rows = start.queryExecution.toRdd.mapPartitions { it =>
      val nbrsOf = bc.value
      it.flatMap { row =>
        val r = row.copy()
        val walkId = r.getUTF8String(0)
        // xxhash64(walk_id, step) as the builtin chains it (seed 42)
        val idHash = XXH64.hashUnsafeBytes(
          walkId.getBaseObject, walkId.getBaseOffset, walkId.numBytes, 42L)
        val path = new Array[Any](len)
        path(0) = r.get(1, idType)
        path(1) = r.get(2, idType)
        var prev = path(0)
        var prevNbrs = r.getArray(3)
        var step = 2
        var alive = true
        while (alive && step < len) {
          val cur = path(step - 1)
          val nbrs = if (cur == null) null else nbrsOf.get(cur)
          if (nbrs == null) alive = false
          else {
            val i = if (prev == null) -1 else WeightedStepPick.pickIndex(nbrs, prevNbrs,
              prev, XXH64.hashInt(step, idHash), invP, invQ, seed)
            path(step) = if (i < 0) null else nbrs.get(i, idType)
            prev = cur
            prevNbrs = nbrs
            step += 1
          }
        }
        if (alive) Some(InternalRow(walkId, new GenericArrayData(path))) else None
      }
    }
    // a step's pick may be null (a neighbor-less node), as in the chain
    val walkType = if (len > 2) ArrayType(idType, containsNull = true)
      else start.schema("path").dataType
    org.apache.spark.sql.GraftColumnBridge.fromInternalRows(spark, rows, StructType(Seq(
      start.schema("walk_id"), start.schema("path").copy(name = "walk", dataType = walkType))))
  }

  /** One join of state with the adjacency per step (above the budget). */
  private def walkJoined(adj: DataFrame, start: DataFrame, prm: Params): DataFrame = {
    var state = start
    for (step <- 2 until prm.walkLength) {
      val joined = state.join(adj.withColumnRenamed("src", "cur"), Seq("cur"), "inner")
      val picked = graft.plans.expressions.weighted_step_pick(
        col("nbrs"), col("prev_nbrs"), col("prev"),
        xxhash64(col("walk_id"), lit(step)),
        1.0 / prm.p, 1.0 / prm.q, prm.seed)
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
                 prm: Params = Params(),
                 broadcastMaxNodes: Long = 2000000L): DataFrame = {
    // Word2Vec consumes string "sentences"; the walk engine takes long
    // or string ids (long ids hash and compare as primitives), so
    // callers may map label↔number around this boundary and we cast
    // once here. Materialize: Word2Vec makes several passes (vocab
    // count + training) and would otherwise replay the walks each time.
    val w0 = walks(spark, edges, prm, broadcastMaxNodes)
    val w = (w0.schema("walk").dataType match {
      case ArrayType(StringType, _) => w0
      case _ => w0.withColumn("walk", col("walk").cast("array<string>"))
    }).localCheckpoint(true)
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
