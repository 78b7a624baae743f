package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ColFns

/** Distributed multi-level Louvain community detection (SURVEY §2.10 G2;
  * reference: python-louvain best_partition on the similarity graph,
  * Louvain_community_algorithm.py:56-60).
  *
  * Semantics contract (SURVEY §7.4 trap 1): sequential Louvain's exact
  * partition is not reproducible distributed; we guarantee instead
  * (a) determinism under a fixed seed — moves use hash-staggering, not
  * rand(); (b) modularity that is measurably positive and non-decreasing
  * across levels by construction (best-composed-partition tracking);
  * (c) stable output schema (id, community).
  *
  * Structure: the classic two phases, both distributed —
  *  1. synchronous modularity-gain local moves (two joins + two
  *     aggregations per iteration, shuffles keyed by node/community);
  *  2. graph contraction: communities become supernodes, intra-community
  *     weight becomes self-loops (which move with the node, so they
  *     cancel out of move comparisons and enter only through degrees),
  *     and local moves repeat on the coarsened graph.
  * Hash-staggering (a fresh pseudo-random half of nodes may move each
  * iteration) prevents the synchronous-swap oscillation pathology
  * without any sequential dependency.
  *
  * Within a run the returned partition is the best composed one seen;
  * across different maxIter caps results need not be monotone (a
  * higher-Q level-0 partition can contract to a worse coarse graph —
  * greedy path dependence, inherent to Louvain, observed at maxIter=2
  * on the two-clique fixture). At the default maxIter both phases
  * converge before the cap.
  *
  * The input edge list is materialized once up front (localCheckpoint):
  * every per-iteration/per-level modularity evaluation and the level-0
  * moves read the materialized rows, never re-executing the caller's
  * upstream plan (typically a KNN similarity join).
  *
  * Hybrid execution (the standard shape for distributed Louvain): below
  * `seqMaxEdges` the materialized edge list is solved exactly on the
  * driver — classic sequential Louvain, the same algorithm the
  * reference's python-louvain runs — because a multi-stage shuffle
  * iteration on a sub-million-edge graph is pure scheduling overhead.
  * Above the threshold the distributed synchronous-moves path runs;
  * its contraction shrinks the graph by orders of magnitude, so coarse
  * levels fall under the threshold and finish exactly on the driver.
  * At 100 TB the first level is the only one that shuffles.
  */
object Louvain {

  // clamped-stats lazy checkpoint (GraftColumnBridge): truncates the
  // iterative lineage AND stops size-stat estimates compounding through
  // the checkpoint (the BigInteger driver-burn pathology, see bridge doc)
  private def ckpt(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.localCheckpointClampedStats(df)

  /** Materialized pieces a modularity evaluation needs: symmetric
    * adjacency, self-loop-inclusive degrees, 2m, and total self-loop
    * weight (constant for a fixed graph). */
  private case class Parts(adj: DataFrame, ki: DataFrame, m2: Double, selfW: Double)

  private def parts(edges: DataFrame, checkpoint: Boolean): Parts = {
    val nonSelf = edges.filter(col("src") =!= col("dst"))
    val selfLoops = edges.filter(col("src") === col("dst"))
      .groupBy(col("src").as("id")).agg(sum("weight").as("self_w"))
    // symmetric adjacency over non-self edges
    val adj0 = nonSelf.select(col("src"), col("dst"), col("weight"))
      .unionAll(nonSelf.select(col("dst").as("src"), col("src").as("dst"), col("weight")))
    // lazy local checkpoints throughout this file (r13): the plan is
    // truncated immediately (the iterative lineage never compounds) but
    // the blocks land as a side effect of the next real action instead
    // of paying a dedicated materialization job — on the distributed
    // leg's floor-dominated graphs the per-round JOB COUNT is the wall
    // time (49.6 s for a 10k-edge KNN graph before this change)
    val adj = if (checkpoint) ckpt(adj0) else adj0
    // degrees include 2× self-loop weight (the contracted node's internal
    // edges); m2 likewise
    val kiBase = adj.groupBy("src").agg(sum("weight").as("k0"))
    val allIds = kiBase.select(col("src"))
      .unionAll(selfLoops.select(col("id").as("src"))).distinct()
    val ki0 = allIds
      .join(kiBase, Seq("src"), "left")
      .join(selfLoops.withColumnRenamed("id", "src"), Seq("src"), "left")
      .select(col("src"),
        (coalesce(col("k0"), lit(0.0)) + lit(2.0) * coalesce(col("self_w"), lit(0.0)))
          .as("k"))
    val ki = if (checkpoint) ckpt(ki0) else ki0
    // ONE action for both graph constants (m2 rides through ki, so the
    // lazy adj/ki checkpoints materialize here as a side effect)
    val consts = ki.agg(coalesce(sum("k"), lit(0.0)).as("v"))
      .select(lit("m2").as("metric"), col("v"))
      .unionByName(selfLoops.agg(coalesce(sum("self_w"), lit(0.0)).as("v"))
        .select(lit("selfW").as("metric"), col("v")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    Parts(adj, ki, consts("m2"), consts("selfW"))
  }

  /** @param edges undirected weighted edges (src, dst, weight), each
    *              pair once; self-loops allowed (intra-weight).
    * @return (id, community) — community keyed by its lowest member id.
    */
  def detect(spark: SparkSession, edges: DataFrame, maxIter: Int = 10,
             resolution: Double = 1.0, seed: Long = 42L,
             levels: Int = 2, seqMaxEdges: Long = 4000000L): DataFrame = {
    // one id type (string) for every level: detectSequential emits string
    // community ids, so without this a numeric-id graph whose coarse level
    // falls under seqMaxEdges would compose levels through an implicit
    // numeric<->string cast (lossy for long ids above 2^53 via double)
    val edges1 = edges.select(
      col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst"),
      col("weight").cast("double").as("weight"))
    val edges0 = ckpt(edges1) // materialized by the gate count below
    if (edges0.count() <= seqMaxEdges)
      return detectSequential(spark, edges0, resolution)
    val orig = parts(edges0, checkpoint = true) // composed-Q evaluation basis
    var mapping: DataFrame = null // original id -> current community
    var bestMapping: DataFrame = null
    var bestQ = Double.MinValue
    var cur = edges0
    var curParts = orig
    var level = 0
    var continue = true
    while (level < levels && continue) {
      val comm =
        if (level > 0 && cur.count() <= seqMaxEdges) { // coarse graph collapsed
          continue = false
          detectSequential(spark, cur, resolution)
        } else localMoves(curParts, maxIter, resolution, seed + 1000L * level)
      mapping =
        if (mapping == null) comm
        else mapping.withColumnRenamed("community", "prev")
          .join(comm.withColumnRenamed("id", "prev")
            .withColumnRenamed("community", "next"), "prev")
          .select(col("id"), col("next").as("community"))
      mapping = ckpt(mapping) // materialized by the composed-Q action
      val q = modularityFromParts(orig, mapping, resolution)
      if (q > bestQ + 1e-12) { bestQ = q; bestMapping = mapping }
      else if (level > 0) continue = false // coarsening stopped helping
      level += 1
      if (level < levels && continue) {
        // phase 2: contract to the community graph (canonical orientation,
        // intra-community weight as self-loops)
        cur = cur
          .join(comm.withColumnRenamed("id", "src")
            .withColumnRenamed("community", "sc"), "src")
          .join(comm.withColumnRenamed("id", "dst")
            .withColumnRenamed("community", "dc"), "dst")
          .select(least(col("sc"), col("dc")).as("src"),
            greatest(col("sc"), col("dc")).as("dst"), col("weight"))
          .groupBy("src", "dst").agg(sum("weight").as("weight"))
        cur = ckpt(cur) // materialized by parts' constants action
        curParts = parts(cur, checkpoint = true)
      }
    }
    // canonical labels: min member id per community (a lazy plan the
    // caller evaluates — bestMapping is materialized)
    val canon = bestMapping.groupBy("community").agg(min("id").as("canon"))
    bestMapping.join(canon, "community")
      .select(col("id"), col("canon").as("community"))
  }

  /** Exact classic Louvain on the driver for graphs under the hybrid
    * threshold — identical objective, deterministic (sorted node order,
    * lowest-community tie-break), monotone in modularity by
    * construction. Levels repeat until a full pass moves nothing. */
  private def detectSequential(spark: SparkSession, edges: DataFrame,
                               resolution: Double): DataFrame = {
    import spark.implicits._
    val raw = edges.select(col("src").cast("string"), col("dst").cast("string"),
      col("weight").cast("double")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val ids: Array[String] = (raw.map(_._1) ++ raw.map(_._2)).distinct.sorted
    if (ids.isEmpty) return Seq.empty[(String, String)].toDF("id", "community")
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    // undirected pair weights (u<v) and self-loop weights, aggregated
    val pairW = scala.collection.mutable.HashMap.empty[(Int, Int), Double]
    val selfW = new Array[Double](n)
    raw.foreach { case (s, d, w) =>
      val (u, v) = (idx(s), idx(d))
      if (u == v) selfW(u) += w
      else {
        val key = if (u < v) (u, v) else (v, u)
        pairW(key) = pairW.getOrElse(key, 0.0) + w
      }
    }
    // origComm(i): community (current-level supernode index) of orig node i
    var origComm = Array.tabulate(n)(identity)
    var curPairs = pairW.toArray.map { case ((u, v), w) => (u, v, w) }
    var curSelf = selfW
    var curN = n
    var improvedLevel = true
    var guard = 0
    while (improvedLevel && guard < 64) {
      guard += 1
      // adjacency of the current level
      val adj = Array.fill(curN)(scala.collection.mutable.ArrayBuffer.empty[(Int, Double)])
      curPairs.foreach { case (u, v, w) => adj(u) += ((v, w)); adj(v) += ((u, w)) }
      val k = Array.tabulate(curN)(i => adj(i).map(_._2).sum + 2.0 * curSelf(i))
      val m2 = k.sum
      if (m2 <= 0.0) { improvedLevel = false }
      else {
        val comm = Array.tabulate(curN)(identity)
        val commTot = k.clone()
        var movedInLevel = false
        var movedInPass = true
        var pass = 0
        while (movedInPass && pass < 64) {
          movedInPass = false
          pass += 1
          var i = 0
          while (i < curN) {
            val own = comm(i)
            commTot(own) -= k(i)
            // weight from i to each neighboring community
            val wTo = scala.collection.mutable.HashMap(own -> 0.0)
            adj(i).foreach { case (j, w) =>
              val c = comm(j); wTo(c) = wTo.getOrElse(c, 0.0) + w
            }
            var bestC = own
            var bestScore = wTo(own) - resolution * k(i) * commTot(own) / m2
            wTo.foreach { case (c, w) =>
              val score = w - resolution * k(i) * commTot(c) / m2
              if (score > bestScore + 1e-12 ||
                (score > bestScore - 1e-12 && c < bestC)) {
                bestScore = score; bestC = c
              }
            }
            commTot(bestC) += k(i)
            if (bestC != own) { comm(i) = bestC; movedInPass = true; movedInLevel = true }
            i += 1
          }
        }
        if (!movedInLevel) improvedLevel = false
        else {
          // contract: renumber communities, compose mapping, rebuild edges
          val renum = comm.distinct.sorted.zipWithIndex.toMap
          val newN = renum.size
          origComm = origComm.map(c => renum(comm(c)))
          val newSelf = new Array[Double](newN)
          var ci = 0
          while (ci < curN) { newSelf(renum(comm(ci))) += curSelf(ci); ci += 1 }
          val newPairs = scala.collection.mutable.HashMap.empty[(Int, Int), Double]
          curPairs.foreach { case (u, v, w) =>
            val (cu, cv) = (renum(comm(u)), renum(comm(v)))
            if (cu == cv) newSelf(cu) += w
            else {
              val key = if (cu < cv) (cu, cv) else (cv, cu)
              newPairs(key) = newPairs.getOrElse(key, 0.0) + w
            }
          }
          curPairs = newPairs.toArray.map { case ((u, v), w) => (u, v, w) }
          curSelf = newSelf
          curN = newN
        }
      }
    }
    // canonical label: lowest member id per community
    val canon = scala.collection.mutable.HashMap.empty[Int, String]
    var i = 0
    while (i < n) { // ids sorted ascending → first hit is the minimum
      if (!canon.contains(origComm(i))) canon(origComm(i)) = ids(i)
      i += 1
    }
    ids.zipWithIndex.map { case (id, j) => (id, canon(origComm(j))) }
      .toSeq.toDF("id", "community")
  }

  /** Phase 1: synchronous local moves on one graph level. Returns
    * (id, community) over this level's node ids. */
  private def localMoves(p: Parts, maxIter: Int,
                         resolution: Double, seed: Long): DataFrame = {
    val adj = p.adj
    val ki = p.ki
    val m2 = p.m2

    var comm = ki.select(col("src").as("id"), col("src").as("community"))
    var bestComm = comm
    var bestQ = Double.MinValue
    var iter = 0
    var moved = 1L
    while (iter < maxIter && moved > 0) {
      val commB = comm
      val sigma = commB.join(ki, commB("id") === ki("src"))
        .groupBy("community").agg(sum("k").as("sigma_tot"))
      val nbrComm = adj
        .join(commB.withColumnRenamed("id", "dst")
          .withColumnRenamed("community", "nbr_comm"), "dst")
        .groupBy(col("src"), col("nbr_comm")).agg(sum("weight").as("w_ic"))
      val own = commB.select(col("id").as("src"), col("community").as("nbr_comm"))
        .withColumn("w_ic", lit(0.0))
      val cands = nbrComm.unionByName(own)
        .groupBy("src", "nbr_comm").agg(max("w_ic").as("w_ic"))
        .join(commB.withColumnRenamed("id", "src"), "src")
        .join(ki, "src")
        .join(sigma.withColumnRenamed("community", "nbr_comm"), "nbr_comm")
      // gain = w_ic − res · k_i · Σ_tot\{i} / (2m); Σ excludes i when
      // evaluating its own community (standard Louvain bookkeeping).
      // Self-loop weight moves with the node and cancels across options.
      val sigmaAdj = when(col("nbr_comm") === col("community"),
        col("sigma_tot") - col("k")).otherwise(col("sigma_tot"))
      val scored = cands.withColumn("gain",
        col("w_ic") - lit(resolution) * col("k") * sigmaAdj / lit(m2))
      val w = Window.partitionBy("src")
        .orderBy(col("gain").desc, col("nbr_comm").asc)
      val best = scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("id"), col("community"),
          col("nbr_comm").as("best_comm"), col("gain"))
      // per-iteration hash stagger: each node gets an independent 50%
      // move window every iteration. A fixed parity scheme is periodic —
      // the same cohort moves every other iteration, which can lock a
      // clique into a perpetual balanced swap; fresh randomness per
      // iteration guarantees an eventually-asymmetric pattern that lets
      // the dance collapse into the stable merged state.
      val stagger = pmod(xxhash64(col("id"), lit(seed + iter)), lit(2)) === 0
      // LAZY localCheckpoint: truncates the iterative lineage NOW
      // (without it the logical plan doubles per iteration and the
      // driver OOMs just *printing* it, AQE explainString), while the
      // blocks land inside the one stats action below instead of a
      // dedicated materialization job
      val withNext = best.withColumn("new_comm",
        when(col("best_comm") =!= col("community") && stagger, col("best_comm"))
          .otherwise(col("community")))
      val withNextCk = ckpt(withNext)
      val nextComm = withNextCk.select(col("id"), col("new_comm").as("community"))
      // ONE action per round (r13): the wanted-to-move count and both
      // modularity scalars ride a single 3-row union — values identical
      // to the old 4-job round (eager checkpoint + count + two scalar
      // reads), but a floor-dominated graph pays one scheduling floor
      // instead of four. Convergence stays "nobody *wants* to move";
      // counting actual moves would terminate spuriously whenever the
      // hash-stagger happens to block every would-be mover at once.
      val movedDf = withNextCk.agg(
        coalesce(sum(when(col("best_comm") =!= col("community"), 1L)
          .otherwise(0L)), lit(0L)).cast("double").as("v"))
        .select(lit("moved").as("metric"), col("v"))
      val stats = (movedDf +: modularityStatsFrames(p, nextComm))
        .reduce(_ unionByName _)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      moved = stats("moved").toLong
      comm = nextComm
      // synchronous moves don't guarantee monotone modularity — keep the
      // best partition seen (evaluated on THIS level's materialized parts)
      val q = qOf(p, stats("intra"), stats("sq"), resolution)
      if (q > bestQ) { bestQ = q; bestComm = comm }
      iter += 1
    }
    bestComm
  }

  /** Modularity Q of a partition over the original edge input (quality
    * gate used by tests; self-loop-aware). */
  def modularity(spark: SparkSession, edges: DataFrame, communities: DataFrame,
                 resolution: Double = 1.0): Double = {
    // same single-id-type rule as detect: join levels on string, never on
    // an implicit numeric<->string coercion
    val e = edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst"), col("weight").cast("double").as("weight"))
    val c = communities.select(col("id").cast("string").as("id"),
      col("community").cast("string").as("community"))
    modularityFromParts(parts(e, checkpoint = false), c, resolution)
  }

  /** The two modularity scalar aggregates as single-row (metric, v)
    * frames — kept as FRAMES so localMoves can union them with its own
    * per-round scalars and pay ONE scheduling floor per round. */
  private def modularityStatsFrames(p: Parts,
                                    communities: DataFrame): Seq[DataFrame] = {
    val withComm = p.adj
      .join(communities.withColumnRenamed("id", "src")
        .withColumnRenamed("community", "src_comm"), "src")
      .join(communities.withColumnRenamed("id", "dst")
        .withColumnRenamed("community", "dst_comm"), "dst")
    val intra = withComm.filter(col("src_comm") === col("dst_comm"))
      .agg(coalesce(sum("weight"), lit(0.0)).as("v"))
      .select(lit("intra").as("metric"), col("v"))
    val sigma = communities.withColumnRenamed("id", "src").join(p.ki, "src")
      .groupBy("community").agg(sum("k").as("s"))
    val sq = sigma.agg(coalesce(sum(col("s") * col("s")), lit(0.0)).as("v"))
      .select(lit("sq").as("metric"), col("v"))
    Seq(intra, sq)
  }

  /** Q from the two collected scalars; self-loops are always intra and
    * each contributes 2w to the A_ii sum. */
  private def qOf(p: Parts, intraPairs: Double, sumSq: Double,
                  resolution: Double): Double =
    (intraPairs + 2.0 * p.selfW) / p.m2 - resolution * sumSq / (p.m2 * p.m2)

  private def modularityFromParts(p: Parts, communities: DataFrame,
                                  resolution: Double): Double = {
    val stats = modularityStatsFrames(p, communities)
      .reduce(_ unionByName _)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    qOf(p, stats("intra"), stats("sq"), resolution)
  }
}
