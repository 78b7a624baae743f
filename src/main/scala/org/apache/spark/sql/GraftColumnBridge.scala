package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the `private[sql]` Column↔Expression converters in Spark 4
  * (columns are connect-agnostic now, so `new Column(expr)` is gone).
  * Standard extension-library practice: a tiny shim inside the sql
  * package namespace, nothing else lives here.
  */
object GraftColumnBridge {
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Wrap a custom LogicalPlan node (e.g. graft.plans.AsOfJoinPlan) as a
    * DataFrame — the construction path every extension operator needs,
    * private[sql] in Spark 4. */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A frame over an RDD of catalyst rows — a mapPartitions kernel's
    * output — keeping the RDD's partitions and row order
    * (`internalCreateDataFrame` is private[sql]). */
  def fromInternalRows(spark: SparkSession,
                       rows: org.apache.spark.rdd.RDD[catalyst.InternalRow],
                       schema: types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Release the block-manager storage behind a localCheckpoint-backed
    * frame. `Dataset.unpersist` only covers `cache()`; a checkpoint's
    * blocks otherwise live until the RDD is GC'd and the context
    * cleaner runs — indefinitely in a long bench session. The frame
    * must not be used again afterwards (a local checkpoint cannot
    * recompute). No-op for non-checkpoint plans. */
  def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** The checkpoint RDD id behind a localCheckpoint-backed frame, for
    * storage accounting (AppCache's budget trim). None for non-
    * checkpoint plans. */
  def checkpointRddId(df: DataFrame): Option[Int] =
    df.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd.id)
      case _ => None
    }

  /** The columnar-buffer RDD id behind a persist()-cached frame —
    * the cached-plan counterpart of [[checkpointRddId]], so the
    * AppCache budget trim can account and evict columnar memos too.
    * Unlike a checkpoint RDD, unpersisting this RDD is recoverable:
    * the CacheManager rebuilds the buffers from the plan's lineage on
    * the next scan. None for plans the CacheManager isn't serving. */
  def cachedPlanRddId(df: DataFrame): Option[Int] =
    df.queryExecution.optimizedPlan match {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        Some(r.cacheBuilder.cachedColumnBuffers.id)
      case _ => None
    }

  /** Drain the async listener bus so `QueryExecutionListener` events
    * posted by construction-time actions (localCheckpoint, count, save)
    * are all delivered before a test asserts on them. `listenerBus` is
    * `private[spark]`, hence this bridge seam (the plan-contract sweep
    * is its only consumer). */
  def flushListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** localCheckpoint whose LogicalRDD reports CLAMPED size statistics
    * instead of the origin plan's estimate. An iterative algorithm that
    * checkpoints each round otherwise compounds the size-only stats
    * estimate multiplicatively THROUGH the checkpoint — `Dataset
    * .localCheckpoint` stamps the origin plan's stats onto the
    * LogicalRDD, round i+1's join estimates multiply round i's, and
    * after ~12 rounds sizeInBytes is a BigInt with thousands of digits:
    * the driver then burns whole seconds per round in BigInteger math
    * inside SizeInBytesOnlyStatsPlanVisitor (measured on Louvain's
    * distributed leg: level-1 round walls doubling 0.7 s → 11 s on a
    * 10k-edge graph with flat data, jstack pinned in BigInteger
    * multiply). Clamping at the checkpoint seam bounds every round's
    * estimate; AQE's runtime sizes decide the actual join strategies
    * regardless. Lazy: the blocks land with the caller's next action. */
  def localCheckpointClampedStats(df: DataFrame,
                                  capBytes: Long = 1L << 40): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.execution.LogicalRDD
    val ck = df.localCheckpoint(false)
    val lr = ck.queryExecution.optimizedPlan match {
      case l: LogicalRDD => l
      case _ => return ck
    }
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    // walking the origin stats here is bounded: this round's plan sits
    // on LEAVES this same function already clamped
    val orig = df.queryExecution.optimizedPlan.stats
    val clamped = Statistics(
      sizeInBytes = orig.sizeInBytes.min(BigInt(capBytes)),
      rowCount = orig.rowCount.map(_.min(BigInt(Long.MaxValue))))
    val stamped = new LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
      lr.outputOrdering, lr.isStreaming, None)(spark, Some(clamped), None)
    classic.Dataset.ofRows(spark, stamped)
  }

  /** localCheckpoint that KEEPS the build plan's hash partitioning.
    * Under AQE the adaptive plan reports `UnknownPartitioning` until
    * execution finishes, so a plain `localCheckpoint` captures Unknown
    * and every downstream window re-shuffles data the build already
    * co-located. This checkpoint first materializes, then reads the
    * now-final executed plan's `outputPartitioning` — DERIVED from what
    * actually ran, never asserted by the caller — and stamps it onto the
    * checkpoint's `LogicalRDD` when (and only when) it is a hash
    * partitioning whose expressions are plain attributes surviving into
    * the checkpoint's output (matched by exprId, so a renamed or
    * computed key safely falls back to the plain checkpoint). The
    * checkpoint caches the executed RDD's partitions 1:1, so the
    * recorded layout is exactly the materialized one. */
  def checkpointKeepingPartitioning(
      df: DataFrame,
      level: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      capStatsBytes: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.catalyst.plans.physical.{
      CoalescedHashPartitioning, HashPartitioning, Partitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    // clamped stats (the localCheckpointClampedStats rationale — an
    // iterative loop checkpointing each round otherwise compounds the
    // size-only estimate THROUGH the checkpoint into driver-side
    // BigInteger math); stamped below on whichever LogicalRDD survives
    val clampedStats = capStatsBytes.map { cap =>
      val orig = df.queryExecution.optimizedPlan.stats
      Statistics(
        sizeInBytes = orig.sizeInBytes.min(BigInt(cap)),
        rowCount = orig.rowCount.map(_.min(BigInt(Long.MaxValue))))
    }
    val ck = df.localCheckpoint(true, level)
    // localCheckpoint executed df's OWN QueryExecution, so the adaptive
    // plan is final here — but AdaptiveSparkPlanExec keeps REPORTING
    // UnknownPartitioning from the wrapper, so read the layout off the
    // executed inner plan
    val finalPlan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val lr = ck.queryExecution.optimizedPlan match {
      case l: LogicalRDD => l
      case _ => return ck
    }
    val sparkC = df.sparkSession.asInstanceOf[classic.SparkSession]
    val byId = lr.output.map(a => a.exprId -> a).toMap
    // attributes must survive into the checkpoint's output (matched by
    // exprId); anything else — computed keys, dropped columns — falls
    // back to the plain checkpoint
    def remap(hp: HashPartitioning): Option[HashPartitioning] = {
      val atts = hp.expressions.map {
        case a: Attribute => byId.get(a.exprId)
        case _ => None
      }
      if (atts.exists(_.isEmpty)) None
      else Some(HashPartitioning(atts.map(_.get), hp.numPartitions))
    }
    val stampedPart: Option[Partitioning] = finalPlan.outputPartitioning match {
      case hp: HashPartitioning => remap(hp)
      // AQE-coalesced shuffle reads: same hash clustering, merged
      // buckets — keep the coalesced description 1:1 with the RDD
      case chp: CoalescedHashPartitioning =>
        remap(chp.from).map(CoalescedHashPartitioning(_, chp.partitions))
      case _ => None
    }
    stampedPart match {
      case Some(p) =>
        val stamped = new LogicalRDD(lr.output, lr.rdd, p, Nil,
          lr.isStreaming, None)(sparkC, clampedStats, None)
        classic.Dataset.ofRows(sparkC, stamped)
      case None if clampedStats.isDefined =>
        // no recoverable hash layout, but the stats clamp still applies
        val stamped = new LogicalRDD(lr.output, lr.rdd,
          lr.outputPartitioning, lr.outputOrdering, lr.isStreaming,
          None)(sparkC, clampedStats, None)
        classic.Dataset.ofRows(sparkC, stamped)
      case None => ck
    }
  }
}
