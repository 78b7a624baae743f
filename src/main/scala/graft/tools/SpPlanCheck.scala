package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch driver for the shortest-paths distributed leg's ROUND plan
  * shape (not part of the engine surface). The loop's per-round plans
  * are invisible from the returned frame (checkpoints cut lineage), so
  * this replays three rounds of the exact layered-BFS fold and prints
  * the executed plan of the last one, counting exchanges and sorts.
  * The contract it checks: the message min is a HashAggregate (a
  * struct-min compiles to SortAggregate - two |E|-scale sorts per
  * round, the defect this tool caught), the settled-layer anti-joins
  * are co-partitioned shuffle-hash joins moving nothing but the
  * frontier's messages, and the edge probe never re-exchanges the
  * pinned edge table.
  */
object SpPlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.core.GraftSession.local()
    import spark.implicits._

    def executed(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
    def audit(label: String, df: DataFrame): Unit = {
      df.collect()
      val ep = executed(df)
      val nEx = ep.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
      val nSort = ep.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }.size
      println(s"== $label: exchanges=$nEx sorts=$nSort")
      println(ep.toString.linesIterator.take(40).mkString("\n"))
    }

    val g = graft.graph.GraphBuilder.fromTpch(spark, sfDir)
    val shuffleP = spark.sessionState.conf.numShufflePartitions
    val serLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val oneWay = g.edges.select(
      xxhash64(col("src")).as("s"), xxhash64(col("dst")).as("d"))
    val edgesBoth = oneWay
      .union(oneWay.select(col("d").as("s"), col("s").as("d")))
      .toDF("src", "dst").repartition(8, col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    edgesBoth.count()
    val hubIds = g.nodes.filter(col("id").startsWith("loc_"))
      .select(col("id"), xxhash64(col("id")).as("vid")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val hubRank = hubIds.zipWithIndex
      .map { case ((_, vid), rk) => (vid, rk) }.toSeq.toDF("vid", "rank")
    var layers = List[DataFrame](org.apache.spark.sql.GraftColumnBridge
      .checkpointKeepingPartitioning(edgesBoth
        .join(broadcast(hubRank), edgesBoth("src") === hubRank("vid"))
        .select(col("vid"), col("rank").cast("long").as("packed"))
        .distinct()
        .repartition(shuffleP, col("vid")), serLevel,
        capStatsBytes = Some(1L << 40)))
    var frontier: DataFrame = layers.head
    val two32 = 4294967296L
    for (r <- 0 until 3) {
      val offers = edgesBoth
        .join(frontier.withColumnRenamed("vid", "src").hint("shuffle_hash"),
          "src")
        .select(col("dst").as("vid"), (col("packed") + two32).as("packed"))
      val pruned = layers.takeRight(2).foldLeft(
          offers.repartition(shuffleP, col("vid"))) { (acc, layer) =>
        acc.join(layer.select("vid").hint("shuffle_hash"),
          Seq("vid"), "left_anti")
      }
      val newly = pruned.groupBy("vid").agg(min("packed").as("packed"))
      if (r == 2) audit("round-3 newly (one msg exchange, no sorts, " +
        "no layer/edge movement)", newly)
      val ck = org.apache.spark.sql.GraftColumnBridge
        .checkpointKeepingPartitioning(newly, serLevel,
          capStatsBytes = Some(1L << 40))
      layers = layers :+ ck
      frontier = ck
    }
    spark.stop()
  }
}
