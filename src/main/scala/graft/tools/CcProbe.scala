package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Phase-level wall breakdown of the distributed connected-components
  * leg (r15 item #1): replicates GraphXAnalytics.connectedComponents'
  * HashMin loop with a timer around every phase — edge build, seed
  * round, per-round offers/agg/state-update, readout — so the sf10
  * optimization targets the measured wall, not a guess.
  *
  * Usage: CcProbe [sfDir]
  */
object CcProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.core.GraftSession.local()
    spark.range(100000).groupBy(pmod(col("id"), lit(7L))).count().count()

    def time[A](tag: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(tag)
      val t0 = System.nanoTime()
      val r = f
      println(f"[ccprobe] $tag%-30s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val g = graft.graph.GraphBuilder.fromTpch(spark, sfDir)
    time("graph memo count") { (g.nodes.count(), g.edges.count()) }

    val shuffleP = spark.sessionState.conf.numShufflePartitions
    val serLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val oneWay = g.edges.select(
      xxhash64(col("src")).as("s"), xxhash64(col("dst")).as("d"))
    val eParts = {
      val m = 2L * g.edges.count()
      math.min(math.max(4, ((m + 999999L) / 1000000L).toInt),
        math.max(64, 4 * spark.sparkContext.defaultParallelism))
    }
    val edgesBoth = time(s"edgesBoth build ($eParts parts)") {
      val e = oneWay.union(oneWay.select(col("d").as("s"), col("s").as("d")))
        .toDF("src", "dst")
        .repartition(eParts, col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count(); e
    }
    val cand1 = edgesBoth
      .select(col("dst").as("vid"), col("src").as("m"))
      .repartition(shuffleP, col("vid"))
      .groupBy("vid").agg(min("m").as("m"))
    var state = time("seed state (cand1+ckpt)") {
      org.apache.spark.sql.GraftColumnBridge.checkpointKeepingPartitioning(
        cand1.select(col("vid"),
          least(col("vid"), col("m")).as("lbl"),
          (col("m") < col("vid")).as("ch")),
        serLevel, capStatsBytes = Some(1L << 40))
    }
    var frontier = state.filter(col("ch")).select("vid", "lbl")
    var live = !frontier.isEmpty
    var r = 1
    while (live && r <= 3) {
      // sub-phase timings for the first rounds: offers join alone, then
      // exchange+agg, then the full state update
      val offers = edgesBoth
        .join(frontier.withColumnRenamed("vid", "src")
          .hint("shuffle_hash"), "src")
        .select(col("dst").as("vid"), col("lbl").as("m"))
      time(s"r$r offers join (noop)") { noop(offers) }
      val cand = offers.repartition(shuffleP, col("vid"))
        .groupBy("vid").agg(min("m").as("m"))
      time(s"r$r offers+exch+agg (noop)") { noop(cand) }
      val prev = state
      state = time(s"r$r state join+ckpt") {
        org.apache.spark.sql.GraftColumnBridge.checkpointKeepingPartitioning(
          prev.select("vid", "lbl")
            .join(cand.hint("shuffle_hash"), Seq("vid"), "left")
            .select(col("vid"),
              least(col("lbl"), coalesce(col("m"), col("lbl"))).as("lbl"),
              (col("m") < col("lbl")).as("ch")),
          serLevel, capStatsBytes = Some(1L << 40))
      }
      frontier = state.filter(col("ch")).select("vid", "lbl")
      live = time(s"r$r isEmpty") { !frontier.isEmpty }
      org.apache.spark.sql.GraftColumnBridge.releaseCheckpoint(prev)
      r += 1
    }
    // remaining rounds untimed-by-phase (single wall each)
    while (live) {
      val t0 = System.nanoTime()
      val offers = edgesBoth
        .join(frontier.withColumnRenamed("vid", "src")
          .hint("shuffle_hash"), "src")
        .select(col("dst").as("vid"), col("lbl").as("m"))
      val cand = offers.repartition(shuffleP, col("vid"))
        .groupBy("vid").agg(min("m").as("m"))
      val prev = state
      state = org.apache.spark.sql.GraftColumnBridge.checkpointKeepingPartitioning(
        prev.select("vid", "lbl")
          .join(cand.hint("shuffle_hash"), Seq("vid"), "left")
          .select(col("vid"),
            least(col("lbl"), coalesce(col("m"), col("lbl"))).as("lbl"),
            (col("m") < col("lbl")).as("ch")),
        serLevel, capStatsBytes = Some(1L << 40))
      frontier = state.filter(col("ch")).select("vid", "lbl")
      live = !frontier.isEmpty
      org.apache.spark.sql.GraftColumnBridge.releaseCheckpoint(prev)
      println(f"[ccprobe] r$r full round              ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r += 1
    }
    val cc = state.select(col("vid"), col("lbl").as("component_vid"))
    time("readout (vm join+canon+agg)") {
      val vm = g.nodes.select(col("id"), xxhash64(col("id")).as("vid")).distinct()
      val withIds = cc.join(vm, "vid")
      val canon = withIds.groupBy("component_vid").agg(min("id").as("component"))
      withIds.join(canon, "component_vid").select(col("id"), col("component"))
        .groupBy("component").agg(count(lit(1)).as("size"))
        .orderBy(desc("size"), asc("component")).count()
    }
    spark.stop()
  }
}
