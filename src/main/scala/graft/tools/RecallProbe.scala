package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.sim.Similarity

/** Stage-by-stage wall breakdown of sim_recall_eval (r15 item #4):
  * which of (probe pick, brute BNLJ truth scan, window top-5, LSH leg,
  * final rollup) owns the entry's wall. Each stage is materialized
  * through the noop sink so the timings compose (guide §1.4).
  *
  * Usage: RecallProbe [sfDir]
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.core.GraftSession.local()
    // warm-up (Bench hygiene)
    spark.range(100000).groupBy(pmod(col("id"), lit(7L))).count().count()

    def time[A](tag: String)(f: => A): A = {
      spark.sparkContext.setJobDescription(tag)
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val RECALL_PANEL = 1024
    val e = Tables.embeddings(spark, sfDir)
    println(s"[probe] corpus n = ${e.count()}")

    val probes = time("probe pick + ckpt") {
      Similarity.hashRankedPick(
          e.select(col("vec_id").as("cid"),
            col("embedding").cast("array<double>").as("pv")),
          RECALL_PANEL, 29L, "pr")
        .select(col("cid").as("src"), col("pv").as("qv"),
          Similarity.norm(col("pv")).as("qn"))
        .localCheckpoint(true)
    }
    val corpus = e.select(col("vec_id").as("dst"),
        col("embedding").cast("array<double>").as("cv"))
      .withColumn("cn", Similarity.norm(col("cv")))
    val scored = corpus.join(broadcast(probes), col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        (Similarity.dot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cos"))
    time("BNLJ scored (noop)") { noop(scored) }
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(round(col("cos"), 6).desc, col("dst").asc)
    val brute = time("brute top-5 + ckpt") {
      scored.withColumn("rn", row_number().over(bw))
        .filter(col("rn") <= 5).select("src", "dst")
        .localCheckpoint(true)
    }
    val lsh = time("lshTopK + panel semi (noop)") {
      val l = Similarity.lshTopK(e, "vec_id", "embedding",
        dim = 64, nPlanes = Similarity.scaleNPlanes(e.count()), k = 5,
        rankRounded = true).select("src", "dst")
        .join(probes.select("src"), Seq("src"), "left_semi")
      noop(l); l
    }
    time("rollup (count)") {
      val perQuery = brute.groupBy("src").agg(count(lit(1)).as("n_true"))
        .join(brute.join(lsh, Seq("src", "dst"), "left_semi")
          .groupBy("src").agg(count(lit(1)).as("hits")), Seq("src"), "left")
        .select(col("src"), col("n_true"),
          coalesce(col("hits"), lit(0L)).as("hits"))
      perQuery.agg(count(lit(1)).as("n_queries"), sum("hits").as("hits"),
        sum("n_true").as("n_true")).count()
    }
    spark.stop()
  }
}
