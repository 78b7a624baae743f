package graft.tools

import org.apache.spark.sql.functions._

/** Scratch profiler for the rec_q1 candidate build (not part of the
  * catalog; run manually: runMain graft.tools.RecProfile <sfDir>). */
object RecProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.core.GraftSession.local()
    def t[A](name: String)(f: => A): A = {
      val s = System.nanoTime(); val r = f
      println(f"[prof] $name%-28s ${(System.nanoTime() - s) / 1e9}%.2f s"); r
    }
    // warm JVM/codegen
    graft.core.Tables.customer(spark, dir).count()

    val cust = t("cust scan+filter") {
      val c = graft.core.Tables.customer(spark, dir)
        .filter(pmod(col("c_custkey"), lit(50)) === 1)
        .select(col("c_custkey").as("customer"), col("c_acctbal").as("acctbal"))
      c.count(); c
    }
    val parts = t("parts scan") {
      val p = graft.recommend.Recommend.validProducts(graft.core.Tables.part(spark, dir))
        .select(col("p_partkey").as("product"), col("p_brand").as("category"),
          col("p_retailprice").as("price"))
      p.count(); p
    }
    t("purchasePairs (j-family warm)") {
      graft.graph.Links.purchasePairsNumeric(spark, dir).count()
    }
    // staged variant of the candidate build to localize cost
    locally {
      val purchased = graft.graph.Links.purchasePairsNumeric(spark, dir)
        .join(broadcast(cust.select("customer")), Seq("customer"), "left_semi")
      val candU = graft.functions.ColFns.pseudoUniform(
        col("customer") * 131071 + col("product"), 3L)
      val np = parts.agg(count(lit(1)).as("np"))
      val keepFrac = least(lit(1.0), lit(13.0 * 2000 / 10.0) /
        greatest(col("np"), lit(1L)).cast("double"))
      val par = spark.sparkContext.defaultParallelism
      val partIds = parts.select("product")
      val crossed = cust.repartition(par, col("customer")).crossJoin(broadcast(partIds))
      t("stage: expand+filter") {
        crossed.crossJoin(broadcast(np)).filter(candU < keepFrac).count()
      }
      val anti = crossed.crossJoin(broadcast(np)).filter(candU < keepFrac)
        .join(broadcast(purchased), Seq("customer", "product"), "left_anti")
      t("stage: +anti") { anti.count() }
      val candW = org.apache.spark.sql.expressions.Window
        .partitionBy("customer").orderBy(candU, col("product"))
      val capped0 = anti.withColumn("cand_rn", row_number().over(candW))
        .filter(col("cand_rn") <= 2000)
      t("stage: +window cap") { capped0.count() }
      val full = capped0.join(broadcast(parts), Seq("product"))
        .select("customer", "acctbal", "product", "category", "price")
      t("stage: +parts join") { full.count() }
      t("stage: checkpoint") {
        org.apache.spark.sql.GraftColumnBridge.checkpointKeepingPartitioning(full).count()
      }
    }
    t("candidates full") {
      graft.recommend.Recommend.candidates(spark, dir,
        pmod(col("c_custkey"), lit(50)) === 1, 2000).count()
    }
    t("candidates full (2nd slice)") {
      graft.recommend.Recommend.candidates(spark, dir,
        pmod(col("c_custkey"), lit(50)) === 2, 2000).count()
    }
    t("rec_q1 downstream") {
      graft.recommend.Recommend.topK(spark, dir, "diverse",
        pmod(col("c_custkey"), lit(50)) === 1, 12, 3, 2000).count()
    }
    spark.stop()
  }
}
