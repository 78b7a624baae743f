package graft.tools

import graft.graph.Louvain

/** Scratch driver for Louvain convergence inspection (not part of the
  * engine surface). */
object LouvainDebug {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local()
    import spark.implicits._
    val c1 = for (a <- 1 to 5; b <- 1 to 5 if a < b) yield (s"a$a", s"a$b", 1.0)
    val c2 = for (a <- 1 to 5; b <- 1 to 5 if a < b) yield (s"b$a", s"b$b", 1.0)
    val edges = (c1 ++ c2 ++ Seq(("a1", "b1", 0.01))).toDF("src", "dst", "weight")
    for (it <- 1 to 12) {
      val comm = Louvain.detect(spark, edges, maxIter = it)
      val m = comm.collect().map(r => r.getString(0) -> r.getString(1)).sortBy(_._1)
      println(s"== iter cap $it: ${m.map { case (k, v) => s"$k->$v" }.mkString(" ")}" +
        f"  Q=${Louvain.modularity(spark, edges, comm)}%.4f")
    }
    spark.stop()
  }
}
