package graft.tools

/** Dumps `explain("formatted")` for every catalog query (or a named
  * subset) to one file per query — the r14 optimization-round evidence
  * trail (`plans/r14/<name>_<tag>.txt`). The session comes from
  * graft.core.GraftSession, as Bench's does, so the captured plans are
  * the benched plans.
  *
  * Usage: PlanDump <outDir> <tag> [name1,name2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r14")
    val tag = args.lift(1).getOrElse("before")
    val only = args.lift(2).map(_.split(",").toSet)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.GraftSession.local()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val selected = graft.SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    var failed = 0
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // formatted mode of the pre-execution plan; with AQE the header
        // says isFinalPlan=false, but the join strategies / exchanges /
        // PushedFilters the round's claims rest on are all visible
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[plandump] $name ok")
      } catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[plandump] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    println(s"[plandump] wrote ${selected.size - failed}/${selected.size} to $outDir (tag=$tag)")
    spark.stop()
  }
}
