package graft.tools

/** Scratch probe (r14): prices the graph-memo materialization variants
  * against each other on one host — localCheckpoint (the pre-r14 memo),
  * columnar persist with serial counts (the r14 memo), and columnar
  * persist with the two counts submitted concurrently (guide §2.6 —
  * independent jobs back-fill each other's stragglers). Each variant
  * runs in a fresh session so cache state can't leak across variants.
  */
object MemoProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // `compressed` is a runtime SQL conf, so the no-compress variant
    // sets it on the fresh session rather than at build time
    def session(compressed: Boolean = true) = {
      val s = graft.core.GraftSession.local()
      s.conf.set("spark.sql.inMemoryColumnarStorage.compressed", compressed)
      // warm-up shuffle so variant 1 doesn't absorb codegen startup
      s.range(100000).groupBy(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.col("id"),
        org.apache.spark.sql.functions.lit(7L))).count().count()
      s
    }
    def time[A](label: String)(f: => A): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[memoprobe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    for (round <- 1 to args.headOption.map(_.toInt).getOrElse(2)) {
      locally {
        val s = session()
        val g = graft.graph.GraphBuilder.buildTpch(s, dir)
        time(s"r$round localCheckpoint(eager)") {
          g.nodes.localCheckpoint(true); g.edges.localCheckpoint(true)
        }
        s.stop()
      }
      locally {
        val s = session()
        val g = graft.graph.GraphBuilder.buildTpch(s, dir)
        time(s"r$round persist+counts serial") {
          val n = g.nodes.persist(lvl); val e = g.edges.persist(lvl)
          n.count(); e.count()
        }
        println(s"[memoprobe] r$round compressed storage: " +
          s.sparkContext.getRDDStorageInfo.map(i => i.memSize >> 20).mkString("+") + " MB")
        s.stop()
      }
      locally {
        val s = session()
        val g = graft.graph.GraphBuilder.buildTpch(s, dir)
        time(s"r$round persist+counts parallel") {
          val n = g.nodes.persist(lvl); val e = g.edges.persist(lvl)
          val tN = new Thread(() => { n.count(); () })
          tN.start(); e.count(); tN.join()
        }
        s.stop()
      }
      locally {
        val s = session(compressed = false)
        val g = graft.graph.GraphBuilder.buildTpch(s, dir)
        time(s"r$round persist-nocompress serial") {
          val n = g.nodes.persist(lvl); val e = g.edges.persist(lvl)
          n.count(); e.count()
        }
        println(s"[memoprobe] r$round nocompress storage: " +
          s.sparkContext.getRDDStorageInfo.map(i => i.memSize >> 20).mkString("+") + " MB")
        s.stop()
      }
    }
  }
}
