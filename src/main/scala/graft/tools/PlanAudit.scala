package graft.tools

/** Prints formatted physical plans for representative catalog queries so
  * the shuffle/broadcast/pushdown structure can be audited (the "is this
  * the plan you'd want at 100 TB" loop). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq
      else Seq("q1_agg", "p4_temporal_cutoff", "j5_feature_lookup_join",
        "j3_two_hop_links", "j7_knn_topk", "rec_q2_softmax")
    val spark = graft.core.GraftSession.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    names.foreach { n =>
      println(s"\n================= $n =================")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
