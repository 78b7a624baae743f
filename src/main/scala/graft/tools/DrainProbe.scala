package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Itemizes the AvailableNow drain floor (r15 item #6): what part of a
  * streaming entry's wall is trigger machinery (source listing, batch
  * planning, state-store setup, commit) versus operator work. Runs the
  * SAME runAvailableNow harness three ways over the events table —
  * identity projection (pure floor), watermarked dedup (one stateful
  * op), stream-stream outer interval join (e14's operator, 4 state
  * stores/partition) — each twice (cold, warm).
  *
  * Usage: DrainProbe [sfDir]
  */
object DrainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val spark = graft.core.GraftSession.local()
    spark.range(100000).groupBy(pmod(col("id"), lit(7L))).count().count()

    def time(tag: String)(f: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      val n = f.count()
      println(f"[drain] $tag%-34s ${(System.nanoTime() - t0) / 1e9}%6.2f s ($n rows)")
    }
    import graft.streaming.EventStream
    for (pass <- Seq("cold", "warm")) {
      time(s"identity projection ($pass)") {
        EventStream.runAvailableNow(spark, sfDir,
          df => df.select("event_id", "user_id"),
          queryName = s"probe_id_$pass", shufflePartitions = Some(4))
      }
      time(s"watermark dedup ($pass)") {
        EventStream.runAvailableNow(spark, sfDir,
          df => df.withWatermark("ts", "2 hours")
            .dropDuplicatesWithinWatermark("event_id"),
          queryName = s"probe_dd_$pass", shufflePartitions = Some(4))
      }
      time(s"outer interval join ($pass)") {
        EventStream.runAvailableNow(spark, sfDir,
          df => EventStream.intervalJoinOuter(df)
            .select("purchase_id", "p_ts", "c_ts", "c_value"),
          queryName = s"probe_oj_$pass", shufflePartitions = Some(4))
      }
    }
    spark.stop()
  }
}
