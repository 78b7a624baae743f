package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark-side totals of one traced call name, accumulated over a pass. */
final class CallStats {
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var jobs = 0
  val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Max over median task time of the call's heaviest stage (by summed
    * task time); 1.0 when no stage ran more than one task. */
  def taskSkew: Double = {
    val multi = stageTasks.values.filter(_.size >= 2)
    if (multi.isEmpty) 1.0
    else {
      val ts = multi.maxBy(_.sum).sorted
      val med = ts(ts.size / 2).toDouble
      if (med <= 0) 1.0 else ts.last / med
    }
  }

  /** Milliseconds covered by at least one of the call's jobs. */
  def jobMillis: Long = {
    var covered = 0L; var end = Long.MinValue
    for ((s, e) <- jobSpans.sortBy(_._1)) {
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }
}

/** Attributes every job, stage and task to the call that submitted it,
  * through the local property `Tracer.Prop` that `Tracer.call` sets. */
final class CallListener extends SparkListener {
  private val stageCall = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  private val stats = mutable.Map.empty[String, CallStats]

  private def of(call: String): CallStats = stats.getOrElseUpdate(call, new CallStats)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop))).foreach { c =>
      synchronized(of(c).jobs += 1)
      e.stageIds.foreach(stageCall.put(_, c))
      jobStart.put(e.jobId, (c, e.time))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (c, t0) =>
      synchronized(of(c).jobSpans += ((t0, e.time)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageCall.get(e.stageId)).foreach { c =>
      val m = e.taskMetrics
      if (m != null) synchronized {
        val s = of(c)
        s.cpuNs += m.executorCpuTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
      }
    }

  def drain(): Map[String, CallStats] = synchronized {
    val r = stats.toMap; stats.clear(); r
  }
}

object Tracer { val Prop = "perfbench.call" }

/** Times named calls into the program. Untraced, it only keeps wall
  * sums; traced, a `CallListener` also attributes Spark work to them. */
final class Tracer(val traced: Boolean) {
  private val walls = mutable.LinkedHashMap.empty[String, Double]
  private var listener: Option[CallListener] = None

  def attach(spark: SparkSession): Unit = if (traced) {
    val l = new CallListener
    spark.sparkContext.addSparkListener(l)
    listener = Some(l)
  }

  def call[T](spark: SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.Prop, name)
    val t0 = System.nanoTime()
    try f finally {
      sc.setLocalProperty(Tracer.Prop, null)
      walls(name) = walls.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    }
  }

  /** The pass's per-call metrics, then a reset: `<call>_s` always, and
    * when traced `<call>.cpu_s/.shuffle_mb/.spill_mb/.jobs/.task_skew`
    * plus `<call>.driver_s`, the wall during which none of the call's
    * jobs ran. */
  def snapshot(spark: SparkSession): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    walls.foreach { case (k, v) => out(s"${k}_s") = v }
    listener.foreach { l =>
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      val mb = 1024.0 * 1024.0
      for ((k, s) <- l.drain()) {
        out(s"$k.cpu_s") = s.cpuNs / 1e9
        out(s"$k.shuffle_mb") = s.shuffleBytes / mb
        out(s"$k.spill_mb") = s.spillBytes / mb
        out(s"$k.jobs") = s.jobs.toDouble
        out(s"$k.task_skew") = s.taskSkew
        out(s"$k.driver_s") = math.max(0.0, walls.getOrElse(k, 0.0) - s.jobMillis / 1e3)
      }
    }
    walls.clear()
    out.toMap
  }
}
