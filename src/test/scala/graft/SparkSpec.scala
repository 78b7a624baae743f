package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * run sequentially under sbt's single test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs started while `f` runs. */
  protected def jobsDuring(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.sql.GraftColumnBridge.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.sql.GraftColumnBridge.flushListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }
}

object SparkSpec {
  /** The shipped configuration (graft.core.GraftSession), so the suites
    * test the plans and serializer the engine actually runs with. */
  lazy val session: SparkSession = graft.core.GraftSession.local(8,
    warehouseDir = Some(java.nio.file.Files.createTempDirectory("graft_wh").toString))
}
