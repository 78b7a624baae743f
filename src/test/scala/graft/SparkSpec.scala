package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites
  * run sequentially under sbt's single test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** The shipped configuration (graft.core.GraftSession), so the suites
    * test the plans and serializer the engine actually runs with. */
  lazy val session: SparkSession = graft.core.GraftSession.local(8,
    warehouseDir = Some(java.nio.file.Files.createTempDirectory("graft_wh").toString))
}
