package graft.core

import org.apache.spark.sql.SparkSession

/** The one way this codebase builds a SparkSession: Bench, Verify, the
  * tools and the test suites all get the shipped configuration, so no
  * caller can drift from it (missing extensions, no UTC, no Kryo).
  */
object GraftSession {

  /** Local parallelism: `SPARK_GRAFT_CPUS` if set, else every core. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** A `local[cpus]` session with the shipped engine configuration.
    * `warehouseDir` overrides Spark's cwd-relative `spark-warehouse`.
    * Fails loudly if the graft extensions did not install: getOrCreate
    * silently DROPS `withExtensions` when the JVM already has a default
    * session, and every plan would then differ from the shipped one
    * (round-9 postmortem: a bare getOrCreate disabled AsOfJoinStrategy
    * JVM-wide). */
  def local(cpus: Int = defaultCpus,
            warehouseDir: Option[String] = None): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS), which Spark 4 rejects;
      // read as long and convert in graft.core.Tables.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the app-lifetime memos store SERIALIZED (see GraphBuilder
      // .fromTpch); UnsafeRow is KryoSerializable, and Kryo reads a
      // block as straight byte copies where JavaSerializer pays an
      // ObjectInputStream state machine per row (measured: the sf10
      // graph memo scan sat in readObject0 on all threads)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
    warehouseDir.foreach(b.config("spark.sql.warehouse.dir", _))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    require(
      s.sessionState.planner.extraPlanningStrategies.contains(graft.plans.AsOfJoinStrategy) ||
        s.sessionState.planner.strategies.contains(graft.plans.AsOfJoinStrategy),
      "GraftExtensions not installed: AsOfJoinStrategy missing from the " +
        "planner — a default session existed before GraftSession.local " +
        "(getOrCreate-drops-extensions trap)")
    require(
      s.sessionState.optimizer.extendedOperatorOptimizationRules
        .contains(graft.plans.IntegerizeSampleFilter),
      "GraftExtensions not installed: IntegerizeSampleFilter missing from " +
        "the optimizer's extended rules")
    s
  }
}
