package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SparkEntry
import graft.core.{AppCache, Tables}
import graft.graph.{DegreeFeatures, GraphBuilder, Links, Louvain, Node2Vec, PropertyGraph}
import graft.ml.LinkPredict
import graft.pipeline.{FeatureFold, Injections}
import graft.recommend.Recommend
import graft.sim.Similarity

/** One benchmark run in one JVM: repeated set-ups and passes of one
  * workload, driven through the program's public calls only. Prints one
  * line `PERFBENCH {json}` of raw samples; `run.py` aggregates it.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <cpus>
  * For `lifecycle`, <dataDir> holds the injection dirs inj1..inj5. */
object Main {
  final case class Op(name: String, wall: Double, pass: Int)

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, cpusS) = args
    new Main(workload, seedS.toLong, secondsS.toDouble, traceS == "1",
      dataDir, workDir, cpusS.toInt).run()
  }

  /** Fixed pure-JVM compute loop on `threads` threads; its wall tracks
    * the CPU capacity the host gives this run. */
  def calibrate(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      new Thread(() => {
        var x = 1.0; var j = 0L
        while (j < 40000000L) { x = x * 1.0000001 + 1e-9; j += 1 }
        if (x < 0) println(x)
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** Order-independent digest of a result's rows. */
  def rowsDigest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.mkString("|")).sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally s.close()
  }

  /** CPU time of every thread of this JVM (tasks, driver, GC, JIT). */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Heap still reachable after a full collection (untimed): what the
    * session holds, memos included, once a pass is done. A trivial job
    * first replaces whatever the last operation's job left referenced, so
    * the figure does not depend on which operation ran last; the second
    * collection runs after Spark's cleaner has released what the first
    * one found unreachable. */
  def liveHeapMb(spark: SparkSession): Double = {
    spark.range(1).count()
    System.gc()
    Thread.sleep(500)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }

  def json(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case o: Op => json(Map("name" -> o.name, "wall" -> o.wall, "pass" -> o.pass))
    case other => json(other.toString)
  }

  /** Catalog modules in `SparkEntry.queries` order of composition. */
  def catalogModules: Seq[(String, Set[String])] = Seq(
    "relational" -> graft.catalog.Relational.queries.keySet,
    "analytics" -> graft.catalog.Analytics.queries.keySet,
    "textsim" -> graft.catalog.TextSim.queries.keySet,
    "strategies" -> graft.catalog.Strategies.queries.keySet,
    "graphml" -> graft.catalog.GraphML.queries.keySet,
    "scaleops" -> graft.catalog.ScaleOps.queries.keySet)
}

final class Main(workload: String, seed: Long, seconds: Double, traced: Boolean,
                 dataDir: String, workDir: String, cpus: Int) {
  import Main._

  private val tracer = new Tracer(traced)
  private val setups = mutable.ArrayBuffer.empty[Double]
  private val ops = mutable.ArrayBuffer.empty[Op]
  private val passes = mutable.ArrayBuffer.empty[Double]
  private val passExtra = mutable.Map.empty[String, Double]
  private val liveHeap = mutable.ArrayBuffer.empty[Double]
  private val passCpu = mutable.ArrayBuffer.empty[Double]
  private val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val checks = mutable.LinkedHashMap.empty[String, Boolean]
  private val notes = mutable.LinkedHashMap.empty[String, Any]
  private var attempted = 0
  private var failed = 0
  private val memoBudget = Runtime.getRuntime.maxMemory / 4
  private var memoEvictions = 0
  private var memoFreed = 0L
  private val work = Paths.get(workDir)

  private def check(name: String, ok: Boolean): Unit = {
    checks(name) = checks.getOrElse(name, true) && ok
    if (!ok) System.err.println(s"[perfbench] check failed: $name")
  }

  /** One operation: timed, and counted as failed (never as a short time)
    * when it throws. */
  private def op[T](f: => T): Option[(T, Double)] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = f
      Some((r, (System.nanoTime() - t0) / 1e9))
    } catch { case e: Throwable =>
      failed += 1
      System.err.println(s"[perfbench] operation failed: ${e.getClass.getName}: ${e.getMessage}")
      None
    }
  }

  /** The entry-boundary memo trim Bench applies, plus its accounting. */
  private def trim(spark: SparkSession): Unit = {
    val (n, freed) = AppCache.trimToBudget(spark, memoBudget)
    memoEvictions += n; memoFreed += freed
  }

  private def startSession(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // the same untimed-in-Bench warm-up shuffle, here part of set-up
    spark.range(100000).groupBy(pmod(col("id"), lit(7L))).count().count()
    tracer.attach(spark)
    spark
  }

  private def stopSession(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** A timed set-up: session start and its warm-up job. */
  private def setUp(): SparkSession = {
    val t0 = System.nanoTime()
    val spark = startSession()
    setups += (System.nanoTime() - t0) / 1e9
    spark
  }

  /** `round(seconds / nominalPass)` passes (at least one), each on a
    * fresh session (fresh memos), so every run of a workload does the
    * same work; then set-ups without a pass until there are three.
    * `warmUp` runs before the first pass and `afterFirst` after it, on
    * its session, neither timed. */
  private def loop(nominalPass: Double, warmUp: SparkSession => Unit = _ => (),
                   afterFirst: SparkSession => Unit = _ => ())
                  (pass: (SparkSession, Int) => Unit): Unit = {
    val n = math.max(1, math.round(seconds / nominalPass).toInt)
    for (i <- 0 until n) {
      val spark = setUp()
      if (i == 0) warmUp(spark)
      val (t0, c0) = (System.nanoTime(), processCpuNs())
      pass(spark, i)
      passes += (System.nanoTime() - t0) / 1e9
      passCpu += (processCpuNs() - c0) / 1e9
      liveHeap += liveHeapMb(spark)
      passExtra("core.memo_entries") = AppCache.allCachedValues.size.toDouble
      layers += tracer.snapshot(spark) ++ passExtra
      passExtra.clear()
      if (i == 0) afterFirst(spark)
      stopSession(spark)
    }
    while (setups.size < 3) stopSession(setUp())
  }

  def run(): Unit = {
    Files.createDirectories(work)
    val calibBefore = calibrate(cpus)
    workload match {
      case "lifecycle" => lifecycle()
      case "catalog" => catalog()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val calibAfter = calibrate(cpus)
    val out = Map(
      "setup_s" -> setups, "passes" -> passes, "pass_cpu_s" -> passCpu,
      "live_heap_mb" -> liveHeap, "ops" -> ops, "layers" -> layers,
      "checks" -> checks, "notes" -> notes,
      "attempted" -> attempted, "failed" -> failed,
      "memo_evictions" -> memoEvictions, "memo_freed_mb" -> memoFreed / 1048576.0,
      "calib_s" -> Seq(calibBefore, calibAfter), "peak_rss_mb" -> peakRssMb())
    println("PERFBENCH " + json(out))
  }

  // ---------------------------------------------------------------- lifecycle

  /** Injections 1..5, each built, appended and loaded; the fold-5
    * refresh (feature fold, link-prediction training, top-k for every
    * customer) completes fold 5. */
  private def lifecycle(): Unit = {
    val dirs = (1 to 5).map(d => s"$dataDir/inj$d")
    val store = work.resolve("store").toString
    val layersOfFoldFive: SparkSession => Unit = spark => if (traced) {
      foldFiveLayers(spark, store)
      layers(0) = layers(0) ++ tracer.snapshot(spark)
    }
    loop(nominalPass = 30, afterFirst = layersOfFoldFive) { (spark, passIdx) =>
      deleteTree(Paths.get(store))
      for (d <- 1 to 5) {
        val dir = dirs(d - 1)
        val res = op {
          val g = tracer.call(spark, "pipeline.build")(GraphBuilder.buildTpch(spark, dir))
          val delta = PropertyGraph(g.nodes.filter(col("dvid") === d),
            g.edges.filter(col("dvid") === d))
          tracer.call(spark, "pipeline.append")(Injections.append(delta, store))
          val (loaded, nNodes) = tracer.call(spark, "pipeline.load") {
            val l = Injections.load(spark, store); (l, l.nodes.count())
          }
          if (d < 5) None else Some(refresh(spark, dir, loaded, nNodes))
        }
        res.foreach { case (refreshed, wall) =>
          ops += Op(s"fold$d", wall, passIdx)
          refreshed.foreach { case (nNodes, nFeatures, gate, recs) =>
            passExtra("pipeline.fold_last_s") = wall
            // output checks, outside the timed fold
            if (nFeatures != nNodes)
              System.err.println(s"[perfbench] feature rows $nFeatures != nodes $nNodes")
            check("features_rows_eq_nodes", nFeatures == nNodes)
            val perCust = recs.groupBy(_.getAs[Long]("customer")).view.mapValues(_.length)
            val nCust = Tables.customer(spark, dir).count()
            check("recs_every_customer_at_most_3",
              perCust.size == nCust && perCust.values.forall(n => n >= 1 && n <= 3))
            notes("gate_pass") = gate
            notes("final_digest") = rowsDigest(recs)
          }
        }
        passExtra("pipeline.append_mb") = dirBytes(Paths.get(store)) / 1048576.0
        trim(spark)
      }
    }
  }

  private def refresh(spark: SparkSession, dir: String, g: PropertyGraph, nNodes: Long)
      : (Long, Long, Double, Array[Row]) = {
    val nFeatures = tracer.call(spark, "pipeline.featurefold")(
      FeatureFold.run(spark, g).features.count())
    val trainSet = tracer.call(spark, "ml.trainingset")(
      LinkPredict.trainingSetCached(spark, dir, cap = 20000))
    val model = tracer.call(spark, "ml.train")(LinkPredict.train(spark, trainSet, "lr"))
    val recs = tracer.call(spark, "recommend.topk_all")(
      Recommend.topK(spark, dir, "diverse", lit(true), queryMonth = 12).collect())
    (nNodes, nFeatures, model.metrics("gate_pass"), recs)
  }

  /** The layer functions FeatureFold composes, called one by one with
    * its arguments on the fold-5 graph (traced runs only, after the
    * first pass, outside its wall). */
  private def foldFiveLayers(spark: SparkSession, store: String): Unit = {
    val g = Injections.load(spark, store)
    val emb = tracer.call(spark, "graph.node2vec")(
      Node2Vec.embeddings(spark, g.edges.select("src", "dst"),
        Node2Vec.Params(numWalks = 2, walkLength = 6, dim = 16)).localCheckpoint(true))
    val sim = tracer.call(spark, "sim.knn")(
      Similarity.bruteForceTopK(emb, emb, "id", "embedding", 5, symmetric = true)
        .select(col("src"), col("dst"), col("cos").as("weight")).localCheckpoint(true))
    tracer.call(spark, "graph.louvain")(Louvain.detect(spark, sim, maxIter = 6).localCheckpoint(true))
    tracer.call(spark, "graph.degrees")(DegreeFeatures.degrees(g.edges).count())
  }

  // ------------------------------------------------------------------ catalog

  /** The strategies' serving slice, as the rec_q* entries filter it. */
  private val recSlice: Column = pmod(col("c_custkey"), lit(50)) === 1

  private def catalog(): Unit = {
    val dir = dataDir
    val moduleOf = catalogModules.flatMap { case (m, ks) => ks.map(_ -> m) }.toMap
    val entries = new scala.util.Random(seed).shuffle(Catalog.entries)
    notes("entries") = entries
    val out = work.resolve("oracle")
    // the JVM's first session runs one entry outside the set, untimed, so
    // the first measured entry does not absorb the operators' class
    // loading and code generation
    val warmUp: SparkSession => Unit = spark =>
      SparkEntry.queries(Catalog.warmUp)(spark, dir).write
        .parquet(work.resolve("warm-up").toString)
    // a served recommendation is the same whether its candidates come
    // from the memo or are rebuilt after the memos are dropped
    val sameOnHitAndMiss: SparkSession => Unit = spark => {
      def served(): String = rowsDigest(
        Recommend.topK(spark, dir, "diverse", recSlice, 12, 3, 2000).collect())
      val hit = served()
      AppCache.trimToBudget(spark, 0L)
      check("recommendation_same_on_memo_hit_and_miss", served() == hit)
    }
    loop(nominalPass = 20, warmUp, sameOnHitAndMiss) { (spark, passIdx) =>
      deleteTree(out)
      // the pass first fills the app-lifetime memos several entries share
      // (the graph, the purchase pairs, the strategies' candidates), so
      // no entry's wall depends on whether an entry before it built them
      GraphBuilder.fromTpch(spark, dir)
      tracer.call(spark, "core.pairs_build")(Links.purchasePairsNumeric(spark, dir))
      Recommend.candidates(spark, dir, recSlice, 2000)
      for (name <- entries) {
        val module = moduleOf.getOrElse(name, "unknown")
        val res = op(tracer.call(spark, s"catalog.$module")(
          SparkEntry.queries(name)(spark, dir).write.parquet(out.resolve(name).toString)))
        res.foreach { case (_, wall) => ops += Op(name, wall, passIdx) }
        trim(spark)
      }
    }
    val oracles = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"),
      json(entries.flatMap(n => oracles.get(n).map(n -> _)).toMap))
  }
}

/** The catalog workload's fixed entry set: a few entries of each catalog
  * module, spanning the relational, SQL-extension (plans), analytics,
  * event-window, text, multimodal, strategy, graph, model-metric and
  * skew-join operators. Entries that stage files under fixed paths
  * outside the working directory (the streaming e-family, the s-family
  * sinks, persisted model and index artifacts) are left out: a run may
  * write only inside its checkout. */
object Catalog {
  val entries: Seq[String] = Seq(
    "j1_full_outer_enrich", "sql_extension_fns",
    "a11_target_encoding", "e1_event_windows",
    "mm2_decode_features", "t5_corpus_filter",
    "rec_q0_candidate_stage", "rec_q1_diverse", "rec_q4_adam",
    "g2_louvain_communities", "m4b_metrics_deterministic",
    "j10_salted_skew_join")

  /** Run once per JVM before the first pass, not measured. */
  val warmUp = "a1_label_counts"
}
