package graft.graph

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** GraphX-backed analytics over the property graph (the survey's
  * "materialize GraphX from the node/edge DataFrames on demand" design,
  * SURVEY §1.4). The DataFrame tables stay canonical; GraphX is the
  * execution engine for genuinely iterative whole-graph algorithms the
  * relational planner can't express well: connected components, PageRank
  * (plus degrees for cross-checking A2).
  *
  * Vertex ids: GraphX needs Long ids — we key by xxhash64(id) and keep
  * the (hash → id) mapping as a DataFrame to translate results back.
  * Collision probability at 2^64 is negligible for any realistic graph;
  * the mapping join would surface one as a duplicate id downstream.
  */
object GraphXAnalytics {

  // clamped-stats lazy checkpoint for iterative loops: truncates the
  // round-over-round lineage AND stops size-stat estimates compounding
  // through the checkpoint (the BigInteger driver-burn pathology — see
  // GraftColumnBridge.localCheckpointClampedStats)
  private def ckpt(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftColumnBridge.localCheckpointClampedStats(df)

  // The (hash → id) translation table is consumed by every algorithm in
  // this file. For graphs built by a memoized builder (cacheToken set —
  // checkpoint-backed, app-lifetime frames) the distinct is computed
  // once, checkpoint-materialized, and shared under the token.
  // Token-less graphs (ad-hoc per-invocation builds like the dedup
  // cluster graphs) are computed fresh and NEVER cached: an
  // identity-hash key would retain their plans/arrays for the app's
  // lifetime and a recycled hash could alias a different graph.
  private def vertexMap(g: PropertyGraph): DataFrame = {
    def mk = g.nodes.select(col("id"), xxhash64(col("id")).as("vid")).distinct()
    g.cacheToken match {
      case Some(tok) =>
        graft.core.AppCache.memo(g.nodes.sparkSession, "graphx.vertexMap", tok) {
          // checkpoint before caching: the memo's value must be a
          // materialized frame (AppCache's invariant), not a lazy plan
          // whose distinct re-executes at every downstream action
          mk.localCheckpoint(true)
        }
      case None => mk
    }
  }

  /** Shared sub-threshold kernel input: the hashed edge list collected
    * once per graph instance — (srcA, dstA, sorted-distinct vids) — or
    * None when the graph exceeds `seqMaxEdges` (callers then take the
    * distributed GraphX path). CC, PageRank and the landmark BFS all
    * relax over exactly these arrays; before this memo each re-ran the
    * same count + collect + sort/dedup against the same memoized graph. */
  private def edgeArrays(g: PropertyGraph, seqMaxEdges: Long)
      : Option[(Array[Long], Array[Long], Array[Long])] = g.cacheToken match {
    case Some(tok) =>
      graft.core.AppCache.memo(g.edges.sparkSession, "graphx.edgeArrays",
          tok, seqMaxEdges) {
        collectEdgeArrays(g, seqMaxEdges)
      }
    case None => collectEdgeArrays(g, seqMaxEdges)
  }
  private def collectEdgeArrays(g: PropertyGraph, seqMaxEdges: Long)
      : Option[(Array[Long], Array[Long], Array[Long])] = {
      if (g.edges.count() > seqMaxEdges) None
      else {
        val rows = g.edges
          .select(xxhash64(col("src")).as("s"), xxhash64(col("dst")).as("d"))
          .collect()
        val m = rows.length
        val srcA = new Array[Long](m); val dstA = new Array[Long](m)
        var i = 0
        while (i < m) { srcA(i) = rows(i).getLong(0); dstA(i) = rows(i).getLong(1); i += 1 }
        val all = new Array[Long](2 * m)
        System.arraycopy(srcA, 0, all, 0, m)
        System.arraycopy(dstA, 0, all, m, m)
        java.util.Arrays.sort(all)
        var n = 0; var j = 0
        while (j < all.length) {
          if (n == 0 || all(j) != all(n - 1)) { all(n) = all(j); n += 1 }
          j += 1
        }
        Some((srcA, dstA, java.util.Arrays.copyOf(all, n)))
      }
    }

  /** Edge partition count for the GraphX legs, derived from edge MASS,
    * never inherited from the input's split layout. Iterative GraphX
    * jobs (CC's Pregel, staticPageRank) pay per-partition overheads —
    * routing tables, replicated vertex views, shuffle pieces — EVERY
    * round, so the scan layout of the SF directory must not leak into
    * the round cost: a single-file SF hands the union ~3 partitions
    * (under-using the host), a 32-file layout hands it ~100 (measured
    * at sf1: the same 7.7M-edge CC ran 2-3× slower than under the
    * single-file layout, round overhead ×30 partitions). ~1M edges
    * (~25 MB of (long,long,double)) per partition; the floor keeps
    * small graphs off a 1-task path, the ceiling scales with cluster
    * parallelism rather than a sandbox constant. */
  private def edgeParts(sc: org.apache.spark.SparkContext, m: Long): Int = {
    val bySize = ((m + 999999L) / 1000000L).toInt
    math.min(math.max(4, bySize), math.max(64, 4 * sc.defaultParallelism))
  }

  private def toGraphX(g: PropertyGraph): Graph[Unit, Double] = {
    val sc = g.edges.sparkSession.sparkContext
    // count is ~free for the checkpoint-backed memoized graphs, and the
    // one extra pass for ad-hoc graphs is noise next to the iterative
    // job the caller is about to run
    // weight column only when the edge frame HAS one: the full property
    // graph carries qty, but ad-hoc pair graphs (dedup/ER cluster edges:
    // src, dst, cos/dist) don't, and an unconditional col("qty") fails
    // ANALYSIS — a defect the dense union-find leg masked at every
    // shipped SF until d6/d9/d11 crossed the 5M-edge gate at sf10
    val w = if (g.edges.columns.contains("qty"))
      coalesce(col("qty"), lit(1.0)) else lit(1.0)
    val edgeRdd = g.edges
      .select(xxhash64(col("src")).as("s"), xxhash64(col("dst")).as("d"),
        w.as("w"))
      .repartition(edgeParts(sc, g.edges.count()))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getDouble(2)))
    Graph.fromEdges(edgeRdd, ())
  }

  /** One frontier-sparse HashMin phase over a SYMMETRIC long edge table
    * already hash-partitioned (src, W) and persisted. Returns
    * (state, converged) with state = (vid, lbl) pinned at (vid, W),
    * covering every edge endpoint; lbl = min vid reachable within
    * `maxRounds` hops (maxRounds <= 0: run to fixpoint, lbl = exact
    * component min). The seed counts as round 1: the table is
    * symmetric, so min-over-in-srcs grouped by dst equals
    * min-over-neighbors grouped by src — a groupBy on the edge table's
    * OWN partition key, zero exchange, which also enumerates the vertex
    * set for free. Each later round: probe the edges with only the
    * vertices whose label improved (co-partitioned shuffled-hash join,
    * build = frontier), exchange the offers by target — the single
    * per-round shuffle — take the plain long min, and fold into the
    * state with a co-partitioned left join. State checkpoints keep the
    * (vid, W) layout; the previous round's blocks are released inline. */
  private def hashMinPhase(spark: SparkSession, edgesSym: DataFrame, W: Int,
                           maxRounds: Int): (DataFrame, Boolean) = {
    val serLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
    val cand1 = edgesSym.groupBy("src").agg(min("dst").as("m"))
      .withColumnRenamed("src", "vid")
    var state = org.apache.spark.sql.GraftColumnBridge
      .checkpointKeepingPartitioning(
        cand1.select(col("vid"),
          least(col("vid"), col("m")).as("lbl"),
          (col("m") < col("vid")).as("ch")),
        serLevel, capStatsBytes = Some(1L << 40))
    var frontier = state.filter(col("ch")).select("vid", "lbl")
    var live = !frontier.isEmpty
    var r = 1
    while (live && (maxRounds <= 0 || r < maxRounds)) {
      val offers = edgesSym
        .join(frontier.withColumnRenamed("vid", "src")
          .hint("shuffle_hash"), "src")
        .select(col("dst").as("vid"), col("lbl").as("m"))
      val cand = offers.repartition(W, col("vid"))
        .groupBy("vid").agg(min("m").as("m"))
      val prev = state
      state = org.apache.spark.sql.GraftColumnBridge
        .checkpointKeepingPartitioning(
          prev.select("vid", "lbl")
            .join(cand.hint("shuffle_hash"), Seq("vid"), "left")
            .select(col("vid"),
              least(col("lbl"), coalesce(col("m"), col("lbl"))).as("lbl"),
              (col("m") < col("lbl")).as("ch")),
          serLevel, capStatsBytes = Some(1L << 40))
      frontier = state.filter(col("ch")).select("vid", "lbl")
      live = !frontier.isEmpty
      org.apache.spark.sql.GraftColumnBridge.releaseCheckpoint(prev)
      r += 1
    }
    (state.select("vid", "lbl"), !live)
  }

  /** Exact min-vid component labels for a SYMMETRIC long edge table
    * pinned (src, W) and persisted: run a short HashMin phase, and if it
    * has not converged, CONTRACT — relabel both endpoints with the
    * current state (the src leg co-partitioned, the dst leg paying the
    * one edge-mass re-key), drop intra-label edges, dedup — and recurse
    * on the quotient. Label groups are connected by the HashMin
    * invariant, so the quotient preserves components exactly, and its
    * vertices ARE labels (= vids), so the recursion's min-vid answers
    * compose by a single (label → component) map join — broadcast when
    * the quotient is small, shuffled otherwise. Phases are capped at
    * seed + 1 propagate round: on hub graphs one wave shrinks the
    * quotient by orders of magnitude, so spending more full-edge-mass
    * rounds before contracting is never worth it; depth ≥ 3 runs to
    * fixpoint instead (termination guarantee for adversarial chains). */
  private def ccSolve(spark: SparkSession, edgesSym: DataFrame, W: Int,
                      depth: Int): DataFrame = {
    val (s, conv) = hashMinPhase(spark, edgesSym, W,
      maxRounds = if (depth < 3) 2 else 0)
    if (conv) s
    else {
      val bySrc = edgesSym
        .join(s.withColumnRenamed("vid", "src").hint("shuffle_hash"), "src")
        .select(col("dst"), col("lbl").as("la"))
      val qEdges = bySrc.repartition(W, col("dst"))
        .join(s.withColumnRenamed("vid", "dst").hint("shuffle_hash"), "dst")
        .filter(col("la") =!= col("lbl"))
        .select(col("la").as("src"), col("lbl").as("dst"))
        .distinct() // symmetric by construction (edgesSym is)
        .repartition(W, col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qEdgeCount = qEdges.count()
      val solved = ccSolve(spark, qEdges, W, depth + 1)
      val qMap = solved.select(col("vid").as("lbl"), col("lbl").as("q"))
      // labels with no cross-label edge never enter the quotient and
      // keep themselves (left join + coalesce)
      val mapSide = if (qEdgeCount <= 2000000L) broadcast(qMap) else qMap
      val composed = s.join(mapSide, Seq("lbl"), "left")
        .select(col("vid"), coalesce(col("q"), col("lbl")).as("lbl"))
      qEdges.unpersist(blocking = false)
      composed
    }
  }

  /** Weakly connected components → (id, component) with the component
    * labeled by its lowest member id string (deterministic).
    *
    * Hybrid (same pattern as Louvain): below `seqMaxEdges` the hashed
    * edge list fits comfortably on the driver (16 bytes/edge → 80 MB at
    * the 5M default) and a union-find solves it in one pass — versus
    * O(diameter) Pregel rounds of RDD jobs that dominate wall time on
    * any graph this size. Above the threshold the GraphX path runs; the
    * two produce identical output (asserted in GraphXEnrichSpec). */
  def connectedComponents(spark: SparkSession, g: PropertyGraph,
                          seqMaxEdges: Long = 5000000L): DataFrame = {
    import spark.implicits._
    val cc: DataFrame = edgeArrays(g, seqMaxEdges) match {
      case Some((srcA, dstA, vids)) =>
        // primitive arrays throughout: a boxed-tuple + HashMap version
        // left ~300 MB of transient garbage on the driver, and the GC
        // pause taxed the queries that followed in the same session
        val m = srcA.length
        var i = 0
        def idx(v: Long): Int = java.util.Arrays.binarySearch(vids, v)
        val parent = Array.tabulate(vids.length)(identity)
        def find(x: Int): Int = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (c != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        i = 0
        while (i < m) {
          val ra = find(idx(srcA(i))); val rb = find(idx(dstA(i)))
          // vids is sorted, so the smaller index IS the smaller vid —
          // rooting at min keeps GraphX's min-vid component label
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          i += 1
        }
        val out = new Array[(Long, Long)](vids.length)
        i = 0
        while (i < vids.length) { out(i) = (vids(i), vids(find(i))); i += 1 }
        spark.createDataFrame(out.toSeq).toDF("vid", "component_vid")
      case None =>
        // Two-level frontier-sparse HashMin in DataFrames (r15). The
        // GraphX Pregel leg this replaces paid a per-round O(|E|)
        // replicated-vertex-view re-materialization (sf10: 106 s min /
        // 464 s cold). A first single-level HashMin cut per-round fixed
        // costs but kept Pregel's message volume — on this hub graph
        // the min label floods in waves, so vertices relabel ~2.6×
        // each and rounds 3-7 still scanned the full edge table
        // (sf10 probe: 77 s of rounds + 50 s edge build/seed = parity
        // with Pregel). This version attacks the total offer MASS:
        //   * ONE unified (key, W) hash layout for edges AND
        //     state. The edge table is symmetric (both directions), so
        //     the seed round — min over neighbors — is a groupBy on the
        //     edge table's own partition key: zero exchange, and every
        //     later frontier⋈edges probe is co-partitioned too. The
        //     only per-round exchange is the offers-by-target one that
        //     IS the message movement.
        //   * after the seed + 1 propagate round (labels = 2-hop-ball
        //     minima), CONTRACT and RECURSE on the label quotient
        //     (ccSolve): the late flooding waves never touch the full
        //     edge set again — each level's graph is orders of
        //     magnitude smaller (sf10 measured: 184M half-edges →
        //     quotient of ~10³).
        //   * labels are hashed-long vids: every min is a plain long
        //     min (HashAggregate with partial combine, no sorts).
        // Correctness: parity with the dense union-find is asserted in
        // GraphXEnrichSpec (forced-low gate), incl. a multi-wave path
        // graph that exercises the contraction.
        // mass-derived partition count: the PageRank/shortest-paths rule
        val W = edgeParts(spark.sparkContext, 2L * g.edges.count())
        // one memo scan: explode both directions instead of a 2-scan
        // union (the probe priced the build at 30 s of the 113 s entry)
        val edgesSym = g.edges
          .select(xxhash64(col("src")).as("s"), xxhash64(col("dst")).as("d"))
          .select(explode(array(
            struct(col("s").as("src"), col("d").as("dst")),
            struct(col("d").as("src"), col("s").as("dst")))).as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"))
          .repartition(W, col("src"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        edgesSym.count() // materialize before the rounds
        val labels = ccSolve(spark, edgesSym, W, depth = 0)
        edgesSym.unpersist(blocking = false)
        labels.select(col("vid"), col("lbl").as("component_vid"))
    }
    val vm = vertexMap(g)
    val withIds = cc.join(vm, "vid")
    val canon = withIds.groupBy("component_vid").agg(min("id").as("component"))
    withIds.join(canon, "component_vid").select(col("id"), col("component"))
  }

  /** PageRank (standard damping 0.15), translated back to string ids.
    *
    * Hybrid (same pattern as `connectedComponents`/Louvain): below
    * `seqMaxEdges` the hashed edge list collects to the driver
    * (16 bytes/edge) and the `iters` dense-array passes replace
    * `iters` rounds of RDD jobs whose per-round scheduling floor
    * dominates wall time at this size; above the threshold GraphX's
    * `staticPageRank` runs. Both compute the identical recurrence —
    * initial rank 1.0, `0.15 + 0.85·Σ rank/outdeg` per round over the
    * raw edge MULTISET, final ranks normalized to sum |V| — and agree
    * at the rounded-6 output (asserted in GraphXEnrichSpec; float sum
    * order is the only difference, exactly as for the SQL oracle). */
  def pageRank(spark: SparkSession, g: PropertyGraph, iters: Int = 10,
               seqMaxEdges: Long = 5000000L): DataFrame = {
    import spark.implicits._
    val pr: DataFrame = edgeArrays(g, seqMaxEdges) match {
      case Some((srcA, dstA, vids)) =>
        val m = srcA.length
        var i = 0
        val n = vids.length
        val srcI = new Array[Int](m); val dstI = new Array[Int](m)
        val outDeg = new Array[Int](n)
        i = 0
        while (i < m) {
          srcI(i) = java.util.Arrays.binarySearch(vids, srcA(i))
          dstI(i) = java.util.Arrays.binarySearch(vids, dstA(i))
          outDeg(srcI(i)) += 1
          i += 1
        }
        var rank = Array.fill(n)(1.0)
        var it = 0
        while (it < iters) {
          val contrib = new Array[Double](n)
          var e = 0
          while (e < m) { contrib(dstI(e)) += rank(srcI(e)) / outDeg(srcI(e)); e += 1 }
          val next = new Array[Double](n)
          var v = 0
          while (v < n) { next(v) = 0.15 + 0.85 * contrib(v); v += 1 }
          rank = next
          it += 1
        }
        // PageRank.normalizeRankSum (non-personalized): scale to sum |V|
        var s = 0.0; i = 0
        while (i < n) { s += rank(i); i += 1 }
        val scale = n / s
        val out = new Array[(Long, Double)](n)
        i = 0
        while (i < n) { out(i) = (vids(i), rank(i) * scale); i += 1 }
        spark.createDataFrame(out.toSeq).toDF("vid", "rank")
      case None =>
        toGraphX(g).staticPageRank(iters).vertices.toDF("vid", "rank")
    }
    pr.join(vertexMap(g), "vid")
      .select(col("id"), round(col("rank"), 6).as("rank"))
  }

  /** Personalized PageRank (random walk with restart) over an arbitrary
    * (src, dst) string-id edge DataFrame: r' = 0.15·pref + 0.85·Σ r/deg
    * with the whole restart mass on `seedId`. Unrounded ranks; callers
    * round for presentation.
    *
    * Hybrid on the pageRank pattern: below `seqMaxEdges` the edge list
    * collects to the driver and `iters` dense passes replace `iters`
    * rounds of shuffle jobs whose scheduling floor dominates at this
    * size; above it, the same synchronous recurrence runs as one
    * groupBy-shuffle per round over checkpointed static sides (edges /
    * degree / preference), lineage truncated round-by-round. Both paths
    * compute the identical recurrence; float sum order is the only
    * difference, absorbed by the callers' 6-decimal rounding. */
  def personalizedPageRank(spark: SparkSession, edges: DataFrame,
                           seedId: String, iters: Int = 5,
                           seqMaxEdges: Long = 5000000L): DataFrame = {
    import spark.implicits._
    if (edges.count() <= seqMaxEdges) {
      val rows = edges.select(col("src").cast("string"),
        col("dst").cast("string")).collect()
      val m = rows.length
      val idx = new java.util.HashMap[String, Integer](2 * m)
      val ids = new scala.collection.mutable.ArrayBuffer[String]()
      def of(s: String): Int = {
        val got = idx.get(s)
        if (got != null) got.intValue()
        else { val i = ids.length; idx.put(s, i); ids += s; i }
      }
      val srcI = new Array[Int](m); val dstI = new Array[Int](m)
      var e = 0
      while (e < m) {
        srcI(e) = of(rows(e).getString(0)); dstI(e) = of(rows(e).getString(1))
        e += 1
      }
      val n = ids.length
      val outDeg = new Array[Int](n)
      e = 0; while (e < m) { outDeg(srcI(e)) += 1; e += 1 }
      val seedIdx = { val s = idx.get(seedId); if (s == null) -1 else s.intValue() }
      require(seedIdx >= 0, s"PPR seed '$seedId' not present in the edge set")
      var rank = new Array[Double](n); rank(seedIdx) = 1.0
      var it = 0
      while (it < iters) {
        val contrib = new Array[Double](n)
        e = 0
        while (e < m) { contrib(dstI(e)) += rank(srcI(e)) / outDeg(srcI(e)); e += 1 }
        val next = new Array[Double](n)
        var v = 0
        while (v < n) { next(v) = 0.85 * contrib(v); v += 1 }
        next(seedIdx) += 0.15
        rank = next
        it += 1
      }
      (0 until n).map(v => (ids(v), rank(v))).toDF("id", "rank")
    } else {
      val ed = ckpt(edges.select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst")))
      val deg = ckpt(ed.groupBy("src").agg(count(lit(1)).as("od"))
        .select(col("src").as("deg_id"), col("od")))
      // vertex set = src ∪ dst, matching the dense path: a dst-only
      // (dangling) vertex still accrues walk mass even though it
      // contributes none back
      val pref0 = ed.select(col("src").as("id"))
        .union(ed.select(col("dst").as("id"))).distinct()
        .select(col("id"),
          when(col("id") === seedId, 1.0).otherwise(0.0).as("pref"))
      val prefCk = ckpt(pref0)
      val pref = prefCk
      require(pref.filter(col("id") === seedId).limit(1).count() == 1,
        s"PPR seed '$seedId' not present in the edge set")
      var rank = pref.select(col("id"), col("pref").as("rank"))
      var it = 0
      while (it < iters) {
        val contrib = ed
          .join(rank.select(col("id").as("rank_id"), col("rank")),
            col("src") === col("rank_id"))
          .join(deg, col("src") === col("deg_id"))
          .groupBy(col("dst")).agg(sum(col("rank") / col("od")).as("s"))
        rank = ckpt(pref.join(contrib, col("id") === col("dst"), "left")
          .select(col("id"),
            (lit(0.15) * col("pref") +
              lit(0.85) * coalesce(col("s"), lit(0.0))).as("rank")))
        it += 1
      }
      rank
    }
  }

  /** Triangle count per vertex over an arbitrary (src, dst) edge
    * DataFrame, treated as undirected (GraphX canonicalizes + dedups
    * internally). Ids of any type — hashed via their string form to
    * GraphX Long vertex ids, translated back through the kept mapping.
    *
    * The dense leg collects the hashed edge list into boxed driver
    * structures (HashSet of pairs + adjacency arrays, ~100–150 B/edge
    * with JVM overhead), so the default gate is sized for a default
    * driver heap: 2.5M edges ≈ 300 MB worst case (the PPR dense-pair
    * budget, not the 16 B/edge primitive-array gate CC/PageRank use).
    * Callers with a fat driver may raise it. The gate is a PLAIN count
    * of the hashed projection — one streamed pass that pins nothing —
    * so the distributed leg hands GraphX a lazy projection it streams
    * into its own edge partitions (an eager checkpoint here would hold
    * the entire 100 TB-scale edge set resident BEFORE GraphX even
    * starts); the dense leg pays one recount in collect(), bounded by
    * the gate itself (≤ seqMaxEdges rows — and the catalog's inputs are
    * app-memoized upstream, so the re-derivation is a cache read). */
  def triangles(spark: SparkSession, edges: DataFrame,
                seqMaxEdges: Long = 2500000L): DataFrame = {
    import spark.implicits._
    val vm = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id"))).distinct()
      .select(col("id"), xxhash64(col("id").cast("string")).as("vid"))
    val hashed = edges
      .select(xxhash64(col("src").cast("string")).as("s"),
        xxhash64(col("dst").cast("string")).as("d"))
    val edgeCount = hashed.count()
    val counted: DataFrame = if (edgeCount <= seqMaxEdges) {
      // Hybrid dense leg (same gate as CC/PageRank/BFS): the hashed
      // canonical edge set fits on the driver, and sorted-adjacency
      // intersection counts every vertex's triangles in one pass —
      // per edge (u,v), |N(u)∩N(v)| accumulates on both endpoints, and
      // each triangle contributes exactly 2 to each of its vertices
      // (one per incident edge), so tri(v) = acc(v)/2. Semantics match
      // GraphX triangleCount: direction-canonicalized, self-loops and
      // duplicate edges dropped.
      val rows = hashed.collect()
      val canon = scala.collection.mutable.HashSet.empty[(Long, Long)]
      rows.foreach { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        if (a != b) canon += ((math.min(a, b), math.max(a, b)))
      }
      val adjB = scala.collection.mutable.HashMap
        .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
      def nb(v: Long) =
        adjB.getOrElseUpdate(v, scala.collection.mutable.ArrayBuffer.empty[Long])
      canon.foreach { case (a, b) => nb(a) += b; nb(b) += a }
      val adj = adjB.map { case (v, ns) => v -> ns.toArray.sorted }
      def common(x: Array[Long], y: Array[Long]): Long = {
        var i = 0; var j = 0; var c = 0L
        while (i < x.length && j < y.length) {
          if (x(i) == y(j)) { c += 1; i += 1; j += 1 }
          else if (x(i) < y(j)) i += 1 else j += 1
        }
        c
      }
      val acc = scala.collection.mutable.HashMap.empty[Long, Long]
        .withDefaultValue(0L)
      canon.foreach { case (a, b) =>
        val c = common(adj(a), adj(b))
        if (c > 0) { acc(a) += c; acc(b) += c }
      }
      // every endpoint reports, zero-triangle vertices included (even
      // self-loop-only ones, which have no adjacency) — exactly
      // GraphX's triangleCount().vertices coverage
      val verts = scala.collection.mutable.HashSet.empty[Long]
      rows.foreach { r => verts += r.getLong(0); verts += r.getLong(1) }
      verts.iterator.map(v => (v, acc(v) / 2)).toSeq.toDF("vid", "tri")
    } else {
      // same mass-derived partitioning as toGraphX: triangleCount's
      // adjacency exchange pays per-partition costs the scan layout
      // must not dictate
      val edgeRdd = hashed
        .repartition(edgeParts(spark.sparkContext, edgeCount))
        .rdd.map(r => Edge(r.getLong(0), r.getLong(1), ()))
      Graph.fromEdges(edgeRdd, ()).triangleCount().vertices.toDF("vid", "tri")
    }
    counted.join(vm, "vid")
      .select(col("id"), col("tri").cast("long").as("triangles"))
  }

  /** Deterministic synchronous label propagation (the LPA community
    * substitute SURVEY §2.10 notes for G2): labels start as own id;
    * each round every vertex adopts the most frequent label among its
    * neighbors, ties broken by the smaller label. Unlike GraphX's
    * LabelPropagation (hash-map merge, unspecified tie order) this is
    * fully deterministic and therefore SQL-replayable round by round.
    * Edges are treated as an undirected DISTINCT pair set. One shuffle
    * per round (the neighbor-label groupBy); lineage truncated per
    * round. */
  def labelPropagation(spark: SparkSession, edges: DataFrame,
                       rounds: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und = ckpt(edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val verts = und.select(col("src").as("id")).distinct()
    var labels = verts.select(col("id"), col("id").as("lbl"))
    val w = Window.partitionBy("id").orderBy(desc("cnt"), asc("lbl"))
    for (_ <- 1 to rounds) {
      val prevLabels = labels
      labels = und
        .join(prevLabels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("id", "lbl")
      labels = ckpt(labels)
    }
    labels
  }

  /** k-core peeling, `rounds` synchronous iterations: each round drops
    * every vertex whose degree in the SURVIVING subgraph is < k, then
    * restricts the edge set to survivors. A fixed round count (rather
    * than run-to-fixpoint) keeps the operator's cost bounded and its
    * result exactly SQL-replayable; on graphs whose peeling converges
    * faster the extra rounds are no-ops. Edges are undirected DISTINCT
    * pairs; one degree-aggregate shuffle per round. */
  def kCore(spark: SparkSession, edges: DataFrame, k: Int,
            rounds: Int = 6): DataFrame = {
    var und = ckpt(edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    for (_ <- 1 to rounds) {
      val keep = und.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("id")
      und = ckpt(und
        .join(keep.withColumnRenamed("id", "src"), "src")
        .join(keep.withColumnRenamed("id", "dst"), "dst")
        .select("src", "dst"))
    }
    und.groupBy(col("src").as("id")).agg(count(lit(1)).as("core_degree"))
  }

  /** GraphX total degrees — cross-checks the DataFrame A2 operator. */
  def degrees(spark: SparkSession, g: PropertyGraph): DataFrame = {
    import spark.implicits._
    toGraphX(g).degrees.toDF("vid", "degree")
      .join(vertexMap(g), "vid")
      .select(col("id"), col("degree").cast("long").as("degree"))
  }

  /** Multi-source BFS: undirected hop distance from every vertex to its
    * nearest hub vertex (ids starting with `hubPrefix`), with a min-id
    * tie-break among equidistant hubs, search radius bounded at
    * `rounds`. Unreachable-within-radius vertices are omitted.
    *
    * Both paths run SYNCHRONOUS (Jacobi) relaxation — state after round
    * r is the min over all paths of length ≤ r — so a fixed `rounds`
    * yields identical output from the kernel, Pregel, and the oracle's
    * unrolled-SQL rounds even if the graph hasn't converged.
    *
    * Hybrid (the CC/PageRank pattern): below `seqMaxEdges` the string
    * edge list collects to the driver and relaxes over int arrays;
    * above, a frontier-sparse DataFrame relaxation over the hashed
    * edge table (r14 — it replaced the GraphX Pregel leg after the
    * sf10 probes showed Pregel's per-round O(|E|) graph
    * re-materialization, not message bytes, was the catalog's one
    * multi-minute straggler; see the leg's comment).
    *
    * Landmark index (both legs): the ≤|hubs| (id, hash) pairs come down
    * ONCE, sorted lexicographically, so hub rank Int compares ARE the
    * min-hub-id tie-break; the rank→id translation happens only at the
    * readout — per-round state is a fixed-width (dist Int, rank Int)
    * pair, never a string. */
  def shortestPaths(spark: SparkSession, g: PropertyGraph, hubPrefix: String,
                    rounds: Int = 8, seqMaxEdges: Long = 5000000L): DataFrame = {
    import spark.implicits._
    // hub rank = lexicographic id order (the single |hubs|-row collect
    // shared by both legs; broadcast-bound)
    val hubIds = g.nodes.filter(col("id").startsWith(hubPrefix))
      .select(col("id"), xxhash64(col("id")).as("vid")).collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val hubStr = hubIds.map(_._1)
    val sp: DataFrame = edgeArrays(g, seqMaxEdges) match {
      case Some((srcA, dstA, vids)) =>
        // hashed-long edges (16 bytes each, the shared CC/PageRank
        // collect)
        val m = srcA.length
        var i = 0
        val n = vids.length
        val srcI = new Array[Int](m); val dstI = new Array[Int](m)
        i = 0
        while (i < m) {
          srcI(i) = java.util.Arrays.binarySearch(vids, srcA(i))
          dstI(i) = java.util.Arrays.binarySearch(vids, dstA(i))
          i += 1
        }
        var dist = Array.fill(n)(Int.MaxValue)
        var hub = Array.fill(n)(Int.MaxValue)
        hubIds.zipWithIndex.foreach { case ((_, vid), rank) =>
          val ix = java.util.Arrays.binarySearch(vids, vid)
          if (ix >= 0) { dist(ix) = 0; hub(ix) = rank }
        }
        var r = 0
        while (r < rounds) {
          val nd = dist.clone(); val nh = hub.clone()
          var e = 0
          while (e < m) {
            val a = srcI(e); val b = dstI(e)
            if (dist(a) != Int.MaxValue) {
              val cd = dist(a) + 1
              if (cd < nd(b) || (cd == nd(b) && hub(a) < nh(b))) { nd(b) = cd; nh(b) = hub(a) }
            }
            if (dist(b) != Int.MaxValue) {
              val cd = dist(b) + 1
              if (cd < nd(a) || (cd == nd(a) && hub(b) < nh(a))) { nd(a) = cd; nh(a) = hub(b) }
            }
            e += 1
          }
          dist = nd; hub = nh
          r += 1
        }
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, String)]
        i = 0
        while (i < n) {
          if (dist(i) != Int.MaxValue) out += ((vids(i), dist(i), hubStr(hub(i))))
          i += 1
        }
        spark.createDataFrame(out.toSeq).toDF("vid", "dist", "hub")
          .join(vertexMap(g), "vid")
          .select(col("id"), col("dist"), col("hub"))
      case None =>
        // Layered frontier BFS in DataFrames (r14, second iteration).
        // The r13 landmark-index messages fixed the Pregel payload
        // BYTES, but the sf10 re-probe showed the binding constraint
        // at 60M edges is Pregel itself: every round rebuilds the
        // replicated vertex view and re-caches it through the block
        // manager - O(|E|) materialization per round regardless of
        // frontier size, serialized in local mode on the one shared
        // MemoryStore (jstack: 26/32 executor threads queued on
        // reserveUnrollMemoryForThisTask; still >45 min). A first
        // DataFrame cut kept a full |V|-row state table folded by
        // full_outer join each round; its executed round plan
        // showed that costs two |E|-scale SORTS per round (min over a
        // struct compiles to SortAggregate, not HashAggregate) plus a
        // |V| re-exchange per round (a FullOuter shuffled join reports
        // UnknownPartitioning, so the partition stamp can never stick).
        //
        // This leg exploits the BFS metric instead. With unit weights
        // and synchronous rounds, a vertex's (dist, rank) is FINAL in
        // the round it is first reached: every dist-d vertex receives
        // ALL its offers (from the complete dist-(d-1) layer) in round
        // d, so settled state is append-only and the frontier is
        // exactly the new layer. Consequences, each load-bearing:
        //   * candidates can only collide with layers d-2 and d-1
        //     (adjacent BFS levels differ by at most 1), so dropping
        //     already-settled candidates is TWO layer-sized anti-joins,
        //     never a |V|-row state scan;
        //   * (dist, rank) packs into one long (dist<<32 | rank) whose
        //     lexicographic min is a plain long min - HashAggregate
        //     with map-side partial combine, no sorts anywhere;
        //   * total work across ALL rounds is one pass over the edges
        //     (each vertex's in-offers arrive in exactly one round)
        //     plus one |V| of checkpoint bytes - the fixed `rounds` cap
        //     only truncates layers past the radius, identical to the
        //     Jacobi prefix the dense kernel and the oracle compute.
        // Everything is pinned to one (vid, shuffleP) hash layout: the
        // groupBy lands there and the layer checkpoints stamp it
        // (checkpointKeepingPartitioning), so the per-round anti-joins
        // run exchange-free - only messages ever move.
        val shuffleP = spark.sessionState.conf.numShufflePartitions
        val oneWay = g.edges.select(
          xxhash64(col("src")).as("s"), xxhash64(col("dst")).as("d"))
        val serLevel = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
        // mass-derived partition count (the CC/PageRank rule), and the
        // COLUMNAR cache rather than a checkpoint - the sf10 probes
        // walked through every materialization strategy for this table:
        // values-mode checkpoint blocks serialized all executor threads
        // on the MemoryStore unroll lock; serialized-row checkpoint
        // blocks fixed that but the eager checkpoint's per-row
        // UnsafeRow.copy allocated 184M short-lived objects, and jstat
        // showed the 64g young gen absorbing it as ~8 s collections
        // (160 s of GC before round 1 started). persist() builds
        // compressed columnar batches instead (batched, no per-row
        // copy), decompresses faster than Kryo row blocks on every
        // round's re-scan, and - because Spark leaves cached-plan
        // output partitioning alone by default
        // (spark.sql.optimizer.canChangeCachedPlanOutputPartitioning) -
        // the cached scan still reports the exact HashPartitioning
        // (src, edgeParts) the repartition built, so every round's
        // probe join stays exchange-free on the edge side. Lineage
        // here is flat (memo scan + union + one exchange), so the
        // checkpoint's lineage-cutting isn't needed.
        val edgesBoth = oneWay
          .union(oneWay.select(col("d").as("s"), col("s").as("d")))
          .toDF("src", "dst")
          .repartition(edgeParts(spark.sparkContext, 2L * g.edges.count()),
            col("src"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        edgesBoth.count() // materialize before the rounds
        val hubRank = hubIds.zipWithIndex
          .map { case ((_, vid), rk) => (vid, rk) }.toSeq.toDF("vid", "rank")
        // layer rows are (vid, packed) with packed = dist.toLong<<32 |
        // rank - decoded once at the readout
        val two32 = 4294967296L
        // the GraphX graph contains only edge ENDPOINTS - an isolated
        // hub must not surface from this leg either (kernel parity).
        // Broadcast the <=|hubs| ranks against one edge pass instead of
        // distinct-ing 2|E| endpoint rows to then keep ~30 of them (the
        // sf10 probe priced that warm-up distinct as a full edge-mass
        // shuffle before round 1 even started).
        val layer0 = org.apache.spark.sql.GraftColumnBridge
          .checkpointKeepingPartitioning(edgesBoth
            .join(broadcast(hubRank), edgesBoth("src") === hubRank("vid"))
            .select(col("vid"), col("rank").cast("long").as("packed"))
            .distinct()
            .repartition(shuffleP, col("vid")),
            serLevel, capStatsBytes = Some(1L << 40))
        val layers = scala.collection.mutable.ArrayBuffer[DataFrame](layer0)
        var frontier = layer0
        var live = !frontier.isEmpty
        var r = 0
        while (r < rounds && live) {
          val offers = edgesBoth
            .join(frontier.withColumnRenamed("vid", "src")
              .hint("shuffle_hash"), "src")
            .select(col("dst").as("vid"), (col("packed") + two32).as("packed"))
          // exchange the raw offers ONCE by target, prune settled
          // targets BEFORE aggregating (anti and min-by-key commute
          // exactly: the anti drops whole keys), THEN take the min.
          // Order matters at scale: most offers target the previous
          // layer itself (every frontier vertex offers back across the
          // edge it was reached on), so aggregating first churns a
          // BytesToBytesMap over frontier-cardinality keys per task
          // (sf10 jstack: growAndRehash dominating all 32 threads)
          // while pruning first drops them with read-only hash probes
          // and leaves the agg map holding only new-layer keys —
          // co-partitioned input, so the partial phase already fully
          // reduces and no second exchange exists.
          val pruned = layers.takeRight(2).foldLeft(
              offers.repartition(shuffleP, col("vid"))) { (acc, layer) =>
            acc.join(layer.select("vid").hint("shuffle_hash"),
              Seq("vid"), "left_anti")
          }
          val newly = pruned.groupBy("vid").agg(min("packed").as("packed"))
          val layerCk = org.apache.spark.sql.GraftColumnBridge
            .checkpointKeepingPartitioning(newly, serLevel,
              capStatsBytes = Some(1L << 40))
          live = !layerCk.isEmpty
          if (live) layers += layerCk
          frontier = layerCk
          r += 1
        }
        edgesBoth.unpersist(blocking = false)
        val rankToHub = hubIds.zipWithIndex
          .map { case ((id, _), rk) => (rk, id) }.toSeq.toDF("rank", "hub")
        layers.reduce(_ union _)
          .select(col("vid"),
            shiftright(col("packed"), 32).cast("int").as("dist"),
            (col("packed") % two32).cast("int").as("rank"))
          .join(broadcast(rankToHub), "rank")
          .join(vertexMap(g), "vid")
          .select(col("id"), col("dist"), col("hub"))
    }
    sp.orderBy("id")
  }
}
