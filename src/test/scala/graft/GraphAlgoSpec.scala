package graft

import org.apache.spark.sql.functions._
import graft.graph.{Louvain, Node2Vec}

class GraphAlgoSpec extends SparkSpec {
  import spark.implicits._

  /** Two well-separated cliques — Louvain must find exactly them. */
  private def twoCliques = {
    val c1 = for (a <- 1 to 5; b <- 1 to 5 if a < b) yield (s"a$a", s"a$b", 1.0)
    val c2 = for (a <- 1 to 5; b <- 1 to 5 if a < b) yield (s"b$a", s"b$b", 1.0)
    val bridge = Seq(("a1", "b1", 0.01))
    (c1 ++ c2 ++ bridge).toDF("src", "dst", "weight")
  }

  test("Louvain separates two cliques and is deterministic") {
    val edges = twoCliques
    val comm = Louvain.detect(spark, edges, maxIter = 8).cache()
    val groups = comm.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val aComms = (1 to 5).map(i => groups(s"a$i")).toSet
    val bComms = (1 to 5).map(i => groups(s"b$i")).toSet
    assert(aComms.size === 1, s"clique A split: $aComms")
    assert(bComms.size === 1, s"clique B split: $bComms")
    assert(aComms != bComms, "cliques merged")
    // determinism
    val again = Louvain.detect(spark, edges, maxIter = 8).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again === groups)
    // quality gate
    val q = Louvain.modularity(spark, edges, comm)
    assert(q > 0.3, s"modularity too low: $q")
  }

  test("Louvain distributed path (hybrid threshold 0) matches the clique structure") {
    val edges = twoCliques
    val comm = Louvain.detect(spark, edges, maxIter = 8, seqMaxEdges = 0L).cache()
    val groups = comm.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert((1 to 5).map(i => groups(s"a$i")).toSet.size === 1)
    assert((1 to 5).map(i => groups(s"b$i")).toSet.size === 1)
    assert(groups("a1") != groups("b1"), "cliques merged")
    assert(Louvain.modularity(spark, edges, comm) > 0.3)
  }


  /** Ring of 8 twelve-node cliques joined by weak bridges — big enough
    * that the distributed leg runs multiple genuine move rounds and two
    * levels, structured enough that the correct answer is exact. */
  private def cliqueRing = {
    val intra = for (c <- 0 until 8; a <- 0 until 12; b <- 0 until 12 if a < b)
      yield (f"c$c%d_n$a%02d", f"c$c%d_n$b%02d", 1.0)
    val bridges = for (c <- 0 until 8)
      yield (f"c$c%d_n00", f"c${(c + 1) % 8}%d_n01", 0.01)
    (intra ++ bridges).toDF("src", "dst", "weight")
  }

  test("Louvain distributed-leg parity: the forced leg recovers the ring's cliques exactly, deterministically") {
    // parity harness for the per-round job-count refactor: the forced
    // leg's OUTPUT (exact canonical partition) on a gate-crossing graph
    // is pinned; any cadence/fusion change to localMoves must reproduce
    // it bit-for-bit
    val edges = cliqueRing
    val comm = Louvain.detect(spark, edges, maxIter = 8, seqMaxEdges = 0L)
      .cache()
    val groups = comm.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val byClique = (0 until 8).map { c =>
      (0 until 12).map(n => groups(f"c$c%d_n$n%02d")).toSet
    }
    byClique.zipWithIndex.foreach { case (cs, i) =>
      assert(cs.size === 1, s"clique $i split across $cs")
    }
    assert(byClique.flatten.toSet.size === 8,
      s"cliques merged: ${byClique.flatten.toSet}")
    // canonical labels are min-id per community: pinned exactly
    (0 until 8).foreach { c =>
      assert(groups(f"c$c%d_n00") === f"c$c%d_n00", "canonical label drifted")
    }
    val again = Louvain.detect(spark, edges, maxIter = 8, seqMaxEdges = 0L)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(again === groups, "forced leg is not deterministic")
  }

  test("Louvain on the sf0.001 similarity graph yields positive modularity") {
    val e = graft.core.Tables.embeddings(spark, sfDir)
    val sim = graft.sim.Similarity.bruteForceTopK(e, e, "vec_id", "embedding", 5)
      .select($"src".cast("string").as("src"), $"dst".cast("string").as("dst"),
        $"cos".as("weight"))
    val comm = Louvain.detect(spark, sim, maxIter = 6).cache()
    assert(comm.select("community").distinct().count() > 1)
    assert(Louvain.modularity(spark, sim, comm) > 0.0)
  }

  test("node2vec walks stay on the graph and have the right length") {
    val edges = twoCliques.select("src", "dst")
    val prm = Node2Vec.Params(numWalks = 2, walkLength = 5, dim = 8)
    val w = Node2Vec.walks(spark, edges, prm).cache()
    assert(w.count() === 10 * 2) // 10 nodes × 2 walks
    val lens = w.select(size($"walk").as("l")).distinct().collect().map(_.getInt(0))
    assert(lens.toSeq === Seq(5))
    // consecutive steps are actual edges
    val nbrs = Node2Vec.neighborTable(edges).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1).toSet).toMap
    val bad = w.select("walk").as[Seq[String]].collect().flatMap { p =>
      p.sliding(2).filter(s => !nbrs(s.head).contains(s(1)))
    }
    assert(bad.isEmpty, s"walk used non-edges: ${bad.take(3).toSeq}")
    // determinism
    val w2 = Node2Vec.walks(spark, edges, prm).select("walk_id", "walk")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    val w1 = w.select("walk_id", "walk")
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(w1 === w2)
  }

  /** The clique ring with long ids (clique c, node n → 100·c + n). */
  private def cliqueRingLongs = {
    val intra = for (c <- 0 until 8; a <- 0 until 12; b <- 0 until 12 if a < b)
      yield (100L * c + a, 100L * c + b)
    val bridges = for (c <- 0 until 8) yield (100L * c, 100L * ((c + 1) % 8) + 1)
    (intra ++ bridges).toDF("src", "dst")
  }

  /** A strongly biased walk: returning (1/p) and outward (1/q) steps
    * weigh far from the in-neighborhood weight 1. */
  private val biased = Node2Vec.Params(numWalks = 3, walkLength = 8, p = 4.0, q = 0.25, dim = 8)

  test("node2vec string-id walks follow the p/q rule at every step, in both walk shapes") {
    // regression: the string-id step picked through a lambda whose prev
    // resolved to the step select's own output alias (cur AS prev), so
    // the return step weighed 1/q instead of 1/p. Every step of every
    // walk is re-derived here from its path, with the rule evaluated in
    // a select whose lambda names no output alias.
    import graft.functions.ColFns
    val edges = cliqueRing.select("src", "dst")
    val nb = Node2Vec.neighborTable(edges)
    val len = biased.walkLength
    for (budget <- Seq(0L, 2000000L)) {
      val w = Node2Vec.walks(spark, edges, biased, budget)
      assert(w.count() === 96 * biased.numWalks)
      val steps = w.select($"walk_id", $"walk",
          explode(sequence(lit(2), lit(len - 1))).as("s"))
        .select($"walk_id", $"s",
          element_at($"walk", $"s" - 1).as("p_id"),
          element_at($"walk", $"s").as("c_id"),
          element_at($"walk", $"s" + 1).as("actual"))
        .join(nb.select($"src".as("c_id"), $"nbrs".as("c_nbrs")), "c_id")
        .join(nb.select($"src".as("p_id"), $"nbrs".as("p_nbrs")), "p_id")
      def pick(weighted: Boolean) = array_min(transform($"c_nbrs", c => {
        val wt =
          if (!weighted) lit(1.0)
          else when(c === $"p_id", lit(1.0 / biased.p))
            .when(array_contains($"p_nbrs", c), lit(1.0))
            .otherwise(lit(1.0 / biased.q))
        val u = ColFns.pseudoUniform(xxhash64($"walk_id", $"s", c), biased.seed)
        struct((-log(u + lit(1e-12)) / wt).as("key"), c.as("pick"))
      })).getField("pick")
      val checked = steps.select($"walk_id", $"s", $"actual",
          pick(weighted = true).as("expected"), pick(weighted = false).as("uniform"))
        .cache()
      assert(checked.count() === 96 * biased.numWalks * (len - 2))
      // the rule is not vacuous here: a uniform walk would differ
      assert(checked.filter($"expected" =!= $"uniform").count() > 0)
      val bad = checked.filter(!($"actual" <=> $"expected")).orderBy("walk_id", "s")
        .limit(3).collect()
      assert(bad.isEmpty, s"budget $budget: steps off the p/q rule: ${bad.toSeq}")
      checked.unpersist()
    }
  }

  test("node2vec: the in-memory walk kernel equals the join chain, row for row in each partition") {
    for (edges <- Seq(cliqueRing.select("src", "dst"), cliqueRingLongs)) {
      val kernel = Node2Vec.walks(spark, edges, biased)
      val chain = Node2Vec.walks(spark, edges, biased, broadcastMaxNodes = 0L)
      assert(kernel.schema === chain.schema)
      val k = kernel.rdd.glom().collect().map(_.toSeq).toSeq
      val c = chain.rdd.glom().collect().map(_.toSeq).toSeq
      assert(k.map(_.size) === c.map(_.size), "partition sizes differ")
      assert(k === c, "walks differ")
      // Word2Vec repartitions by row position, so equal layouts give
      // equal embeddings. One training partition: with several, MLlib
      // merges float partials in task-completion order and two fits of
      // the same walks already differ.
      val one = biased.copy(w2vPartitions = 1)
      val ek = Node2Vec.embeddings(spark, edges, one).orderBy("id").collect().toSeq
      val ec = Node2Vec.embeddings(spark, edges, one, broadcastMaxNodes = 0L)
        .orderBy("id").collect().toSeq
      assert(ek === ec, "embeddings differ")
    }
  }

  test("node2vec embeddings have requested dimension and cover all nodes") {
    val edges = twoCliques.select("src", "dst")
    val emb = Node2Vec.embeddings(spark, edges,
      Node2Vec.Params(numWalks = 4, walkLength = 6, dim = 8)).cache()
    assert(emb.count() === 10)
    assert(emb.select(size($"embedding")).distinct().head().getInt(0) === 8)
  }

  test("personalized PageRank recommends only unpurchased products, ranked") {
    val df = SparkEntry.queries("gx_ppr_recommend")(spark, sfDir).cache()
    try {
      val rows = df.as[(Long, Double)].collect()
      assert(rows.length === 20)
      // restart mass decays with distance but never vanishes on a
      // reachable product
      assert(rows.forall(_._2 > 0.0))
      // output is ranked: non-increasing rank, id-ascending within ties
      rows.sliding(2).foreach { case Array((pa, ra), (pb, rb)) =>
        assert(rb < ra || (rb == ra && pb > pa), s"order broken at $pa/$pb")
      }
      // the seed's own purchases are excluded
      val pp = graft.graph.Links.purchasePairsNumeric(spark, sfDir)
      val seed = pp.groupBy("customer")
        .agg(countDistinct("product").as("np"))
        .select(concat(lit("c"), $"customer").as("sid"), $"np", $"customer")
        .orderBy(desc("np"), asc("sid")).limit(1)
        .select("customer").as[Long].head()
      val bought = pp.filter($"customer" === seed)
        .select("product").as[Long].collect().toSet
      assert(rows.forall(r => !bought.contains(r._1)))
    } finally df.unpersist()
  }
}
