package graft

import org.apache.spark.sql.functions._
import graft.ml.{LinkPredict, TowerNet, TrainLoop}

class TowerNetSpec extends SparkSpec {
  import spark.implicits._

  private val cols = Seq("customer", "product", "label") ++ LinkPredict.featureNames

  // XOR of the two tw_degree features (cust_frequency, part_popularity):
  // NO linear scorer can beat AUC 0.5 on it; only gradients flowing
  // through the tower's hidden relu layer can — so convergence here IS
  // the backprop correctness check.
  private def xorCorpus(n: Int) = (1 to n).map { i =>
    val a = if (i % 2 == 0) 1.0 else -1.0
    val b = if ((i / 2) % 2 == 0) 1.0 else -1.0
    val y = if (a * b > 0) 1.0 else 0.0
    (i.toLong, i.toLong, y, a, 0.0, 0.0, b, 0.0, 0.0, 0.0)
  }.toDF(cols: _*)

  test("joint training learns XOR through the tower hidden layer") {
    val r = TowerNet.train(xorCorpus(4000), epochs = 150, lr0 = 0.1)
    assert(r.bestAuc > 0.95, s"XOR not learned: bestAuc=${r.bestAuc} " +
      s"(a linear model caps at 0.5 — tower backprop is broken)")
  }

  test("standardization moments: bit-identical per call, equal to avg/stddev_pop") {
    val fs = LinkPredict.featureNames
    val df = LinkPredict.trainingSet(spark, sfDir, cap = 1000)
      .select(fs.map(c => col(c).cast("double")): _*).cache()
    try {
      val first = TrainLoop.moments(df)
      (1 until 12).foreach(_ => assert(TrainLoop.moments(df) === first))
      val aggs = fs.flatMap(c => Seq(avg(c), stddev_pop(c)))
      val ref = df.agg(aggs.head, aggs.tail: _*).head()
      first.zipWithIndex.foreach { case ((mu, sd), i) =>
        val (refMu, refSd) = (ref.getDouble(2 * i), ref.getDouble(2 * i + 1))
        // the mean to 1e-12 of the column's scale (a centred column's
        // mean is ~0, where a relative bound means nothing)
        assert(math.abs(mu - refMu) <= 1e-12 * math.max(math.abs(refMu), refSd),
          s"${fs(i)}: mean $mu vs avg $refMu")
        assert(math.abs(sd - refSd) <= 1e-12 * refSd,
          s"${fs(i)}: σ $sd vs stddev_pop $refSd")
      }
    } finally df.unpersist()
  }

  test("trajectory is deterministic and satisfies its own invariants") {
    val corpus = xorCorpus(1000).cache()
    val r1 = TowerNet.train(corpus, epochs = 12)
    val r2 = TowerNet.train(corpus, epochs = 12)
    // rerun on the same frame → same trajectory to ~ulp precision
    // (seeded init, hash split, fixed per-partition fold order, and both
    // the standardization moments and the gradient partials combine on
    // the driver in partition-index order). Not bit for bit: the
    // split's `coalesce` groups the cached corpus's partitions one way
    // before its blocks are cached and another way after, so the two
    // runs fold their rows in different orders. Same contract as m12:
    // the m14b gate re-derives from ONE persisted run, and the entry's
    // outputs round at 1e-6
    r1.epochs.zip(r2.epochs).foreach { case (a, b) =>
      assert(math.abs(a.trainLoss - b.trainLoss) < 1e-9)
      assert(math.abs(a.aucVal - b.aucVal) < 1e-9)
      assert(math.abs(a.gradNorm - b.gradNorm) < 1e-9)
    }
    // loop invariants the m14b gate re-derives
    var best = 0.0
    r1.epochs.foreach { e =>
      assert(e.clipped === (e.gradNorm > 1.0))
      assert(e.improved === (e.aucVal > best))
      if (e.improved) best = e.aucVal
    }
    assert(r1.bestAuc === best)
    assert(r1.params.length === 69) // 5 towers x (4x d_t + 4) + 20 + 1
  }

  test("m15 minibatch loop: dense kernel ≡ distributed per-batch jobs") {
    val corpus = xorCorpus(600).cache()
    val dense = TowerNet.trainMinibatch(corpus, epochs = 3, batchSize = 128)
    // denseMaxRows = 0 forces the per-epoch sort + job-per-batch path;
    // both walk batches in the same shuffleKey order, so trajectories
    // agree to float-merge precision (partial sums combine in partition
    // order vs a single sequential fold)
    val dist = TowerNet.trainMinibatch(corpus, epochs = 3, batchSize = 128,
      denseMaxRows = 0L)
    dense.epochs.zip(dist.epochs).foreach { case (a, b) =>
      assert(math.abs(a.trainLoss - b.trainLoss) < 1e-9,
        s"loss diverged: ${a.trainLoss} vs ${b.trainLoss}")
      assert(math.abs(a.aucVal - b.aucVal) < 1e-9)
      assert(math.abs(a.gradNorm - b.gradNorm) < 1e-9)
      assert(a.improved === b.improved)
    }
  }

  test("m15 minibatch loop learns XOR and steps once per batch") {
    val r = TowerNet.trainMinibatch(xorCorpus(4000), epochs = 40,
      batchSize = 512, lr0 = 0.1)
    assert(r.bestAuc > 0.95,
      s"XOR not learned by the minibatch loop: bestAuc=${r.bestAuc}")
    // invariants the m15b gate re-derives
    var best = 0.0
    r.epochs.foreach { e =>
      assert(e.clipped === (e.gradNorm > 1.0))
      assert(e.improved === (e.aucVal > best))
      if (e.improved) best = e.aucVal
    }
  }
}
