package graft.ml

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The reference's multi-tower ARCHITECTURE trained jointly by the
  * reference's loop ([[TrainLoop]]: AdamW, clip 1.0, ReduceLROnPlateau,
  * pos_weight, strict-best checkpoint) — the model `MultiTower`
  * (MLlib flat-MLP) approximates, driven by the loop [[AdamWTrainer]]
  * runs on a linear scorer (reference
  * `Neural_network_multi_towered_training.py:62-150` for the model,
  * `:703-790` for the loop):
  *
  *   per tower t: z_t = relu(W1_t x_t + b1_t)   (its own hidden layer)
  *   head:        logit = w2 · concat(z_1..z_5) + b2
  *
  * trained end-to-end — head gradients flow THROUGH the tower layers
  * (∂L/∂W1_t = δ_t ⊗ x_t with δ_t = g · w2_t · 1[pre_t > 0]), which is
  * what separates a tower network from per-tower stacking.
  *
  * Size-scaled divergences (documented, same §7.4 rule as MultiTower's
  * hidden sizes): tower widths are 4 units against the engine's 7
  * features (reference: 16–128 against 137), the combined [128, 64]
  * hidden stack collapses into the final linear head, and
  * BatchNorm/Dropout are off — full-batch gradients make BatchNorm
  * plain standardization (applied to the inputs) and eval-mode Dropout
  * is the identity.
  *
  * The 100 TB shape is MLlib's own (LogisticRegression/LinearSVC train
  * the same way): the standardized corpus is cached ONCE as a matrix of
  * primitive rows, every gradient is one job of per-partition
  * closed-form partial sums (69 doubles + loss per partition — nothing
  * per-row ever leaves the executors), and the driver combines partials
  * IN PARTITION-INDEX ORDER, which makes the float trajectory
  * bit-reproducible run-over-run (stronger than treeAggregate's
  * arrival-order combine). The weights ride to the executors as a
  * 69-double task closure — the broadcast-weights pattern at the size
  * where a closure IS the broadcast. An earlier formulation expressed
  * each epoch as a ~70-column SQL aggregate over a broadcast weight
  * frame; at full-batch-per-epoch cadence the per-action re-analysis of
  * that ~150-expression plan priced every epoch at a driver-side
  * planning floor (~0.5 s) that this kernel does not pay — the
  * distributed dataflow (map-side partial aggregation, driver-sized
  * model state) is identical.
  */
object TowerNet {

  /** The reference's five towers mapped onto the engine's link
    * features (degree / temporal / structured / pricing / derived —
    * `Neural_network_multi_towered_training.py:62-116`). */
  val towers: Seq[(String, Seq[String])] = Seq(
    "tw_degree" -> Seq("cust_frequency", "part_popularity"),
    "tw_temporal" -> Seq("cust_recency"),
    "tw_value" -> Seq("acctbal", "price"),
    "tw_pricing" -> Seq("discount"),
    "tw_derived" -> Seq("bal_x_price"))
  val hidden = 4

  private final val Seed = 61L

  // ---- flat parameter layout: for each tower (in declared order):
  // W1 row-major (j, i), then b1; after all towers: w2 (tower order),
  // then b2. One layout function keeps the init, the kernel's forward/
  // backward walk, and the Adam state walking the SAME indices.
  private def nParamsTotal: Int =
    towers.map { case (_, fs) => hidden * fs.size + hidden }.sum +
      towers.size * hidden + 1

  /** torch nn.Linear default init, deterministically seeded:
    * U(−1/√fan_in, 1/√fan_in) for weights and bias of each layer. */
  private def init(seed: Long): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    val buf = Array.newBuilder[Double]
    towers.foreach { case (_, fs) =>
      val a = 1.0 / math.sqrt(fs.size)
      (0 until hidden * fs.size + hidden).foreach(_ =>
        buf += (rnd.nextDouble() * 2 - 1) * a)
    }
    val aHead = 1.0 / math.sqrt(towers.size * hidden)
    (0 until towers.size * hidden).foreach(_ =>
      buf += (rnd.nextDouble() * 2 - 1) * aHead)
    buf += (rnd.nextDouble() * 2 - 1) * aHead // b2
    buf.result()
  }

  /** Serializable epoch kernel: forward + closed-form backward for one
    * standardized row, accumulating gradient sums into `acc`
    * (layout-ordered, `acc(P)` = loss sum). Static layout tables are
    * computed once on the driver and ship inside the task closure. */
  private final class RowKernel(val posWeight: Double) extends Serializable {
    private val nf = LinkPredict.featureNames.size
    private val fIdx = LinkPredict.featureNames.zipWithIndex.toMap
    // per tower: feature indices into the row; layout offset of its W1
    val towerFeat: Array[Array[Int]] =
      towers.map { case (_, fs) => fs.map(fIdx).toArray }.toArray
    val towerOff: Array[Int] = {
      var off = 0
      towers.map { case (_, fs) =>
        val o = off; off += hidden * fs.size + hidden; o
      }.toArray
    }
    val nUnits: Int = towers.size * hidden
    val P: Int = nParamsTotal
    val w2Offset: Int = P - nUnits - 1

    /** logit + pre-activations for one row (pre written into `pre`). */
    def forward(w: Array[Double], a: Array[Double],
                pre: Array[Double]): Double = {
      var t = 0; var unit = 0
      while (t < towerFeat.length) {
        val fs = towerFeat(t); val d = fs.length; val off = towerOff(t)
        var j = 0
        while (j < hidden) {
          // same accumulation order as the reference forms: b1 first,
          // then features in declared order
          var s = w(off + hidden * d + j)
          var i = 0
          while (i < d) { s += w(off + j * d + i) * a(fs(i)); i += 1 }
          pre(unit + j) = s
          j += 1
        }
        unit += hidden; t += 1
      }
      var lg = 0.0
      var j = 0
      while (j < nUnits) {
        lg += w(w2Offset + j) * (if (pre(j) > 0.0) pre(j) else 0.0); j += 1
      }
      lg + w(w2Offset + nUnits)
    }

    /** (σ(logit), label) of one row — the validation score. */
    def scored(w: Array[Double], a: Array[Double],
               pre: Array[Double]): (Double, Double) =
      (1.0 / (1.0 + math.exp(-forward(w, a, pre))), a(nf))

    /** One row's contribution to the gradient/loss sums. */
    def accumulate(w: Array[Double], a: Array[Double],
                   pre: Array[Double], acc: Array[Double]): Unit = {
      val y = a(nf)
      val lg = forward(w, a, pre)
      val sig = 1.0 / (1.0 + math.exp(-lg))
      val gg = (1.0 - y) * sig - posWeight * y * (1.0 - sig)
      acc(P) += (1.0 + (posWeight - 1.0) * y) *
        (math.max(lg, 0.0) - lg * y + math.log1p(math.exp(-math.abs(lg))))
      var t = 0; var unit = 0
      while (t < towerFeat.length) {
        val fs = towerFeat(t); val d = fs.length; val off = towerOff(t)
        var j = 0
        while (j < hidden) {
          val p = pre(unit + j)
          if (p > 0.0) { // relu gate: δ_j = gg · w2_j · 1[pre_j > 0]
            val delta = gg * w(w2Offset + unit + j)
            var i = 0
            while (i < d) { acc(off + j * d + i) += delta * a(fs(i)); i += 1 }
            acc(off + hidden * d + j) += delta
            acc(w2Offset + unit + j) += gg * p // ∂L/∂w2_j = gg·z_j
          }
          j += 1
        }
        unit += hidden; t += 1
      }
      acc(w2Offset + nUnits) += gg // b2
    }
  }

  /** Exact tie-aware Mann–Whitney ROC-AUC of collected (score, label)
    * pairs: grouped into the ascending (s, n, npos) histogram that
    * Metrics.auc finishes on the driver, and finished by the same rank
    * math — applied to a bounded validation slice. */
  private[graft] def rankAuc(scored: Array[(Double, Double)]): Double = {
    val (rankPos, np, nTot) = Metrics.rankStats(Metrics.driverHist(scored))
    Metrics.finishRoc(rankPos, np, nTot - np)
  }

  /** splitmix64 finalizer keyed by (row key, epoch): the deterministic
    * stand-in for the reference DataLoader's shuffle=True — a pure
    * function both the dense kernel and the distributed fallback apply
    * identically, so the within-epoch batch ORDER never depends on
    * partitioning or path. */
  private[ml] def shuffleKey(key: Long, epoch: Int, seed: Long): Long = {
    var z = key ^ (seed + 0x9e3779b97f4a7c15L * (epoch + 1))
    z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
    z ^= z >>> 27; z *= 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The standardized split as cached primitive matrices, one
    * (xxhash64(customer, product), [x0..x_{nf-1}, y]) pair per row:
    * built once, every epoch job scans these deserialized arrays, never
    * the source; the key orders the minibatch loop's shuffle. */
  private final class Corpus(val train: RDD[(Long, Array[Double])],
                             val valid: RDD[(Long, Array[Double])],
                             val nTrain: Long, nPos: Long,
                             spark: org.apache.spark.sql.SparkSession) {
    val nVal: Long = valid.count()
    val kernel = new RowKernel(TrainLoop.posWeight(nTrain, nPos))

    /** One job: per-partition [gradient sums…, loss sum] over the
      * matrix rows of `rows` at `w`, combined on the driver in
      * PARTITION-INDEX order (deterministic float fold). */
    def sums(rows: RDD[(Long, Array[Double])], w: Array[Double]): Array[Double] = {
      val (k, p, wb) = (kernel, kernel.P, w.clone())
      val tot = new Array[Double](p + 1)
      rows.mapPartitionsWithIndex { (pi, it) =>
        val acc = new Array[Double](p + 1)
        val pre = new Array[Double](k.nUnits)
        it.foreach { case (_, a) => k.accumulate(wb, a, pre, acc) }
        Iterator((pi, acc))
      }.collect().sortBy(_._1).foreach { case (_, acc) =>
        var i = 0
        while (i <= p) { tot(i) += acc(i); i += 1 }
      }
      tot
    }

    /** One validation scoring job + exact rank AUC. The collect is
      * bounded by the val slice (audit-scale here); past the same
      * driver bound Metrics.auc uses, fall back to its distributed
      * two-level histogram on a scored frame. */
    def valAuc(w: Array[Double]): Double = {
      val (k, wb) = (kernel, w.clone())
      val scoredRdd = valid.mapPartitions { it =>
        val pre = new Array[Double](k.nUnits)
        it.map { case (_, a) => k.scored(wb, a, pre) }
      }
      if (nVal <= 1000000) rankAuc(scoredRdd.collect())
      else Metrics.auc(
        spark.createDataFrame(
          scoredRdd.map { case (p, y) => Row(y, p) },
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("label",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("p",
              org.apache.spark.sql.types.DoubleType)))),
        "label", col("p"))
    }
  }

  /** Runs `body` on the standardized split of `data` (label +
    * LinkPredict.featureNames), unpersisting its matrices after. */
  private def withCorpus[T](data: DataFrame)(body: Corpus => T): T = {
    val nf = LinkPredict.featureNames.size
    val (split, xCols) = TrainLoop.standardize(data, 2, Seed)
    val Seq(trainMat, valMat) = Seq("train", "val").map { part =>
      split.filter(col("part") === part)
        .select(xxhash64(col("customer"), col("product")).as("k") +:
          xCols :+ col("label").as("y"): _*)
        .rdd.map { r =>
          val a = new Array[Double](nf + 1)
          var i = 0
          while (i <= nf) { a(i) = r.getDouble(i + 1); i += 1 }
          (r.getLong(0), a)
        }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try {
      // one pass materializes the train cache AND counts the classes
      val (nTrain, nPos) = trainMat.mapPartitions { it =>
        var n = 0L; var np = 0L
        it.foreach { case (_, a) => n += 1; if (a(nf) == 1.0) np += 1 }
        Iterator((n, np))
      }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      body(new Corpus(trainMat, valMat, nTrain, nPos, data.sparkSession))
    } finally { trainMat.unpersist(); valMat.unpersist() }
  }

  /** Train on `data` (label + LinkPredict.featureNames) with the
    * full-batch loop: one gradient job and one AdamW step per epoch. */
  def train(data: DataFrame, epochs: Int = 10,
            lr0: Double = 0.02): TrainLoop.Result =
    withCorpus(data) { c =>
      val p = c.kernel.P
      TrainLoop.fullBatch(init(Seed), epochs, lr0, Int.MaxValue) { w =>
        val tot = c.sums(c.train, w)
        (tot.take(p).map(_ / c.nTrain), tot(p) / c.nTrain)
      }(c.valAuc)
    }

  /** The reference's LITERAL training loop — shuffled batch-512
    * minibatches with one AdamW step per batch
    * (`Neural_network_multi_towered_training.py:660,702-735`:
    * DataLoader(batch_size=512, shuffle=True); per batch zero_grad →
    * backward → clip(1.0) → step; per epoch mean batch loss, val AUC →
    * ReduceLROnPlateau + strict-best checkpoint). `train` is the
    * full-batch form, `AdamWTrainer.trainMinibatchStream` the stream
    * form; this is the shuffled within-epoch iterator itself.
    *
    * Hybrid kernel, t22's discipline: at or under `denseMaxRows` the
    * standardized matrix is collected ONCE and the whole multi-epoch
    * step loop runs densely on the driver (hundreds of 512-row steps
    * are driver arithmetic, not 31 Spark jobs per epoch); above the
    * bound the exact same math runs distributed — per-epoch
    * deterministic re-sort + zipWithIndex, one partial-sum job per
    * batch — at the documented job-per-step price a parameter-server
    * trainer pays. Both paths walk batches in the same shuffleKey
    * order; TowerNetSpec asserts dense ≡ distributed.
    *
    * Logged per epoch (trajectoryGate shape): mean batch loss, val
    * AUC, lr, and the LAST step's grad norm/clip flag. */
  def trainMinibatch(data: DataFrame, epochs: Int = 10, batchSize: Int = 512,
                     lr0: Double = 0.02,
                     denseMaxRows: Long = 2000000L): TrainLoop.Result =
    withCorpus(data) { c =>
      val (kernel, p, nTrain) = (c.kernel, c.kernel.P, c.nTrain)
      val dense = nTrain <= denseMaxRows
      // dense kernel state: both matrices collected once, keyed
      val trainArr = if (dense) c.train.collect() else null
      val valArr = if (dense) c.valid.collect() else null
      val params = init(Seed)
      val opt = new TrainLoop.AdamW(p)
      val sched = new TrainLoop.Schedule(params, lr0, Int.MaxValue)
      val nBatches = ((nTrain + batchSize - 1) / batchSize).toInt
      for (epoch <- 0 until epochs) {
        var lossSum = 0.0
        // one optimizer step from [gradient sums…, loss sum] over n rows
        def step(acc: Array[Double], n: Long): Unit = {
          lossSum += acc(p) / n
          opt.step(params, Array.tabulate(p)(i => acc(i) / n), sched.lr)
        }
        if (dense) {
          val order = trainArr.sortBy { case (k, _) =>
            (shuffleKey(k, epoch, Seed), k)
          }
          val pre = new Array[Double](kernel.nUnits)
          for (b <- 0 until nBatches) {
            val lo = b * batchSize
            val hi = math.min(lo + batchSize, nTrain.toInt)
            val acc = new Array[Double](p + 1)
            var i = lo
            while (i < hi) { kernel.accumulate(params, order(i)._2, pre, acc); i += 1 }
            step(acc, hi - lo)
          }
        } else {
          // distributed fallback: one deterministic re-sort per epoch,
          // then one bounded partial-sum job per batch — the exact same
          // batch walk at the price a per-step barrier costs
          val sorted = c.train
            .map { case (k, a) => ((shuffleKey(k, epoch, Seed), k), a) }
            .sortBy(_._1).zipWithIndex()
            .map { case ((_, a), idx) => (idx, a) }
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          sorted.count()
          for (b <- 0 until nBatches) {
            val lo = b.toLong * batchSize
            val hi = math.min(lo + batchSize, nTrain)
            step(c.sums(sorted.filter { case (idx, _) => idx >= lo && idx < hi },
              params), hi - lo)
          }
          sorted.unpersist()
        }
        // validation AUC on the post-epoch weights
        val auc = if (dense) {
          val pre = new Array[Double](kernel.nUnits)
          rankAuc(valArr.map { case (_, a) => kernel.scored(params, a, pre) })
        } else c.valAuc(params)
        sched.record(epoch, lossSum / nBatches, auc, params, opt)
      }
      sched.result
    }
}
