package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ColFns

/** The reference's neural TRAINING LOOP (SURVEY §2.11 M9/M10; reference
  * Neural_network_multi_towered_training.py:703-790), written once for
  * the engine's neural trainers — [[AdamWTrainer]] (linear scorer, SQL
  * gradient aggregate) and [[TowerNet]] (tower network, RDD kernel).
  * Each trainer owns its model and how a gradient is computed; the loop
  * semantics live here:
  *
  *  - a hash-keyed 80/20 train/val split, standardized with the train
  *    split's moments only (the reference fits scalers on train, line
  *    807 `scalers`)
  *  - class imbalance via BCEWithLogitsLoss pos_weight (M10, line 709)
  *  - AdamW (weight_decay 1e-4, torch-default β/ε) with decoupled decay
  *    on every parameter, bias included (line 710), after a global
  *    gradient-norm clip at 1.0 (clip_grad_norm_, line 732)
  *  - ReduceLROnPlateau mode=max factor=0.5 patience=5 on validation
  *    AUC (line 711), patience scaled to the engine's epoch budget
  *  - strict-best checkpoint + restore (lines 716-787), optional early
  *    stop
  */
object TrainLoop {

  /** `gradNorm` is the PRE-clip total norm of the epoch's last step —
    * what torch's clip_grad_norm_ returns and the reference would log;
    * `clipped` marks steps where it exceeded max_norm and the applied
    * gradient was rescaled to it. */
  final case class Epoch(epoch: Int, trainLoss: Double, aucVal: Double,
                         lr: Double, gradNorm: Double, clipped: Boolean,
                         improved: Boolean)
  /** `params` are the restored best-checkpoint parameters. */
  final case class Result(params: Array[Double], epochs: Seq[Epoch],
                          bestAuc: Double, bestEpoch: Int)

  private final val WeightDecay = 1e-4
  private final val ClipNorm = 1.0
  private final val LrPatience = 5
  private final val LrFactor = 0.5
  private final val Beta1 = 0.9
  private final val Beta2 = 0.999
  private final val Eps = 1e-8

  /** `data` (customer, product, label, LinkPredict.featureNames) hashed
    * into `part` ∈ {train, val} on `coalesce(partitions)`, plus the
    * standardized feature columns `x$i` (train-split mean and population
    * σ, σ = 0 → 1). */
  private[ml] def standardize(data: DataFrame, partitions: Int,
                              seed: Long): (DataFrame, Seq[Column]) = {
    val features = LinkPredict.featureNames
    val split = data.coalesce(partitions).withColumn("part",
      when(ColFns.pseudoUniform(
        xxhash64(col("customer"), col("product")), seed) < 0.8, "train")
        .otherwise("val"))
    val mom = moments(split.filter(col("part") === "train")
      .select(features.map(c => col(c).cast("double")): _*))
    val xCols = features.indices.map { i =>
      val (mu, s) = mom(i)
      ((col(features(i)) - mu) / (if (s > 0) s else 1.0)).as(s"x$i")
    }
    (split, xCols)
  }

  /** Per-column (mean, population σ) of the double columns of `df`, nulls
    * skipped. One job: a Welford (n, mean, M2) partial per partition,
    * merged on the driver in PARTITION-INDEX order with the pairwise
    * update `stddev_pop` uses — `avg`/`stddev_pop` merge their buffers
    * in task-completion order, so their last bits move from call to
    * call; these are bit-stable on the same partitions. */
  private[graft] def moments(df: DataFrame): Seq[(Double, Double)] = {
    val k = df.columns.length
    val parts = df.rdd.mapPartitionsWithIndex { (pi, it) =>
      val (n, mean, m2) = (new Array[Double](k), new Array[Double](k),
        new Array[Double](k))
      it.foreach { r =>
        var j = 0
        while (j < k) {
          if (!r.isNullAt(j)) {
            val delta = r.getDouble(j) - mean(j)
            n(j) += 1
            val deltaN = delta / n(j)
            mean(j) += deltaN
            m2(j) += delta * (delta - deltaN)
          }
          j += 1
        }
      }
      Iterator((pi, n, mean, m2))
    }.collect().sortBy(_._1)
    (0 until k).map { j =>
      val (n, mean, m2) = parts.foldLeft((0.0, 0.0, 0.0)) {
        case ((na, ma, m2a), (_, nb, mb, m2b)) =>
          val nn = na + nb(j)
          val delta = mb(j) - ma
          val deltaN = if (nn == 0) 0.0 else delta / nn
          (nn, ma + deltaN * nb(j), m2a + m2b(j) + delta * deltaN * na * nb(j))
      }
      (mean, math.sqrt(m2 / n))
    }
  }

  /** BCEWithLogitsLoss pos_weight = #neg / #pos over the train split. */
  private[ml] def posWeight(nTrain: Long, nPos: Long): Double =
    if (nPos > 0) (nTrain - nPos).toDouble / nPos else 1.0

  /** torch.optim.AdamW over one flat parameter array, each step's
    * gradient clipped to global norm 1.0 first. `grads` are the step's
    * MEAN gradients in the parameter layout. */
  private[ml] final class AdamW(n: Int) {
    private val m = new Array[Double](n)
    private val v = new Array[Double](n)
    private var t = 0
    private var norm = 0.0
    private var scale = 1.0

    /** Steps taken: the bias-correction t. */
    def steps: Int = t
    /** Pre-clip global norm of the last step's gradient. */
    def gradNorm: Double = norm
    def clipped: Boolean = scale < 1.0

    def step(params: Array[Double], grads: Array[Double], lr: Double): Unit = {
      var s = 0.0; var i = 0
      while (i < n) { s += grads(i) * grads(i); i += 1 }
      norm = math.sqrt(s)
      scale = if (norm > ClipNorm) ClipNorm / norm else 1.0
      t += 1
      val bc1 = 1.0 - math.pow(Beta1, t)
      val bc2 = 1.0 - math.pow(Beta2, t)
      i = 0
      while (i < n) {
        val gc = grads(i) * scale
        m(i) = Beta1 * m(i) + (1 - Beta1) * gc
        v(i) = Beta2 * v(i) + (1 - Beta2) * gc * gc
        // decoupled decay: wd applies to the PARAMETER, not the grad
        params(i) = params(i) - lr * (m(i) / bc1 /
          (math.sqrt(v(i) / bc2) + Eps) + WeightDecay * params(i))
        i += 1
      }
    }
  }

  /** The per-epoch bookkeeping fed one validation AUC per epoch: the
    * strict-best checkpoint (a copy of `params` whenever the AUC beats
    * the running best — bestAuc is exactly max(aucVal)), the plateau
    * scheduler, which tracks its OWN best with the 1e-4 threshold
    * (torch ReduceLROnPlateau: the threshold affects the LR schedule,
    * never checkpointing), the early-stop counter, and the epoch log. */
  private[ml] final class Schedule(init: Array[Double], lr0: Double,
                                   earlyStop: Int) {
    private var lrNow = lr0
    private var bestAuc = 0.0
    private var bestEpoch = -1
    private var best = init.clone()
    private var schedBest = 0.0
    private var plateau = 0
    private var sinceBest = 0
    private val log = Seq.newBuilder[Epoch]

    def lr: Double = lrNow
    def stopped: Boolean = sinceBest >= earlyStop

    /** Epoch `e` ended with `params` and validation `auc`; `opt`'s last
      * step is the epoch's last. */
    def record(e: Int, loss: Double, auc: Double, params: Array[Double],
               opt: AdamW): Unit = {
      val improved = auc > bestAuc
      if (improved) {
        bestAuc = auc; bestEpoch = e; best = params.clone(); sinceBest = 0
      } else sinceBest += 1
      if (auc > schedBest + 1e-4) { schedBest = auc; plateau = 0 }
      else plateau += 1
      if (plateau > LrPatience) { lrNow *= LrFactor; plateau = 0 }
      log += Epoch(e, loss, auc, lrNow, opt.gradNorm, opt.clipped, improved)
    }

    def result: Result = Result(best, log.result(), bestAuc, bestEpoch)
  }

  /** The full-batch loop: per epoch, one AdamW step from `gradient`'s
    * (mean gradient, mean loss) at the current `params` (updated in
    * place), then `valAuc` of the post-update parameters.
    *
    * Pipelined: epoch e's val-AUC job and epoch e+1's gradient job both
    * depend only on epoch e's post-update parameters, so the AUC runs
    * on a side thread while the next gradient pass runs inline. Per-
    * epoch wall drops from grad+auc to max(grad, auc). Bookkeeping is
    * awaited before the next UPDATE — the first point its result is
    * read — so the trajectory is the sequential loop's. When the awaited
    * AUC triggers early stop, the speculative gradient is discarded:
    * exactly the epochs the sequential loop ran are logged and applied. */
  private[ml] def fullBatch(params: Array[Double], epochs: Int, lr0: Double,
                            earlyStop: Int)(
      gradient: Array[Double] => (Array[Double], Double))(
      valAuc: Array[Double] => Double): Result = {
    val opt = new AdamW(params.length)
    val sched = new Schedule(params, lr0, earlyStop)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => {
        val th = new Thread(r, "train-val-auc"); th.setDaemon(true); th
      })
    val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
    var pending: scala.concurrent.Future[Double] = null
    var pendingLoss = 0.0
    def settle(e: Int): Unit = if (pending != null) {
      sched.record(e, pendingLoss, scala.concurrent.Await.result(
        pending, scala.concurrent.duration.Duration.Inf), params, opt)
      pending = null
    }
    try {
      var epoch = 0
      while (epoch < epochs && !sched.stopped) {
        val (grads, loss) = gradient(params)
        settle(epoch - 1)
        if (!sched.stopped) {
          opt.step(params, grads, sched.lr)
          pendingLoss = loss
          val snapshot = params.clone()
          pending = scala.concurrent.Future(valAuc(snapshot))(ec)
        }
        epoch += 1
      }
      settle(epoch - 1)
      sched.result
    } finally ec.shutdown()
  }
}
