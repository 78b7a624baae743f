package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's training loop ([[TrainLoop]]: AdamW lr 0.02,
  * clip 1.0, ReduceLROnPlateau, pos_weight, strict-best checkpoint)
  * driving a LINEAR scorer over the engine's standardized link
  * features, data-parallel on Spark. [[TowerNet]] drives the same loop
  * with the reference's tower architecture.
  *
  * `train` takes one FULL-BATCH gradient step per epoch where the
  * reference loops over batch-512 minibatches (line 726): per-epoch
  * minibatching would serialize hundreds of tiny barriers per epoch on
  * a cluster, so "epoch" here ≡ one step; `trainMinibatchStream` and
  * `TowerNet.trainMinibatch` are the minibatch forms. The 100 TB shape:
  * each epoch's gradient is ONE aggregate pass over the cached corpus
  * (per-feature sum-reductions, map-side combined), the model is a
  * per-epoch broadcast of d+1 doubles, and the optimizer state lives on
  * the driver — the classic data-parallel layout where nothing per-row
  * ever leaves the executors.
  */
object AdamWTrainer {

  private final val Lr0 = 0.02
  private final val Seed = 47L

  /** The linear model over the flat parameter layout [w0..w_{d-1}, b]
    * as a broadcast 1-row frame (w0..w_{d-1}, wb), NOT literals baked
    * into the expressions: literal weights change every step, so each
    * step's plans would miss the whole-stage codegen cache and pay a
    * fresh janino compile per job — the dominant cost of the loop on a
    * small corpus. As data the weights keep every plan source identical
    * (one compile, cache hits thereafter). This is also the honest
    * 100 TB shape: the model ships to executors as a broadcast row,
    * never as code. One definition keeps the frame's column names and
    * the logit's col("w$i") references from drifting apart. */
  private final case class WeightModel(d: Int) {
    val schema: org.apache.spark.sql.types.StructType =
      org.apache.spark.sql.types.StructType(
        (0 to d).map(i => org.apache.spark.sql.types.StructField(
          if (i < d) s"w$i" else "wb", org.apache.spark.sql.types.DoubleType,
          nullable = false)).toArray)
    def frame(s: org.apache.spark.sql.SparkSession,
              params: Array[Double]): DataFrame =
      s.createDataFrame(java.util.Collections.singletonList(
        org.apache.spark.sql.Row.fromSeq(params.toSeq)), schema)
    val logit: Column = (0 until d)
      .map(i => col(s"x$i") * col(s"w$i"))
      .foldLeft(col("wb"): Column)(_ + _)
    val prob: Column = lit(1.0) / (lit(1.0) + exp(-logit))

    /** Gradient sums in the parameter layout, then the loss sum and the
      * row count. dL/dz for BCEWithLogits with pos_weight pw is
      * (1−y)·σ(z) − pw·y·(1−σ(z)); the loss is the numerically-stable
      * max(z,0) − z·y + log(1+e^{−|z|}), positive term scaled by pw. */
    def gradAggs(posWeight: Double): Seq[Column] = {
      val g = (lit(1.0) - col("y")) * prob -
        lit(posWeight) * col("y") * (lit(1.0) - prob)
      val perRow = (lit(1.0) + (lit(posWeight) - 1.0) * col("y")) *
        (greatest(logit, lit(0.0)) - logit * col("y") +
          log1p(exp(-abs(logit))))
      (0 until d).map(i => sum(g * col(s"x$i")).as(s"g$i")) ++
        Seq(sum(g).as("gb"), sum(perRow).as("loss"), count(lit(1)).as("n"))
    }

    /** Exact val-split ROC-AUC of the model at `params`. */
    def valAuc(valDf: DataFrame, params: Array[Double]): Double =
      Metrics.auc(valDf.crossJoin(broadcast(frame(valDf.sparkSession, params)))
        .select(col("y").as("label"), prob.as("p")), "label", col("p"))
  }

  /** The standardized split of `data` (label + LinkPredict.featureNames)
    * cached as (x$i, y, part, extra…), handed to `body` as
    * (train rows, val rows, pos_weight). */
  private def withSplit[T](data: DataFrame, extra: Column*)(
      body: (DataFrame, DataFrame, Double) => T): T = {
    val (split, xCols) = TrainLoop.standardize(data, 8, Seed)
    val frame = split.select(
      xCols ++ Seq(col("label").as("y"), col("part")) ++ extra: _*).cache()
    try {
      val trainDf = frame.filter(col("part") === "train")
      val nPos = trainDf.filter(col("y") === 1.0).count()
      body(trainDf, frame.filter(col("part") === "val"),
        TrainLoop.posWeight(trainDf.count(), nPos))
    } finally frame.unpersist()
  }

  /** `data`: rows with `label` (0/1 double) and LinkPredict.featureNames.
    * Each epoch's gradient is one aggregate over the train split
    * against the broadcast weight row. */
  def train(data: DataFrame, epochs: Int = 40,
            earlyStop: Int = Int.MaxValue): TrainLoop.Result = {
    val d = LinkPredict.featureNames.size
    val wm = WeightModel(d)
    withSplit(data) { (trainDf, valDf, posWeight) =>
      val aggs = wm.gradAggs(posWeight)
      TrainLoop.fullBatch(new Array[Double](d + 1), epochs, Lr0, earlyStop) { w =>
        val row = trainDf.crossJoin(broadcast(wm.frame(data.sparkSession, w)))
          .agg(aggs.head, aggs.tail: _*).head()
        val n = row.getLong(d + 2).toDouble
        (Array.tabulate(d + 1)(i => row.getDouble(i) / n), row.getDouble(d + 1) / n)
      }(wm.valAuc(valDf, _))
    }
  }

  /** `gstep` is the optimizer's global step counter AFTER this update —
    * the t used for Adam bias correction; `n` the micro-batch row
    * count. Both are persisted by the m13b gate, which re-derives them
    * relationally (t ≡ row ordinal over (epoch, step); n ≡ the same
    * shard's size in every epoch's replay). `fp` is an
    * order-independent content fingerprint of the micro-batch (bit_xor
    * of per-row xxhash64 over the feature/label columns — xor, not a
    * sum, so ANSI mode can never overflow): the m13b replay gate
    * asserts it — not just the row count — is constant per step across
    * epochs, so equal-sized shards visited in different orders can
    * never satisfy the invariant vacuously. */
  final case class Step(epoch: Int, step: Int, gstep: Int, trainLoss: Double,
                        gradNorm: Double, clipped: Boolean, n: Long, fp: Long)
  final case class StreamResult(params: Array[Double], steps: Seq[Step],
                                aucVal: Double)

  /** M9 minibatch-fidelity demo: the SAME AdamW/clip/pos_weight update
    * rule driven by MINIBATCH steps delivered as a file stream — the
    * standardized train split is sharded into `nBatches` hash-keyed
    * files under `stageDir` (wiped first), each epoch is one
    * `Trigger.AvailableNow` run with `maxFilesPerTrigger=1`, and every
    * micro-batch is one optimizer step (`foreachBatch` computes the
    * batch gradient; the driver holds the optimizer state exactly as
    * `train` does). Batch order is deterministic: one file per shard,
    * named AND modification-stamped in shard order, so both of the file
    * source's candidate orderings agree. What the entry makes visible
    * is the COST of minibatch fidelity at scale: nBatches barriers per
    * epoch versus `train`'s single aggregate — the reason the
    * full-batch shape is the default (SURVEY §7.4).
    */
  def trainMinibatchStream(spark: org.apache.spark.sql.SparkSession,
                           data: DataFrame, epochs: Int = 2, nBatches: Int = 8,
                           stageDir: String): StreamResult = {
    val d = LinkPredict.featureNames.size
    val wm = WeightModel(d)
    val bid = pmod(xxhash64(col("customer"), col("product"), lit(Seed)), lit(nBatches))
    withSplit(data, bid.cast("int").as("bid")) { (trainDf, valDf, posWeight) =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stageDir))
      val src = s"$stageDir/src"
      val t0 = System.currentTimeMillis() - 3600000
      // ONE shuffle+write job stages every shard: hash-routing on bid
      // sends each shard to exactly one task, so partitionBy emits one
      // file per shard (vs one filtered scan+write job per shard)
      trainDf.drop("part").repartition(nBatches, col("bid"))
        .write.partitionBy("bid").parquet(src)
      (0 until nBatches).foreach { k =>
        import scala.jdk.CollectionConverters._
        // a hash-empty bid writes no bid=k directory at all — skip it
        // rather than letting Files.walk throw on the absent path
        val shard = java.nio.file.Paths.get(s"$src/bid=$k")
        if (java.nio.file.Files.exists(shard)) {
          val walk = java.nio.file.Files.walk(shard)
          try walk.iterator().asScala.filter(_.toString.endsWith(".parquet"))
            .foreach(p => java.nio.file.Files.setLastModifiedTime(
              p, java.nio.file.attribute.FileTime.fromMillis(t0 + k * 1000L)))
          finally walk.close()
        }
      }
      val batchSchema = trainDf.drop("part", "bid").schema

      val params = new Array[Double](d + 1)
      val opt = new TrainLoop.AdamW(d + 1)
      val log = Seq.newBuilder[Step]
      // bit_xor, not sum: order-independent like sum, but immune to
      // ANSI long-overflow on full-range hashes
      val aggs = wm.gradAggs(posWeight) :+ expr("bit_xor(rh)").as("fp")
      val rowHash = xxhash64(((0 until d).map(i => col(s"x$i")) :+ col("y")): _*)
      // one cloned session per trainer: the stream's shuffle-partition
      // pin must not leak into the shared session
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")

      for (epoch <- 0 until epochs) {
        var stepInEpoch = 0
        val q = ss.readStream.schema(batchSchema)
          .option("recursiveFileLookup", "true")
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream
          .outputMode("append")
          .foreachBatch { (mb: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            val row = mb.crossJoin(broadcast(wm.frame(mb.sparkSession, params)))
              .withColumn("rh", rowHash)
              .agg(aggs.head, aggs.tail: _*).head()
            val n = row.getLong(d + 2).toDouble
            if (n > 0) {
              opt.step(params, Array.tabulate(d + 1)(i => row.getDouble(i) / n), Lr0)
              log += Step(epoch, stepInEpoch, opt.steps, row.getDouble(d + 1) / n,
                opt.gradNorm, opt.clipped, n.toLong, row.getLong(d + 3))
              stepInEpoch += 1
            }
          }
          // fresh checkpoint per epoch: each epoch replays ALL shards
          .option("checkpointLocation", s"$stageDir/ckpt_$epoch")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      StreamResult(params, log.result(), wm.valAuc(valDf, params))
    }
  }
}
