package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Artifacts, Tables}
import graft.graph.{GraphSql, Louvain, Node2Vec}
import graft.ml.LinkPredict
import graft.sim.Similarity

/** Operator catalog, part 5: graph algorithms (G2/G3/G6) and ML training
  * operators (M1–M11). Training/walk outputs are model-dependent, so
  * most entries are rows-only (no DuckDB oracle — the driver records a
  * weaker check); their correctness is asserted by invariant specs in
  * src/test. g6 is fully relational and carries an oracle.
  */
object GraphML extends CatalogModule {

  /** The similarity graph the reference runs Louvain on (KNN over
    * embeddings — knn_similarity.py:79-91). */
  private def simEdges(spark: SparkSession, dir: String): DataFrame =
    graft.sim.KnnCache.topk(spark, dir, 5)
      .select(col("src").cast("string").as("src"),
        col("dst").cast("string").as("dst"),
        col("cos").as("weight"))

  // The seeded Louvain partition is a deterministic pure function of the
  // dir — detect once per (app, dir) and share between g2 (histogram)
  // and g2b (modularity gate).
  private def louvainPartition(spark: SparkSession, dir: String): DataFrame =
    graft.core.AppCache.memo(spark, "graphml.louvain", dir) {
      Louvain.detect(spark, simEdges(spark, dir), maxIter = 8).localCheckpoint(true) }

  // G2: Louvain communities on the similarity graph → community sizes
  private def g2Louvain(spark: SparkSession, dir: String): DataFrame =
    louvainPartition(spark, dir)
      .groupBy("community").agg(count(lit(1)).as("size"))
      .orderBy(desc("size"), asc("community"))

  /** G2b: the Louvain result under the hash gate
    * (Louvain_community_algorithm.py:56-63 — best_partition + its
    * modularity report). The seeded partition is persisted to parquet;
    * both engines then recompute, from it plus the independently
    * re-derived KNN graph, the per-community histogram and the graph
    * modularity. Weights are the 6-decimal cosines scaled to integers
    * (×1e6) so every aggregate is integer-exact in any summation order;
    * modularity is ONE double expression at the end (Σ_tot² held in
    * decimal — BIGINT would overflow beyond ~sf0.3). The oracle reads
    * the partition at the sf0.01 artifact path (the correctness gate's
    * SF — at other SFs the entry still runs, rows-only). */
  private def g2bModularity(spark: SparkSession, dir: String): DataFrame = {
    val part = Artifacts.write(spark, dir, "g2_partition",
      louvainPartition(spark, dir))
    val e = simEdges(spark, dir)
      .select(col("src"), col("dst"),
        round(col("weight") * 1e6).cast("long").as("w"))
    val adj = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val ki = adj.groupBy("src").agg(sum("w").as("k"))
    val byComm = part.withColumnRenamed("id", "src").join(ki, "src")
      .groupBy("community")
      .agg(count(lit(1)).as("size"), sum("k").as("tot_w"))
    val intra = adj
      .join(part.withColumnRenamed("id", "src").withColumnRenamed("community", "sc"), "src")
      .join(part.withColumnRenamed("id", "dst").withColumnRenamed("community", "dc"), "dst")
      .filter(col("sc") === col("dc"))
      .groupBy(col("sc").as("community")).agg(sum("w").as("intra_w"))
    val g = byComm.join(intra, Seq("community"), "left")
      .select(col("community"), col("size"), col("tot_w"),
        coalesce(col("intra_w"), lit(0L)).as("intra_w"))
    val tots = g.agg(
      sum("tot_w").as("m2"),
      sum("intra_w").as("intra"),
      sum(col("tot_w").cast("decimal(20,0)") * col("tot_w").cast("decimal(20,0)"))
        .as("sumsq"))
    g.crossJoin(tots)
      .select(col("community"), col("size"), col("tot_w"), col("intra_w"),
        (round((col("intra").cast("double") * col("m2").cast("double") -
          col("sumsq").cast("double")) /
          (col("m2").cast("double") * col("m2").cast("double")), 6) + lit(0.0))
          .as("modularity"))
      .orderBy("community")
  }

  // G3: node2vec embeddings on the customer–product bipartite graph
  // (deterministic hash-based walks + Word2Vec)
  private def g3Node2Vec(spark: SparkSession, dir: String): DataFrame = {
    // the bipartite edge list is a slice of the session's materialized
    // purchase-pair table (same neighbor sets: collect_set dedups either
    // way) — no re-join of orders⋈lineitem per walk run. Node ids are
    // parity-encoded longs (customer→2k, part→2k+1) so the walk engine's
    // per-candidate ops run on longs, not strings; labels are restored
    // after the embedding fit.
    val edges = graft.graph.Links.purchasePairsNumeric(spark, dir)
      .filter(pmod(col("customer"), lit(10)) === 1)
      .select((col("customer") * 2).as("src"),
        (col("product") * 2 + 1).as("dst"))
    val emb = Node2Vec.embeddings(spark, edges,
      Node2Vec.Params(numWalks = 2, walkLength = 6, dim = 16))
    val n = col("id").cast("long")
    emb.select(
      when(n % 2 === 0, concat(lit("cust_"), (n / 2).cast("long")))
        .otherwise(concat(lit("part_"), ((n - 1) / 2).cast("long")))
        .as("id"),
      size(col("embedding")).as("dim"))
      .orderBy("id")
  }

  // G6: graph mutation/versioning — per-dvid node/edge counts (the
  // reference's injection verification, fifth_data_injection.py:154-158)
  private def g6DvidVersioning(spark: SparkSession, dir: String): DataFrame = {
    val g = graft.graph.GraphBuilder.fromTpch(spark, dir)
    g.nodes.groupBy("dvid").agg(count(lit(1)).as("cnt"))
      .withColumn("kind", lit("node"))
      .unionByName(g.edges.groupBy("dvid").agg(count(lit(1)).as("cnt"))
        .withColumn("kind", lit("edge")))
      .select("kind", "dvid", "cnt").orderBy("kind", "dvid")
  }

  // Deterministic training is memoized per (app, dir, algo) within the
  // JVM — a model registry, so m1/m11 (and bench re-runs) share one fit
  // instead of re-training per catalog entry.
  // cap 20000 matches the MLP entry so every trainer shares ONE
  // materialized corpus per dir
  // 4 trees × depth 3 (vs the library's 10 × 5 default): the catalog
  // entries attest metric/importance MATH from persisted artifacts, not
  // fit depth — m1b/m11b recompute their gates from whatever model these
  // produce, and the separability the specs assert (AUC > 0.55) is
  // reached well before either budget. The m3b precedent: fewer passes,
  // same attested invariants, roughly half the jobs.
  private def fit(spark: SparkSession, dir: String, algo: String): LinkPredict.TrainResult =
    graft.core.AppCache.memo(spark, "graphml.fit", dir, algo) {
      LinkPredict.train(spark, LinkPredict.trainingSetCached(spark, dir, cap = 20000), algo,
        maxIter = 4, maxDepth = 3) }

  // M0: the training corpus ITSELF under the hash gate — every m-entry
  // fits on this frame, so its assembly (J3 positives, J4 hash-thinned
  // negatives with the measured-pool keep-fraction, J5 feature joins,
  // A8 temporal aggregates, F8 discount, F11 interaction, F14 fallback
  // fills) is replayed end-to-end by DuckDB. All values are either raw
  // parquet doubles, integer-derived casts, or single products — no
  // rounding needed anywhere.
  private def m0TrainingCorpus(spark: SparkSession, dir: String): DataFrame =
    LinkPredict.trainingSetCached(spark, dir, cap = 20000)
      .select("customer", "product", "label", "cust_frequency", "cust_recency",
        "acctbal", "part_popularity", "price", "discount", "bal_x_price")
      .orderBy("customer", "product")

  // M1/M3/M4/M10: GBT link model + policy-gate metrics as one row
  private def m1GbtMetrics(spark: SparkSession, dir: String): DataFrame = {
    val r = fit(spark, dir, "gbt")
    import spark.implicits._
    r.metrics.toSeq.sortBy(_._1).toDF("metric", "value")
  }

  // M4: the metrics suite at the 0.5 operating point — confusion matrix
  // + accuracy/precision/recall/F1 as one row (classification report,
  // xgboost_training_for_big_data.py:696-766). Rows-only: model scores
  // have no SQL mirror.
  private def m4ConfusionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val r = fit(spark, dir, "lr")
    val p1 = org.apache.spark.ml.functions.vector_to_array(col("probability"))
      .getItem(1)
    graft.ml.Metrics.confusion(r.scoredVal, "label", p1, 0.5)
  }

  /** The M4/M5 metric operators applied to a DETERMINISTIC scored set —
    * label = order status, score = the raw o_totalprice (AUC is
    * rank-based, so any monotone score works and a stored parquet value
    * is bit-exact across engines). This puts the metric math itself
    * under the DuckDB hash gate; m4/m5 above exercise the same code on
    * real model scores (model-coupled → rows-only). */
  private def detScored(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("label"),
      col("o_totalprice").as("p"))

  private def m4bMetricsDeterministic(spark: SparkSession, dir: String): DataFrame = {
    val scored = detScored(spark, dir)
    val aucV = graft.ml.Metrics.auc(scored, "label", col("p"))
    graft.ml.Metrics.confusion(scored, "label", col("p"), 150000.0)
      .withColumn("auc", round(lit(aucV), 6))
  }

  // i/100.0 lands on short-decimal doubles ("0.15", "0.3") — DuckDB
  // parses those to the identical 64-bit value, whereas a naive
  // 0.05+i*0.05 accumulation yields 0.15000000000000002-style literals
  // that round-trip differently through DuckDB's DECIMAL parser. Grid =
  // the reference's 0.10..0.90 step 0.01.
  private val sweepThresholds: Seq[Double] = (10 to 90).map(_ / 100.0)

  private def m5bSweepDeterministic(spark: SparkSession, dir: String): DataFrame =
    LinkPredict.thresholdSweepScores(
      detScored(spark, dir).select(col("label"), (col("p") / 600000.0).as("p")),
      col("p"), sweepThresholds)

  // M5: threshold sweep (LR for speed; sweep itself is the operator) —
  // the reference's exact grid: 0.10..0.90 step 0.01 targeting F1≈0.80
  // (xgboost_training_for_big_data.py:662-691)
  private def m5ThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val r = fit(spark, dir, "lr")
    LinkPredict.thresholdSweep(r.scoredVal, (10 to 90).map(_ / 100.0))
  }

  // M11: gain-style feature importances
  private def m11FeatureImportance(spark: SparkSession, dir: String): DataFrame = {
    val r = fit(spark, dir, "gbt")
    import spark.implicits._
    r.importances.toDF("feature", "importance").orderBy(desc("importance"))
  }

  // M12: the reference's NN training-loop semantics (M9/M10) as a
  // catalog query — the per-epoch trajectory of the data-parallel AdamW
  // loop (distributed gradient aggregate per epoch, driver-held
  // optimizer state, plateau LR schedule, clipped global grad norm,
  // pos_weight class balance, best-AUC checkpointing). Rows-only (the
  // trajectory is model-coupled); the loop invariants are spec-asserted
  // in PipelineArtifactsSpec.
  // the 10-epoch trajectory is a deterministic pure function of the dir —
  // fit once per (app, dir) and share between m12 (rows) and m12b (gate)
  private def m12Fit(spark: SparkSession, dir: String): graft.ml.TrainLoop.Result =
    graft.core.AppCache.memo(spark, "graphml.m12Fit", dir)(
      // 10 epochs: enough to exercise improvement and checkpointing
      // (the sf-scale trajectory improves monotonically, so the plateau
      // halving never fires at 15 either — m12b's sched_ok invariant
      // holds for any depth); each epoch is 2 jobs (grad agg + val AUC)
      // so the entry's cost is scheduling-bound, not data-bound
      graft.ml.AdamWTrainer.train(
        LinkPredict.trainingSetCached(spark, dir, cap = 20000), epochs = 10))

  private def m12AdamwLoop(spark: SparkSession, dir: String): DataFrame =
    trajectoryRows(spark, m12Fit(spark, dir))

  /** The m12/m14/m15 rows: a loop trajectory rounded at 1e-6. */
  private def trajectoryRows(spark: SparkSession,
                             r: graft.ml.TrainLoop.Result): DataFrame = {
    import spark.implicits._
    r.epochs.map(e => (e.epoch, math.round(e.trainLoss * 1e6) / 1e6,
        math.round(e.aucVal * 1e6) / 1e6, e.lr,
        math.round(e.gradNorm * 1e6) / 1e6, if (e.clipped) 1 else 0,
        if (e.improved) 1 else 0))
      .toDF("epoch", "train_loss", "auc_val", "lr", "grad_norm", "clipped", "improved")
  }

  // M12b: the AdamW trajectory persisted at FULL precision, the
  // schedule/clip/checkpoint math recomputed RELATIONALLY from the
  // persisted bits in both engines — the m4b technique applied to the
  // training loop (reference Neural_network_multi_towered_training.py:
  // 703-790). Each *_ok column re-derives one loop invariant as a pure
  // window expression over the trajectory: clipping is exactly
  // gradNorm > 1.0; checkpoint improvement is exactly
  // auc > running-max-of-previous (strict — the 1e-4 threshold belongs
  // to the plateau scheduler only); the LR is lr0·0.5^halvings with a
  // non-decreasing integer halving count; best_auc/best_epoch are the
  // max and its first argmax. The fit is model-coupled; this math is not.
  private def m12bAdamwDeterministic(spark: SparkSession, dir: String): DataFrame =
    trajectoryGate(spark, dir, "m12_trajectory", m12Fit(spark, dir))

  /** The m12b gate, shared with m14b/m15b: persist a trajectory at full
    * precision and re-derive every loop invariant relationally from the
    * persisted bits (both engines run the same math). */
  private def trajectoryGate(spark: SparkSession, dir: String, name: String,
                             r: graft.ml.TrainLoop.Result): DataFrame = {
    import spark.implicits._
    val persisted = Artifacts.write(spark, dir, name,
      r.epochs.map(e => (e.epoch, e.trainLoss, e.aucVal, e.lr, e.gradNorm,
          if (e.clipped) 1 else 0, if (e.improved) 1 else 0,
          r.bestEpoch, r.bestAuc))
        .toDF("epoch", "train_loss", "auc_val", "lr", "grad_norm",
          "clipped", "improved", "best_epoch", "best_auc"))
    val wPrev = graft.functions.ColFns.boundedGlobal(col("epoch"))(col("epoch"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = graft.functions.ColFns.boundedGlobal(col("epoch"))(col("epoch"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    persisted
      .withColumn("prev_best", coalesce(max("auc_val").over(wPrev), lit(0.0)))
      .withColumn("max_auc", max("auc_val").over(wAll))
      .withColumn("argmax_epoch",
        min(when(col("auc_val") === col("max_auc"), col("epoch"))).over(wAll))
      .withColumn("halvings",
        round(log(2.0, lit(0.02) / col("lr"))).cast("int"))
      .withColumn("sched_ok",
        (col("halvings") >=
          coalesce(lag("halvings", 1).over(
            graft.functions.ColFns.boundedGlobal(col("epoch"))(col("epoch"))), lit(0)))
          .cast("int"))
      .select(col("epoch"),
        round(col("train_loss"), 6).as("train_loss"),
        round(col("auc_val"), 6).as("auc_val"),
        round(col("grad_norm"), 6).as("grad_norm"),
        round(col("lr"), 8).as("lr"),
        col("clipped"), col("improved"),
        (col("clipped") === when(col("grad_norm") > 1.0, 1).otherwise(0))
          .cast("int").as("clip_ok"),
        (col("improved") === when(col("auc_val") > col("prev_best"), 1).otherwise(0))
          .cast("int").as("imp_ok"),
        col("halvings"), col("sched_ok"),
        (col("epoch") === col("best_epoch")).cast("int").as("is_best"),
        (col("best_auc") === col("max_auc") &&
          col("best_epoch") === col("argmax_epoch")).cast("int").as("best_ok"))
      .orderBy("epoch")
  }

  // M14: the reference's multi-tower ARCHITECTURE trained JOINTLY with
  // the AdamW loop (Neural_network_multi_towered_training.py:62-150 +
  // 703-790) — per-tower hidden layers, relu, concat, head, with head
  // gradients flowing through the tower layers. Closes the NN-fidelity
  // divergence that m7 (flat MLlib MLP, right loop missing) and m12
  // (right loop, linear model) each approximated from one side; the
  // trajectory and its m14b gate are exactly m12/m12b's.
  private def m14Fit(spark: SparkSession, dir: String): graft.ml.TrainLoop.Result =
    graft.core.AppCache.memo(spark, "graphml.m14Fit", dir)(
      graft.ml.TowerNet.train(
        LinkPredict.trainingSetCached(spark, dir, cap = 20000), epochs = 10))

  private def m14TowerLoop(spark: SparkSession, dir: String): DataFrame =
    trajectoryRows(spark, m14Fit(spark, dir))

  private def m14bTowerDeterministic(spark: SparkSession, dir: String): DataFrame =
    trajectoryGate(spark, dir, "m14_trajectory", m14Fit(spark, dir))

  // M15: the reference's LITERAL loop — shuffled batch-512 minibatches,
  // one AdamW step per batch, on the tower net (the last §7.4 loop
  // divergence, Neural_network_multi_towered_training.py:660,702-735;
  // m12/m14 are the full-batch forms, m13 the stream form). Per-epoch
  // log: mean batch loss, val AUC, last step's norm/clip. Rows-only;
  // m15b is the hash-gated trajectory-invariant twin.
  private def m15Fit(spark: SparkSession, dir: String): graft.ml.TrainLoop.Result =
    graft.core.AppCache.memo(spark, "graphml.m15Fit", dir)(
      graft.ml.TowerNet.trainMinibatch(
        LinkPredict.trainingSetCached(spark, dir, cap = 20000), epochs = 10))

  private def m15MinibatchLoop(spark: SparkSession, dir: String): DataFrame =
    trajectoryRows(spark, m15Fit(spark, dir))

  private def m15bMinibatchDeterministic(spark: SparkSession, dir: String): DataFrame =
    trajectoryGate(spark, dir, "m15_trajectory", m15Fit(spark, dir))

  // M13: the minibatch-stream AdamW demo — the one documented M9
  // divergence (full-batch step vs the reference's batch-512 loop)
  // closed as a demonstration entry: each stream micro-batch is one
  // optimizer step. Rows-only (the trajectory is model-coupled; the
  // mechanics are spec-asserted in PipelineArtifactsSpec).
  // the minibatch trajectory is a deterministic pure function of the
  // dir — run once per (app, dir) and share between m13 (rows) and its
  // hash-gated twin m13b
  private def m13Fit(spark: SparkSession, dir: String): graft.ml.AdamWTrainer.StreamResult =
    graft.core.AppCache.memo(spark, "graphml.m13Fit", dir)(
      // 2 epochs × 3 shards: enough steps to show descent + epoch replay;
      // every extra shard is another per-step barrier (the cost the entry
      // demonstrates), so the demo stays small by design
      graft.ml.AdamWTrainer.trainMinibatchStream(spark,
        LinkPredict.trainingSetCached(spark, dir, cap = 20000),
        epochs = 2, nBatches = 3,
        stageDir = Artifacts.freshScratchDir(spark, "m13", dir)))

  private def m13MinibatchStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val r = m13Fit(spark, dir)
    r.steps.map(s => (s.epoch, s.step, math.round(s.trainLoss * 1e6) / 1e6,
        math.round(s.gradNorm * 1e6) / 1e6, if (s.clipped) 1 else 0))
      .toDF("epoch", "step", "train_loss", "grad_norm", "clipped")
  }

  // M13b: the minibatch trajectory persisted at FULL precision and the
  // stream-loop invariants recomputed RELATIONALLY from the persisted
  // bits in both engines — the m12b technique applied to the micro-batch
  // loop. gstep_ok: the optimizer's global step counter is exactly the
  // row ordinal over (epoch, step) — no micro-batch was dropped,
  // duplicated, or reordered across the per-epoch AvailableNow replays.
  // clip_ok: clipping fired exactly when the pre-clip norm exceeded 1.
  // replay_ok: every epoch replayed the SAME shard at the same step
  // ordinal (the deterministic file-order contract) — its row count is
  // identical across epochs. steps_ok: every epoch delivered the same
  // number of optimizer steps.
  private def m13bMinibatchDeterministic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val r = m13Fit(spark, dir)
    val persisted = Artifacts.write(spark, dir, "m13_steps",
      r.steps.map(s => (s.epoch, s.step, s.gstep, s.trainLoss, s.gradNorm,
          if (s.clipped) 1 else 0, s.n, s.fp))
        .toDF("epoch", "step", "gstep", "train_loss", "grad_norm", "clipped",
          "n", "fp"))
    val wOrd = graft.functions.ColFns.boundedGlobal(col("epoch"))(
      col("epoch"), col("step"))
    val wStep = Window.partitionBy("step")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wEpoch = Window.partitionBy("epoch")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wAll = graft.functions.ColFns.boundedGlobal(col("epoch"))(col("epoch"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    persisted
      .withColumn("ord", row_number().over(wOrd))
      .withColumn("n_min", min("n").over(wStep))
      .withColumn("n_max", max("n").over(wStep))
      .withColumn("fp_min", min("fp").over(wStep))
      .withColumn("fp_max", max("fp").over(wStep))
      .withColumn("steps_in_epoch", count(lit(1)).over(wEpoch))
      .withColumn("min_steps", min("steps_in_epoch").over(wAll))
      .withColumn("max_steps", max("steps_in_epoch").over(wAll))
      .select(col("epoch"), col("step"), col("gstep"),
        round(col("train_loss"), 6).as("train_loss"),
        round(col("grad_norm"), 6).as("grad_norm"),
        col("clipped"), col("n"),
        (col("gstep") === col("ord")).cast("int").as("gstep_ok"),
        (col("clipped") === when(col("grad_norm") > 1.0, 1).otherwise(0))
          .cast("int").as("clip_ok"),
        // count AND content: equal-sized shards visited in a different
        // order across epochs must fail the gate, so replay_ok also
        // pins the per-step content fingerprint
        (col("n_min") === col("n_max") &&
          col("fp_min") === col("fp_max")).cast("int").as("replay_ok"),
        (col("min_steps") === col("max_steps")).cast("int").as("steps_ok"))
      .orderBy("epoch", "step")
  }

  // M3b: the incremental-trainer POLICY under the hash gate — two
  // training rounds over the dir's corpus sharing a fresh registry
  // (round 0 trains from scratch; round 1 probes the persisted model,
  // then scratch-retrains per the reference's forced policy), the full
  // decision trail persisted, and every policy rule re-derived
  // relationally from the persisted measurements in both engines:
  // SMOTE iff imbalance > 5:1, overfit gate iff gap ≤ 0.06, accept ≡
  // gate, revert ≡ ¬accept, warm-start iff a prior round was accepted,
  // probe alert iff drop > 0.02, history length ≡ cumulative accepts
  // (reference xgboost_training_for_big_data.py:512-660).
  private def m3bIncrementalPolicy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val state = Artifacts.freshScratchDir(spark, "m3_state", dir)
    val data = LinkPredict.trainingSetCached(spark, dir, cap = 20000)
    val runs = Seq(0, 1).map { i =>
      // lr at 5 iters: the ENTRY attests the accept/revert/SMOTE/probe
      // POLICY, which is invariant to fit convergence — the measurements
      // it gates on (gap, ratio, drop) are persisted and re-derived,
      // whatever the fit quality; fewer L-BFGS passes keep the two
      // sequential rounds cheap (convergence parity itself is m2's job)
      val m = LinkPredict.incrementalTrain(spark, data, s"$state/model",
        s"$state/history.jsonl", algo = "lr", lrMaxIter = 4)
      (i, m("prev_exists").toInt, m("n_pos").toLong, m("n_neg").toLong,
        m("imbalance_ratio"), m("smote_applied").toInt,
        m("auc_train"), m("auc_val"), m("overfit_gap"), m("gate_pass").toInt,
        m("probe_drop"), m("probe_alert").toInt, m("accepted").toInt,
        m("reverted").toInt,
        graft.ml.ModelRegistry.readHistory(s"$state/history.jsonl").length.toLong)
    }
    val persisted = Artifacts.write(spark, dir, "m3_policy",
      runs.toDF("run", "prev_exists", "n_pos", "n_neg", "imb_ratio",
        "smote_applied", "auc_train", "auc_val", "overfit_gap", "gate_pass",
        "probe_drop", "probe_alert", "accepted", "reverted", "history_len"))
    val wPrior = graft.functions.ColFns.boundedGlobal(col("run"))(col("run"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = graft.functions.ColFns.boundedGlobal(col("run"))(col("run"))
      .rowsBetween(Window.unboundedPreceding, 0)
    persisted
      .withColumn("accepted_before", coalesce(sum("accepted").over(wPrior), lit(0L)))
      .select(col("run"), col("prev_exists"), col("n_pos"), col("n_neg"),
        round(col("imb_ratio"), 6).as("imb_ratio"),
        col("smote_applied"), round(col("auc_val"), 6).as("auc_val"),
        round(col("overfit_gap"), 6).as("overfit_gap"),
        col("gate_pass"), col("accepted"), col("reverted"), col("history_len"),
        (col("smote_applied") === when(col("imb_ratio") > 5.0, 1).otherwise(0))
          .cast("int").as("smote_ok"),
        (col("gate_pass") === when(col("overfit_gap") <= 0.06, 1).otherwise(0))
          .cast("int").as("gate_ok"),
        (col("accepted") === col("gate_pass")).cast("int").as("accept_ok"),
        (col("reverted") === lit(1) - col("accepted")).cast("int").as("revert_ok"),
        (col("prev_exists") === when(col("accepted_before") > 0, 1).otherwise(0))
          .cast("int").as("warm_ok"),
        (col("probe_alert") === when(col("probe_drop") > 0.02, 1).otherwise(0))
          .cast("int").as("probe_ok"),
        (col("history_len") === sum("accepted").over(wCum)).cast("int").as("hist_ok"),
        (col("imb_ratio") === col("n_neg").cast("double") / col("n_pos"))
          .cast("int").as("ratio_ok"))
      .orderBy("run")
  }

  // M10: the balanced class-weight computation under the hash gate —
  // the train-split class counts persisted (the split rule is
  // LinkPredict.train's own: hash(customer,product) seed 41, 0.8), the
  // reference's compute_class_weight('balanced') ≡ n/(2·n_c)
  // (Neural_network_multi_towered_training.py:647-649) recomputed
  // relationally from the persisted counts in both engines. This is the
  // exact weight LinkPredict.train puts on each row (AdamWTrainer's
  // pos_weight is the same balancing idea on its own split/seed —
  // nNeg/nPos, seed 47 — so its artifact would differ; M10's gate
  // lives here).
  private def m10ClassWeights(spark: SparkSession, dir: String): DataFrame = {
    val data = LinkPredict.trainingSetCached(spark, dir, cap = 20000)
    val trainSplit = data.filter(graft.functions.ColFns.pseudoUniform(
      xxhash64(col("customer"), col("product")), 41L) < 0.8)
    val persisted = Artifacts.write(spark, dir, "m10_class_counts",
      trainSplit.groupBy("label").agg(count(lit(1)).as("n_c")))
    val wAll = graft.functions.ColFns.boundedGlobal(col("label"))(col("label"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    persisted
      .withColumn("total", sum("n_c").over(wAll))
      .select(col("label"), col("n_c"),
        round(col("total").cast("double") / (lit(2.0) * col("n_c")), 6).as("weight"),
        round(col("n_c").cast("double") / col("total"), 6).as("frac"))
      .orderBy("label")
  }

  // M11b: the GBT's feature importances persisted, the ranked list
  // recomputed relationally from the persisted bits — hash-gated twin
  // of the rows-only m11 (the fit is model-coupled; ranking is not).
  private def m11bImportanceRanked(spark: SparkSession, dir: String): DataFrame = {
    val r = fit(spark, dir, "gbt")
    import spark.implicits._
    val persisted = Artifacts.write(spark, dir, "m11_importances",
      r.importances.toDF("feature", "importance"))
    persisted
      .withColumn("rank",
        row_number().over(graft.functions.ColFns.boundedGlobal(col("feature"))(
          desc("importance"), asc("feature"))))
      .select(col("rank"), col("feature"), round(col("importance"), 6).as("importance"))
      .orderBy("rank")
  }

  // The m2 pair of LR fits and the m7 MLP fit are deterministic pure
  // functions of the dir — memoize per (app, dir) so the rows-only
  // entries and their deterministic twins (m2b/m7b) share one fit.
  private def m2Fits(spark: SparkSession, dir: String)
      : (LinkPredict.TrainResult, LinkPredict.TrainResult) =
    graft.core.AppCache.memo(spark, "graphml.m2Fits", dir) {
      // lrMaxIter = 5: measured convergence point on the 4-month corpus —
      // auc_val/overfit_gap stable to 4+ decimals at 5/6/8/10/15 iters.
      // The twins share the materialized base corpus.
      (LinkPredict.train(spark,
        LinkPredict.multiDateTrainingSet(spark, dir, withDiscount = true), "lr",
        lrMaxIter = 5),
       LinkPredict.train(spark,
        LinkPredict.multiDateTrainingSet(spark, dir, withDiscount = false), "lr",
        lrMaxIter = 5))
    }

  private def m7Fit(spark: SparkSession, dir: String): graft.ml.MultiTower.Result =
    graft.core.AppCache.memo(spark, "graphml.m7Fit", dir)(
      // 12 L-BFGS passes (vs the library's 40 default): m7b's gate
      // recomputes metric math from the persisted scores whatever the
      // fit depth, and separability is reached well before 12 — the
      // same fit-floor trim as the GBT entries
      graft.ml.MultiTower.train(spark,
        LinkPredict.trainingSetCached(spark, dir, cap = 20000), maxIter = 12))

  // M2: discount model over the 4 simulated training dates + its
  // no-discount twin, as one comparison row each
  private def m2MultiDateMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (withD, noD) = m2Fits(spark, dir)
    Seq(("discount", withD.metrics("auc_val"), withD.metrics("n_train")),
      ("no_discount", noD.metrics("auc_val"), noD.metrics("n_train")))
      .toDF("model", "auc_val", "n_train")
  }

  // M7/M8: multi-tower MLP with per-tower standardization
  private def m7MlpMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    m7Fit(spark, dir).metrics.toSeq.sortBy(_._1).toDF("metric", "value")
  }

  /** probability[1] of an MLlib probabilistic classifier's output. */
  private def p1Col =
    org.apache.spark.ml.functions.vector_to_array(col("probability")).getItem(1)

  // M1b: the GBT's validation scores persisted, then the full metric
  // report (confusion at 0.5 + Mann–Whitney AUC) recomputed from the
  // persisted bits — hash-gated twin of the rows-only m1.
  private def m1bGbtDeterministic(spark: SparkSession, dir: String): DataFrame = {
    val r = fit(spark, dir, "gbt")
    val persisted = Artifacts.write(spark, dir, "m1_scored",
      r.scoredVal.select(col("label"), p1Col.as("p")))
    val aucV = graft.ml.Metrics.auc(persisted, "label", col("p"))
    graft.ml.Metrics.confusion(persisted, "label", col("p"), 0.5)
      .withColumn("auc", round(lit(aucV), 6))
  }

  // M2b: both multi-date LR models' validation scores persisted with a
  // model tag; per-model AUC recomputed relationally from the bits.
  private def m2bMultidateDeterministic(spark: SparkSession, dir: String): DataFrame = {
    val (withD, noD) = m2Fits(spark, dir)
    val persisted = Artifacts.write(spark, dir, "m2_scored",
      withD.scoredVal.select(lit("discount").as("model"), col("label"), p1Col.as("p"))
        .unionByName(
          noD.scoredVal.select(lit("no_discount").as("model"), col("label"), p1Col.as("p"))))
    val byScore = persisted.groupBy("model", "p")
      .agg(count(lit(1)).as("n"), sum("label").as("npos"))
    val w = Window.partitionBy("model").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = byScore.withColumn("before", coalesce(sum("n").over(w), lit(0L)))
      .withColumn("avg_rank", col("before") + (col("n") + 1.0) / 2.0)
    ranked.groupBy("model").agg(
      sum(col("npos") * col("avg_rank")).as("rank_pos"),
      sum("npos").as("np"), sum(col("n") - col("npos")).as("nn"),
      sum("n").as("n_val"))
      .select(col("model"),
        round((col("rank_pos") - col("np") * (col("np") + 1.0) / 2.0) /
          (col("np") * col("nn")), 6).as("auc_val"),
        col("n_val"))
      .orderBy("model")
  }

  // M7b: the MLP's validation (label, p, prediction) persisted; AUC and
  // accuracy recomputed from the bits.
  private def m7bMlpDeterministic(spark: SparkSession, dir: String): DataFrame = {
    val persisted = Artifacts.write(spark, dir, "m7_scored", m7Fit(spark, dir).scoredVal)
    val aucV = graft.ml.Metrics.auc(persisted, "label", col("p"))
    persisted.agg(
      count(lit(1)).as("n_val"),
      sum(when(col("prediction") === col("label"), 1L).otherwise(0L)).as("n_correct"))
      .select(col("n_val"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n_val"), 6).as("accuracy"),
        round(lit(aucV), 6).as("auc_val"))
  }

  // S8: JSON metrics history sink/source roundtrip — deterministic
  // data-derived "metrics" (no model coupling) appended twice to the
  // registry's line-JSON history and read back; the oracle recomputes
  // both epochs straight from orders. Exercises appendHistory's
  // serialization and readHistory's parse under the hash gate
  // (xgboost_training_for_big_data.py:858-887 perf history).
  private def s8HistoryRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val metrics = Tables.orders(spark, dir).groupBy("o_orderstatus")
      .agg(round(sum("o_totalprice"), 2).as("v"))
      .collect().map(r => s"total_${r.getString(0)}" -> r.getDouble(1)).toMap
    val path = s"${Artifacts.freshScratchDir(spark, "s8_history", dir)}/history.json"
    graft.ml.ModelRegistry.appendHistory(path, metrics)
    graft.ml.ModelRegistry.appendHistory(path, metrics.map { case (k, v) => k -> (v + 1.0) })
    graft.ml.ModelRegistry.readHistory(path).zipWithIndex.flatMap { case (m, i) =>
      m.toSeq.sortBy(_._1).map { case (k, v) => (i.toLong, k, v) }
    }.toDF("epoch", "metric", "value").orderBy("epoch", "metric")
  }

  // M6: pre-retrain compatibility probe as a DETERMINISTIC policy query:
  // the "previous" AUC (first half of the data, monotone stored-value
  // score) goes through the JSON history file exactly as the registry
  // records real fits; the "new" AUC comes from the second half; the
  // alert fires on a drop > 0.02 (xgboost_training_for_big_data
  // .py:858-873). Double.toString round-trips, so the history hop is
  // bit-exact and the whole policy sits under the DuckDB hash gate.
  // (compatProbe on real saved models is exercised in ModelRegistrySpec.)
  private def m6CompatProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir).select(col("o_orderkey"),
      when(col("o_orderstatus") === "F", 1.0).otherwise(0.0).as("label"),
      col("o_totalprice").as("p"))
    val prevAuc = graft.ml.Metrics.auc(
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0), "label", col("p"))
    val path = s"${Artifacts.freshScratchDir(spark, "m6_history", dir)}/history.json"
    graft.ml.ModelRegistry.appendHistory(path, Map("auc_val" -> prevAuc))
    val prev = graft.ml.ModelRegistry.readHistory(path).last("auc_val")
    val newAuc = graft.ml.Metrics.auc(
      o.filter(pmod(col("o_orderkey"), lit(2)) === 1), "label", col("p"))
    val drop = prev - newAuc
    Seq((BigDecimal(prev).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(newAuc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      // + 0.0 normalizes IEEE -0.0 (DuckDB's round keeps the sign of a
      // negative drop that rounds to zero; BigDecimal has no -0)
      BigDecimal(drop).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0,
      if (drop > 0.02) 1L else 0L))
      .toDF("prev_auc", "new_auc", "auc_drop", "alert")
  }

  // M8: per-tower standardization — MLlib StandardScaler fit per feature
  // block exactly as the multi-tower trainer scales its towers
  // (Neural_network_multi_towered_training.py:610-631), on integer-count
  // features so both engines' moments are effectively exact. round(4):
  // the scaler's streaming moments differ from SQL's exact-sum moments
  // by ~1e-12 relative, far inside 1e-4 but not inside 1e-7.
  private def m8TowerScaling(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
    import org.apache.spark.ml.functions.vector_to_array
    val orders = Tables.orders(spark, dir)
    val degT = orders.groupBy(col("o_custkey").as("ck"))
      .agg(count(lit(1)).cast("double").as("n_orders"))
    val lineT = orders
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_custkey").as("ck"))
      .agg(count(lit(1)).cast("double").as("n_lines"), sum("l_quantity").as("total_qty"))
    val feats = degT.join(lineT, Seq("ck"))
    val assembled = new VectorAssembler().setInputCols(Array("n_lines", "total_qty"))
      .setOutputCol("t2").transform(
        new VectorAssembler().setInputCols(Array("n_orders"))
          .setOutputCol("t1").transform(feats))
    val sc1 = new StandardScaler().setInputCol("t1").setOutputCol("t1s")
      .setWithMean(true).setWithStd(true).fit(assembled)
    val sc2 = new StandardScaler().setInputCol("t2").setOutputCol("t2s")
      .setWithMean(true).setWithStd(true).fit(assembled)
    sc2.transform(sc1.transform(assembled))
      .select(col("ck").as("c_custkey"),
        // + 0.0: z-scores straddle zero, and a negative value rounding
        // to zero is -0.0 in DuckDB but +0.0 after Spark's round
        (round(vector_to_array(col("t1s")).getItem(0), 4) + lit(0.0)).as("z_orders"),
        (round(vector_to_array(col("t2s")).getItem(0), 4) + lit(0.0)).as("z_lines"),
        (round(vector_to_array(col("t2s")).getItem(1), 4) + lit(0.0)).as("z_qty"))
      .orderBy("c_custkey")
  }

  // GraphX-engine analytics (materialized from the DataFrame tables on
  // demand): weakly connected components and PageRank over the full
  // e-commerce graph
  private def gxConnectedComponents(spark: SparkSession, dir: String): DataFrame = {
    val g = graft.graph.GraphBuilder.fromTpch(spark, dir)
    graft.graph.GraphXAnalytics.connectedComponents(spark, g)
      .groupBy("component").agg(count(lit(1)).as("size"))
      .orderBy(desc("size"), asc("component"))
  }

  private def gxPageRank(spark: SparkSession, dir: String): DataFrame = {
    val g = graft.graph.GraphBuilder.fromTpch(spark, dir)
    graft.graph.GraphXAnalytics.pageRank(spark, g, iters = 5)
      .orderBy(desc("rank"), asc("id")).limit(100)
  }

  // Landmark BFS over the property graph: every vertex's hop distance
  // to its nearest Location hub (loc_*), min-hub-id tie-break, radius 8
  // — the "distance to regional hub" enrichment feature. The oracle
  // unrolls the identical synchronous relaxation in SQL (the ccSql
  // technique), so dist/hub match exactly by construction.
  private def gxShortestPaths(spark: SparkSession, dir: String): DataFrame = {
    val g = graft.graph.GraphBuilder.fromTpch(spark, dir)
    graft.graph.GraphXAnalytics.shortestPaths(spark, g, "loc_", rounds = 8)
  }

  // GraphX triangle count on the KNN similarity graph (the e-commerce
  // property graph is multi-partite — triangles only exist among mutual
  // similarity neighbors). Clustering structure = community cohesion
  // evidence; counts are exact and carry a 3-way self-join SQL oracle.
  private def gxTriangles(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphXAnalytics.triangles(spark,
        graft.sim.KnnCache.topk(spark, dir, 5).select("src", "dst"))
      .select(col("id").cast("long").as("vec_id"), col("triangles"))
      .orderBy("vec_id")

  // Deterministic sync label propagation on the KNN similarity graph —
  // 4 rounds, most-frequent-neighbor label with min-label tie-break;
  // per-round SQL mirror (same unrolled-CTE technique as PageRank/CC)
  private def gxLabelPropagation(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphXAnalytics.labelPropagation(spark,
        graft.sim.KnnCache.topk(spark, dir, 5).select("src", "dst"), rounds = 4)
      .select(col("id").cast("long").as("vec_id"), col("lbl").cast("long").as("label"))
      .orderBy("vec_id")

  // k-core peeling of the KNN similarity graph: k=6, 2 bounded rounds
  // (the full 6-core is empty — round 3 peels the last 71 survivors —
  // so the bounded-rounds contract doubles as the interesting slice of
  // the peeling cascade: 500 -> 306 -> 71 nodes); SQL oracle unrolls
  // exactly the same rounds
  private def gxKCore(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphXAnalytics.kCore(spark,
        graft.sim.KnnCache.topk(spark, dir, 5).select("src", "dst"), k = 6, rounds = 2)
      .select(col("id").cast("long").as("vec_id"), col("core_degree"))
      .orderBy("vec_id")

  // M9 (eval depth): calibration curve over the deterministic scored set
  // — decile score buckets vs observed positive rate; integer counts +
  // one division per bucket keep it bit-exact (the reliability check a
  // production scorer ships with)
  private def m9Calibration(spark: SparkSession, dir: String): DataFrame = {
    val scored = detScored(spark, dir)
      .select(col("label"), least(lit(9L),
        floor(col("p") / 60000.0).cast("long")).as("bucket"))
    scored.groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        sum(col("label").cast("long")).as("n_pos"),
        (sum(col("label").cast("long")).cast("double") / count(lit(1)))
          .as("pos_rate"))
      .orderBy("bucket")
  }

  // G8: bipartite projection — the customer–product purchase graph
  // projected onto customer–customer co-purchase edges (shared products
  // ≥ 3). Hub products are capped FIRST (≤ 30 distinct buyers): a hub
  // with B buyers contributes B² projected pairs, so at corpus scale
  // unfiltered projection explodes on exactly the products that carry
  // the least similarity signal — the standard projection trick.
  private def g8CopurchaseProjection(spark: SparkSession, dir: String): DataFrame = {
    val pp = graft.graph.Links.purchasePairsNumeric(spark, dir)
    val small = pp.groupBy("product").agg(count(lit(1)).as("buyers"))
      .filter(col("buyers") <= 30).select("product")
    // both self-join legs consume p; un-materialized, the executed plan
    // evaluated the cap subtree (pair scan + buyers agg + join) twice —
    // one checkpoint makes the self-join read the capped table twice
    // instead of computing it twice (guide §2.4)
    val p = pp.join(small, "product").localCheckpoint(true)
    val a = p.select(col("product"), col("customer").as("cust_a"))
    val b = p.select(col("product"), col("customer").as("cust_b"))
    a.join(b, "product").filter(col("cust_a") < col("cust_b"))
      .groupBy("cust_a", "cust_b").agg(count(lit(1)).as("shared_products"))
      .filter(col("shared_products") >= 3)
      .orderBy("cust_a", "cust_b")
  }

  // GX: personalized PageRank recommendation — random walk with restart
  // over the customer–product bipartite purchase graph, seeded at the
  // most active customer (max distinct products, seed-id tie-break):
  // the classic graph-based recommender (Pixie/P3α family) that the
  // reference's co-purchase heuristics approximate. 5 synchronous
  // rounds of r' = 0.15·pref + 0.85·Σ r/deg over the undirected edge
  // multiset, then top-20 UNPURCHASED products by rounded rank. The
  // seed is a 1-row TakeOrdered plan broadcast into the preference
  // vector — no driver collect. Scale shape: one groupBy(dst) shuffle
  // per round with lineage truncated round-by-round (the
  // labelPropagation discipline); degree and seed ride broadcasts; at
  // 100 TB the walk frontier is the only corpus-sized exchange, and
  // hub products were capped upstream the same way g8 caps them.
  private def gxPprRecommend(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pp = graft.graph.Links.purchasePairsNumeric(spark, dir)
    if (pp.count() <= 2500000L) {
      // dense bipartite kernel: ONE bounded collect of the (already
      // checkpointed) numeric pair table — 16 bytes/pair — replaces the
      // string-edge materialization + 5 shuffle rounds + anti-join jobs
      // whose scheduling floor dominates at this size (the pageRank
      // hybrid discipline; identical recurrence, float sum order
      // absorbed by the 6-decimal round)
      val rows = pp.select(col("customer"), col("product")).as[(Long, Long)]
        .collect()
      val m = rows.length
      val cIdx = new java.util.HashMap[Long, Integer](2 * m)
      val pIdx = new java.util.HashMap[Long, Integer](2 * m)
      val cIds = new scala.collection.mutable.ArrayBuffer[Long]()
      val pIds = new scala.collection.mutable.ArrayBuffer[Long]()
      def of(map: java.util.HashMap[Long, Integer],
             ids: scala.collection.mutable.ArrayBuffer[Long], k: Long): Int = {
        val got = map.get(k)
        if (got != null) got.intValue()
        else { val i = ids.length; map.put(k, i); ids += k; i }
      }
      val ec = new Array[Int](m); val ep = new Array[Int](m)
      var e = 0
      while (e < m) {
        ec(e) = of(cIdx, cIds, rows(e)._1); ep(e) = of(pIdx, pIds, rows(e)._2)
        e += 1
      }
      val nc = cIds.length; val np = pIds.length
      val degC = new Array[Int](nc); val degP = new Array[Int](np)
      e = 0; while (e < m) { degC(ec(e)) += 1; degP(ep(e)) += 1; e += 1 }
      // seed: max distinct products, 'c<id>' STRING tie-break (the
      // oracle's concat('c', customer) ASC ordering)
      var seedC = 0
      var c = 1
      while (c < nc) {
        if (degC(c) > degC(seedC) ||
          (degC(c) == degC(seedC) && s"c${cIds(c)}" < s"c${cIds(seedC)}"))
          seedC = c
        c += 1
      }
      var rc = new Array[Double](nc); rc(seedC) = 1.0
      var rp = new Array[Double](np)
      var it = 0
      while (it < 5) {
        val nxtC = new Array[Double](nc); val nxtP = new Array[Double](np)
        e = 0
        while (e < m) {
          nxtP(ep(e)) += rc(ec(e)) / degC(ec(e))
          nxtC(ec(e)) += rp(ep(e)) / degP(ep(e))
          e += 1
        }
        var v = 0
        while (v < nc) { nxtC(v) *= 0.85; v += 1 }
        v = 0
        while (v < np) { nxtP(v) *= 0.85; v += 1 }
        nxtC(seedC) += 0.15
        rc = nxtC; rp = nxtP
        it += 1
      }
      val bought = new java.util.HashSet[Integer]()
      e = 0; while (e < m) { if (ec(e) == seedC) bought.add(ep(e)); e += 1 }
      // BigDecimal HALF_UP on the exact double, matching Spark's
      // round(x, 6) and the oracle (math.round(x*1e6) drifts at FP
      // half-way boundaries via the *1e6 product error)
      def round6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val top = (0 until np).iterator
        .filter(v => !bought.contains(v))
        .map(v => (pIds(v), round6(rp(v))))
        .toSeq.sortBy { case (pid, r) => (-r, pid) }.take(20)
      spark.createDataFrame(top).toDF("product", "rank")
    } else {
      // corpus-scale fallback: the generic string-id hybrid (one
      // groupBy-shuffle per round over checkpointed statics)
      val fwd = pp.select(concat(lit("c"), col("customer")).as("src"),
        concat(lit("p"), col("product")).as("dst"))
      val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seedId = pp.groupBy("customer").agg(countDistinct("product").as("np"))
        .select(concat(lit("c"), col("customer")).as("seed_id"), col("np"))
        .orderBy(desc("np"), asc("seed_id")).limit(1)
        .select("seed_id").as[String].head()
      val pr = graft.graph.GraphXAnalytics.personalizedPageRank(
        spark, edges, seedId, iters = 5, seqMaxEdges = 0L)
      val purchased = pp
        .filter(concat(lit("c"), col("customer")) === seedId)
        .select(concat(lit("p"), col("product")).as("id"))
      pr.filter(col("id").startsWith("p"))
        .join(purchased, Seq("id"), "left_anti")
        .select(expr("CAST(substring(id, 2) AS BIGINT)").as("product"),
          round(col("rank"), 6).as("rank"))
        .orderBy(desc("rank"), asc("product")).limit(20)
    }
  }

  // G6/§2.12 depth: SCD2 interval versioning — the dvid-tagged upsert
  // history (j2's injections) rewritten as validity intervals per key:
  // valid_from = the version that wrote the row, valid_to = the next
  // version minus one (9999 = still current). One window pass, the
  // standard warehouse "time-travel by version" layout.
  private def g7Scd2Intervals(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(spark, dir)
    val inj1 = o.filter(pmod(col("o_orderkey"), lit(5)).isin(0, 1))
      .select(col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"), lit(1).as("dvid"))
    val inj2 = o.filter(pmod(col("o_orderkey"), lit(5)).isin(1, 2))
      .select(col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
        (col("o_totalprice") * 1.1).as("price"), lit(2).as("dvid"))
    val w = Window.partitionBy("id").orderBy("dvid")
    inj1.unionByName(inj2)
      .withColumn("valid_to",
        coalesce(lead(col("dvid"), 1).over(w) - 1, lit(9999)))
      .select(col("id"), col("status"), col("price"),
        col("dvid").as("valid_from"), col("valid_to"))
      .orderBy("id", "valid_from")
  }

  /** DuckDB mirror of GraphX staticPageRank(5): initial rank 1.0, five
    * unrolled `0.15 + 0.85·Σ(rank/outdeg)` passes over the raw edge
    * multiset (multi-edges each carry a message, exactly as
    * aggregateMessages does), then the final ranks scaled so they sum to
    * |V| (PageRank.normalizeRankSum, non-personalized branch — verified
    * against the Spark 4.1 bytecode: runWithOptions delegates with
    * normalized=true). Vertices are edge endpoints only (Graph.fromEdges).
    * Both engines order by the ROUNDED rank with id tiebreak, so the
    * top-100 cut is identical as long as the rounded values agree. */
  private def pageRankSql(iters: Int, k: Int): String = {
    val steps = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT v.id, 0.15 + 0.85 * coalesce(m.s, 0.0) AS rank
         |  FROM verts v LEFT JOIN (
         |    SELECT e.dst AS id, sum(p.rank / d.od) AS s
         |    FROM edges e JOIN pr${i - 1} p ON p.id = e.src
         |    JOIN deg d ON d.id = e.src
         |    GROUP BY e.dst) m ON m.id = v.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${GraphSql.edgesCte},
       |verts AS (SELECT DISTINCT id FROM (
       |  SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges)),
       |deg AS (SELECT src AS id, count(*) AS od FROM edges GROUP BY src),
       |pr0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM verts),
       |$steps,
       |fin AS (
       |  SELECT id, round(rank * (SELECT count(*) FROM verts) /
       |    (SELECT sum(rank) FROM pr$iters), 6) AS rank
       |  FROM pr$iters)
       |SELECT id, rank FROM fin ORDER BY rank DESC, id ASC LIMIT $k""".stripMargin
  }

  // deterministic (label, score) set shared by the m4b/m5b oracles
  private val detScoredCte =
    """scored AS (
      |  SELECT CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS DOUBLE) AS label,
      |         o_totalprice AS p
      |  FROM orders)""".stripMargin

  /** Mann–Whitney AUC + confusion report mirror of graft.ml.Metrics
    * (auc + confusion) over a `scored(label, p)` CTE. npos·avg_rank is
    * always a half-integer below 2^52, so the sum is EXACT under any
    * aggregation order — the AUC matches Spark bit-for-bit, no rounding
    * slack needed (round(6) kept for presentation parity only). Shared
    * by m4b (deterministic price scores) and m1b (persisted GBT
    * scores). */
  private def metricsReportSql(scoredCte: String, threshold: String): String =
    s"""WITH $scoredCte,
       |by_score AS (
       |  SELECT p AS s, count(*) AS n, sum(label) AS npos FROM scored GROUP BY p),
       |ranked AS (
       |  SELECT n, npos,
       |    coalesce(sum(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) + (n + 1.0) / 2.0 AS avg_rank
       |  FROM by_score),
       |aucagg AS (
       |  SELECT sum(npos * avg_rank) AS rank_pos, sum(npos) AS np,
       |         sum(n - npos) AS nn
       |  FROM ranked),
       |conf AS (
       |  SELECT
       |    CAST(sum(CASE WHEN p >= $threshold AND label = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN p >= $threshold AND label = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN p < $threshold AND label = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(sum(CASE WHEN p < $threshold AND label = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM scored),
       |m AS (
       |  SELECT tp, fp, fn, tn,
       |    round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy,
       |    round(CAST(tp AS DOUBLE) / greatest(tp + fp, 1), 6) AS "precision",
       |    round(CAST(tp AS DOUBLE) / greatest(tp + fn, 1), 6) AS recall
       |  FROM conf)
       |SELECT tp, fp, fn, tn, accuracy, "precision", recall,
       |  round(CASE WHEN "precision" + recall = 0.0 THEN 0.0
       |    ELSE 2.0 * "precision" * recall / ("precision" + recall) END, 6) AS f1,
       |  (SELECT round((rank_pos - np * (np + 1.0) / 2.0) / (np * nn), 6)
       |   FROM aucagg) AS auc
       |FROM m""".stripMargin

  private val m4bSql = metricsReportSql(detScoredCte, "150000.0")

  private def trajectoryGateSql(name: String): String =
    s"""WITH t AS (SELECT * FROM ${Artifacts.sql(name)}),
         |w AS (SELECT t.*,
         |    coalesce(max(auc_val) OVER (ORDER BY epoch
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS prev_best,
         |    max(auc_val) OVER () AS max_auc,
         |    CAST(round(log2(0.02 / lr)) AS INT) AS halvings
         |  FROM t),
         |w2 AS (SELECT w.*,
         |    min(CASE WHEN auc_val = max_auc THEN epoch END) OVER () AS argmax_epoch
         |  FROM w)
         |SELECT epoch,
         |  round(train_loss, 6) AS train_loss,
         |  round(auc_val, 6) AS auc_val,
         |  round(grad_norm, 6) AS grad_norm,
         |  round(lr, 8) AS lr,
         |  clipped, improved,
         |  CAST(clipped = (CASE WHEN grad_norm > 1.0 THEN 1 ELSE 0 END) AS INT) AS clip_ok,
         |  CAST(improved = (CASE WHEN auc_val > prev_best THEN 1 ELSE 0 END) AS INT) AS imp_ok,
         |  halvings,
         |  CAST(halvings >= coalesce(lag(halvings) OVER (ORDER BY epoch), 0) AS INT) AS sched_ok,
         |  CAST(epoch = best_epoch AS INT) AS is_best,
         |  CAST(best_auc = max_auc AND best_epoch = argmax_epoch AS INT) AS best_ok
         |FROM w2 ORDER BY epoch""".stripMargin


  private val m1bSql = metricsReportSql(
    s"scored AS (SELECT label, p FROM ${Artifacts.sql("m1_scored")})", "0.5")

  private val m2bSql =
    s"""WITH sc AS (SELECT model, label, p FROM ${Artifacts.sql("m2_scored")}),
       |by_score AS (
       |  SELECT model, p AS s, count(*) AS n, sum(label) AS npos
       |  FROM sc GROUP BY model, p),
       |ranked AS (
       |  SELECT model, n, npos,
       |    coalesce(sum(n) OVER (PARTITION BY model ORDER BY s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      + (n + 1.0) / 2.0 AS avg_rank
       |  FROM by_score),
       |agg AS (
       |  SELECT model, sum(npos * avg_rank) AS rank_pos, sum(npos) AS np,
       |         sum(n - npos) AS nn, CAST(sum(n) AS BIGINT) AS n_val
       |  FROM ranked GROUP BY model)
       |SELECT model,
       |       round((rank_pos - np * (np + 1.0) / 2.0) / (np * nn), 6) AS auc_val,
       |       n_val
       |FROM agg ORDER BY model""".stripMargin

  private val m7bSql =
    s"""WITH sc AS (SELECT label, p, prediction FROM ${Artifacts.sql("m7_scored")}),
       |by_score AS (
       |  SELECT p AS s, count(*) AS n, sum(label) AS npos FROM sc GROUP BY p),
       |ranked AS (
       |  SELECT n, npos,
       |    coalesce(sum(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) + (n + 1.0) / 2.0 AS avg_rank
       |  FROM by_score),
       |aucagg AS (
       |  SELECT sum(npos * avg_rank) AS rank_pos, sum(npos) AS np,
       |         sum(n - npos) AS nn FROM ranked),
       |acc AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_val,
       |         CAST(sum(CASE WHEN prediction = label THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_correct
       |  FROM sc)
       |SELECT n_val, n_correct,
       |       round(CAST(n_correct AS DOUBLE) / n_val, 6) AS accuracy,
       |       (SELECT round((rank_pos - np * (np + 1.0) / 2.0) / (np * nn), 6)
       |        FROM aucagg) AS auc_val
       |FROM acc""".stripMargin

  private val m5bSql = {
    // full-precision literals: Double.toString round-trips, so DuckDB
    // parses the exact same 64-bit threshold values Scala computed
    val ths = sweepThresholds.map(java.lang.Double.toString).mkString(", ")
    s"""WITH $detScoredCte,
       |sc AS (SELECT label, p / CAST(600000.0 AS DOUBLE) AS p FROM scored),
       |th AS (SELECT CAST(unnest([$ths]) AS DOUBLE) AS threshold),
       |agg AS (
       |  SELECT threshold,
       |    CAST(sum(CASE WHEN p >= threshold AND label = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN p >= threshold AND label = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN p < threshold AND label = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM sc CROSS JOIN th GROUP BY threshold),
       |pr AS (
       |  SELECT threshold, tp, fp, fn,
       |    CASE WHEN tp + fp = 0 THEN CAST(0.0 AS DOUBLE)
       |      ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS "precision",
       |    CASE WHEN tp + fn = 0 THEN CAST(0.0 AS DOUBLE)
       |      ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS recall
       |  FROM agg)
       |SELECT threshold, tp, fp, fn, "precision", recall,
       |  CASE WHEN "precision" + recall = 0.0 THEN CAST(0.0 AS DOUBLE)
       |    ELSE 2.0 * "precision" * recall / ("precision" + recall) END AS f1
       |FROM pr ORDER BY threshold""".stripMargin
  }

  /** DuckDB mirror of connected components: min-label propagation over
    * the undirected edge set, unrolled `rounds` times. Converges to the
    * exact CC once `rounds` ≥ the farthest distance from any node to its
    * component's minimum-id node — the e-commerce graph's brand/location
    * hubs keep that distance small, and 24 rounds carries a large
    * margin. Labels are min STRING ids, matching the Spark side's canon
    * (min(id) per component; string order is binary in both engines). */
  private def ccSql(rounds: Int): String = {
    // every l_i references l_{i-1} twice — MATERIALIZED stops DuckDB
    // from inlining the chain (2^rounds expansion otherwise, which
    // exhausts file handles re-opening the parquet scans)
    val steps = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT p.id, least(p.lbl, coalesce(m.minn, p.lbl)) AS lbl
         |  FROM l${i - 1} p LEFT JOIN (
         |    SELECT u.dst AS id, min(q.lbl) AS minn
         |    FROM und u JOIN l${i - 1} q ON q.id = u.src
         |    GROUP BY u.dst) m ON m.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${GraphSql.edgesCte},
       |und AS MATERIALIZED (
       |  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |verts AS (SELECT DISTINCT src AS id FROM und),
       |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM verts),
       |$steps
       |SELECT lbl AS component, count(*) AS size FROM l$rounds
       |GROUP BY lbl ORDER BY size DESC, component ASC""".stripMargin
  }

  /** Landmark-BFS oracle: synchronous (dist, hub) relaxation unrolled
    * `rounds` times, state packed as a sortable VARCHAR 'd|hub' (dist
    * stays single-digit for rounds ≤ 9, so lexicographic min IS
    * (min dist, then min hub id)). Same MATERIALIZED chain trick as
    * ccSql to stop DuckDB inlining the rounds. */
  private def shortestPathsSql(rounds: Int): String = {
    require(rounds <= 9, "single-digit dist packing")
    val steps = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT p.id,
         |    CASE WHEN m.mn IS NULL THEN p.st
         |         WHEN p.st IS NULL THEN m.mn
         |         WHEN m.mn < p.st THEN m.mn ELSE p.st END AS st
         |  FROM l${i - 1} p LEFT JOIN (
         |    SELECT u.dst AS id,
         |      min(concat(CAST(CAST(substr(q.st, 1, 1) AS INT) + 1 AS VARCHAR),
         |        substr(q.st, 2))) AS mn
         |    FROM und u JOIN l${i - 1} q ON q.id = u.src
         |    WHERE q.st IS NOT NULL
         |    GROUP BY u.dst) m ON m.id = p.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${GraphSql.edgesCte},
       |und AS MATERIALIZED (
       |  SELECT src, dst FROM edges UNION ALL SELECT dst, src FROM edges),
       |verts AS (SELECT DISTINCT src AS id FROM und),
       |l0 AS MATERIALIZED (
       |  SELECT id, CASE WHEN id LIKE 'loc\\_%' ESCAPE '\\'
       |    THEN concat('0|', id) END AS st FROM verts),
       |$steps
       |SELECT id, CAST(substr(st, 1, 1) AS INT) AS dist, substr(st, 3) AS hub
       |FROM l$rounds WHERE st IS NOT NULL ORDER BY id""".stripMargin
  }

  /** Mann–Whitney AUC over one parity slice of orders (the m4b exact-AUC
    * technique, parameterized): every sum is a half-integer < 2^52, so
    * the statistic is bit-exact in any engine. */
  private def m6AucCte(tag: String, parity: Int): String =
    s"""${tag}b AS (
       |  SELECT p AS s, count(*) AS n, sum(label) AS npos FROM s0
       |  WHERE o_orderkey % 2 = $parity GROUP BY p),
       |${tag}r AS (
       |  SELECT n, npos,
       |    coalesce(sum(n) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
       |      AND 1 PRECEDING), 0) + (n + 1.0) / 2.0 AS avg_rank
       |  FROM ${tag}b),
       |${tag}a AS (
       |  SELECT sum(npos * avg_rank) AS rank_pos, sum(npos) AS np,
       |         sum(n - npos) AS nn FROM ${tag}r),
       |$tag AS (SELECT (rank_pos - np * (np + 1.0) / 2.0) / (np * nn) AS auc
       |         FROM ${tag}a)""".stripMargin

  private val m6Sql =
    s"""WITH s0 AS (
       |  SELECT o_orderkey,
       |    CAST(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS DOUBLE) AS label,
       |    o_totalprice AS p
       |  FROM orders),
       |${m6AucCte("prev", 0)},
       |${m6AucCte("neww", 1)}
       |SELECT round(prev.auc, 6) AS prev_auc, round(neww.auc, 6) AS new_auc,
       |  round(prev.auc - neww.auc, 6) + 0.0 AS auc_drop,
       |  CAST(CASE WHEN prev.auc - neww.auc > 0.02 THEN 1 ELSE 0 END AS BIGINT) AS alert
       |FROM prev, neww""".stripMargin

  val entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("g2_louvain_communities", g2Louvain,
      "Louvain community sizes (ref Louvain_community_algorithm.py; twin g2b carries the gate)", None),
    CatalogEntry("g2b_modularity", g2bModularity,
      "modularity gate over the shared Louvain partition",
      Some {
        val DIM = 64
        val dotAB = Similarity.dotSql("a.embedding", "b.embedding", DIM)
        s"""WITH n AS (SELECT vec_id, embedding,
           |            sqrt(${Similarity.dotSql("embedding", "embedding", DIM)}) AS nrm
           |           FROM embeddings),
           |scored AS (
           |  SELECT a.vec_id AS src, b.vec_id AS dst, $dotAB / (a.nrm * b.nrm) AS cos
           |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
           |knn AS (
           |  SELECT CAST(src AS VARCHAR) AS src, CAST(dst AS VARCHAR) AS dst,
           |         CAST(round(round(cos, 6) * 1000000.0, 0) AS BIGINT) AS w
           |  FROM (SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
           |        FROM scored) WHERE rn <= 5),
           |adj AS (SELECT src, dst, w FROM knn UNION ALL SELECT dst, src, w FROM knn),
           |part AS (SELECT id, community
           |         FROM ${Artifacts.sql("g2_partition")}),
           |ki AS (SELECT src, CAST(sum(w) AS BIGINT) AS k FROM adj GROUP BY src),
           |bycomm AS (
           |  SELECT p.community, count(*) AS size, CAST(sum(k.k) AS BIGINT) AS tot_w
           |  FROM part p JOIN ki k ON k.src = p.id GROUP BY p.community),
           |intra AS (
           |  SELECT ps.community, CAST(sum(a.w) AS BIGINT) AS intra_w
           |  FROM adj a JOIN part ps ON ps.id = a.src JOIN part pd ON pd.id = a.dst
           |  WHERE ps.community = pd.community GROUP BY ps.community),
           |g AS (SELECT b.community, b.size, b.tot_w,
           |             CAST(coalesce(i.intra_w, 0) AS BIGINT) AS intra_w
           |      FROM bycomm b LEFT JOIN intra i USING (community)),
           |t AS (SELECT CAST(sum(tot_w) AS BIGINT) AS m2,
           |             CAST(sum(intra_w) AS BIGINT) AS intra,
           |             sum(CAST(tot_w AS HUGEINT) * tot_w) AS sumsq FROM g)
           |SELECT g.community, g.size, g.tot_w, g.intra_w,
           |       round((CAST(t.intra AS DOUBLE) * CAST(t.m2 AS DOUBLE)
           |              - CAST(t.sumsq AS DOUBLE)) /
           |             (CAST(t.m2 AS DOUBLE) * CAST(t.m2 AS DOUBLE)), 6) + 0.0 AS modularity
           |FROM g CROSS JOIN t ORDER BY g.community""".stripMargin
      }),
    // g3's (id, dim) surface is fully determined by the walk graph:
    // every adjacency node starts numWalks walks, and minCount=0 keeps
    // every walked word in the Word2Vec vocabulary — so the id set is
    // exactly the distinct endpoints of the bipartite slice and dim is
    // the configured vector size. (The vector VALUES are model-coupled;
    // their invariants live in GraphAlgoSpec.)
    CatalogEntry("g3_node2vec_embeddings", g3Node2Vec,
      "deterministic node2vec walks + embeddings (ref Node2vec_algorithm_inscripton.py)",
      Some("""WITH pp AS (
        |  SELECT DISTINCT o_custkey AS customer, l_partkey AS product
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_custkey % 10 = 1),
        |n AS (
        |  SELECT 'cust_' || customer AS id FROM (SELECT DISTINCT customer FROM pp)
        |  UNION ALL
        |  SELECT 'part_' || product FROM (SELECT DISTINCT product FROM pp))
        |SELECT id, CAST(16 AS INTEGER) AS dim FROM n ORDER BY id""".stripMargin)),
    CatalogEntry("g6_dvid_versioning", g6DvidVersioning,
      "graph mutation with dvid versioning",
      Some(s"""WITH ${GraphSql.nodesCte},
         |${GraphSql.edgesCte},
         |h AS (
         |  SELECT 'node' AS kind, dvid, count(*) AS cnt FROM nodes GROUP BY dvid
         |  UNION ALL
         |  SELECT 'edge', dvid, count(*) FROM edges GROUP BY dvid)
         |SELECT kind, dvid, cnt FROM h ORDER BY kind, dvid""".stripMargin)),
    CatalogEntry("gx_connected_components", gxConnectedComponents,
      "connected components, hybrid dense-kernel/GraphX",
      Some(ccSql(rounds = 24))),
    CatalogEntry("gx_pagerank", gxPageRank,
      "PageRank, hybrid dense-kernel/GraphX",
      Some(pageRankSql(iters = 5, k = 100))),
    CatalogEntry("gx_triangles", gxTriangles,
      "per-vertex triangle counts, hybrid dense-kernel/GraphX",
      Some {
        val dotAB = graft.sim.Similarity.dotSql("a.embedding", "b.embedding", 64)
        s"""WITH n AS (SELECT vec_id, embedding,
           |            sqrt(${graft.sim.Similarity.dotSql("embedding", "embedding", 64)}) AS nrm
           |           FROM embeddings),
           |scored AS (
           |  SELECT a.vec_id AS src, b.vec_id AS dst, $dotAB / (a.nrm * b.nrm) AS cos
           |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
           |topk AS (SELECT src, dst FROM (
           |  SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
           |  FROM scored) WHERE rn <= 5),
           |und AS MATERIALIZED (
           |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           |  FROM topk WHERE src <> dst),
           |tri AS (
           |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
           |  FROM und e1
           |  JOIN und e2 ON e2.a = e1.b
           |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
           |pv AS (SELECT x AS v FROM tri
           |       UNION ALL SELECT y FROM tri
           |       UNION ALL SELECT z FROM tri),
           |cnt AS (SELECT v, count(*) AS t FROM pv GROUP BY v),
           |verts AS (SELECT DISTINCT a AS v FROM und UNION SELECT b FROM und)
           |SELECT v AS vec_id, coalesce(t, 0) AS triangles
           |FROM verts LEFT JOIN cnt USING (v) ORDER BY vec_id""".stripMargin
      }),
    CatalogEntry("gx_label_propagation", gxLabelPropagation,
      "deterministic synchronous label propagation",
      Some {
        val dotAB = graft.sim.Similarity.dotSql("a.embedding", "b.embedding", 64)
        val steps = (1 to 4).map { i =>
          s"""l$i AS MATERIALIZED (
             |  SELECT id, lbl FROM (
             |    SELECT u.dst AS id, q.lbl,
             |      row_number() OVER (PARTITION BY u.dst
             |        ORDER BY count(*) DESC, q.lbl ASC) AS rn
             |    FROM und u JOIN l${i - 1} q ON q.id = u.src
             |    GROUP BY u.dst, q.lbl) WHERE rn = 1)""".stripMargin
        }.mkString(",\n")
        s"""WITH n AS (SELECT vec_id, embedding,
           |            sqrt(${graft.sim.Similarity.dotSql("embedding", "embedding", 64)}) AS nrm
           |           FROM embeddings),
           |scored AS (
           |  SELECT a.vec_id AS src, b.vec_id AS dst, $dotAB / (a.nrm * b.nrm) AS cos
           |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
           |topk AS (SELECT src, dst FROM (
           |  SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
           |  FROM scored) WHERE rn <= 5),
           |und AS MATERIALIZED (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT src, dst FROM topk UNION ALL SELECT dst, src FROM topk)),
           |verts AS (SELECT DISTINCT src AS id FROM und),
           |l0 AS MATERIALIZED (SELECT id, id AS lbl FROM verts),
           |$steps
           |SELECT id AS vec_id, lbl AS label FROM l4 ORDER BY vec_id""".stripMargin
      }),
    CatalogEntry("gx_kcore", gxKCore,
      "k-core peeling, fixed synchronous rounds",
      Some {
        val dotAB = graft.sim.Similarity.dotSql("a.embedding", "b.embedding", 64)
        val steps = (1 to 2).map { i =>
          s"""u$i AS MATERIALIZED (
             |  SELECT e.src, e.dst FROM u${i - 1} e
             |  JOIN (SELECT src AS id FROM u${i - 1} GROUP BY src HAVING count(*) >= 6) ka
             |    ON ka.id = e.src
             |  JOIN (SELECT src AS id FROM u${i - 1} GROUP BY src HAVING count(*) >= 6) kb
             |    ON kb.id = e.dst)""".stripMargin
        }.mkString(",\n")
        s"""WITH n AS (SELECT vec_id, embedding,
           |            sqrt(${graft.sim.Similarity.dotSql("embedding", "embedding", 64)}) AS nrm
           |           FROM embeddings),
           |scored AS (
           |  SELECT a.vec_id AS src, b.vec_id AS dst, $dotAB / (a.nrm * b.nrm) AS cos
           |  FROM n a JOIN n b ON a.vec_id <> b.vec_id),
           |topk AS (SELECT src, dst FROM (
           |  SELECT *, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS rn
           |  FROM scored) WHERE rn <= 5),
           |u0 AS MATERIALIZED (
           |  SELECT DISTINCT src, dst FROM (
           |    SELECT src, dst FROM topk UNION ALL SELECT dst, src FROM topk)),
           |$steps
           |SELECT src AS vec_id, count(*) AS core_degree
           |FROM u2 GROUP BY src ORDER BY vec_id""".stripMargin
      }),
    CatalogEntry("gx_shortest_paths", gxShortestPaths,
      "landmark BFS shortest paths",
      Some(shortestPathsSql(rounds = 8))),
    CatalogEntry("m9_calibration", m9Calibration,
      "probability calibration bins",
      Some(s"""WITH $detScoredCte,
         |b AS (SELECT label,
         |        least(CAST(9 AS BIGINT), CAST(floor(p / 60000.0) AS BIGINT)) AS bucket
         |      FROM scored)
         |SELECT bucket, count(*) AS n,
         |  CAST(sum(CAST(label AS BIGINT)) AS BIGINT) AS n_pos,
         |  CAST(sum(CAST(label AS BIGINT)) AS DOUBLE) / count(*) AS pos_rate
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),
    CatalogEntry("g7_scd2_intervals", g7Scd2Intervals,
      "SCD2 validity intervals from the change history",
      Some("""WITH inj AS (
        |  SELECT o_orderkey AS id, o_orderstatus AS status, o_totalprice AS price, 1 AS dvid
        |  FROM orders WHERE o_orderkey % 5 IN (0,1)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1, 2
        |  FROM orders WHERE o_orderkey % 5 IN (1,2))
        |SELECT id, status, price, dvid AS valid_from,
        |  coalesce(lead(dvid) OVER (PARTITION BY id ORDER BY dvid) - 1, 9999) AS valid_to
        |FROM inj ORDER BY id, valid_from""".stripMargin)),
    CatalogEntry("g8_copurchase_projection", g8CopurchaseProjection,
      "bipartite-to-co-purchase graph projection",
      Some("""WITH pp AS (
        |  SELECT DISTINCT o_custkey AS customer, l_partkey AS product
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |small AS (
        |  SELECT product FROM pp GROUP BY product HAVING count(*) <= 30),
        |p AS (SELECT pp.customer, pp.product FROM pp JOIN small USING (product))
        |SELECT a.customer AS cust_a, b.customer AS cust_b,
        |       count(*) AS shared_products
        |FROM p a JOIN p b ON a.product = b.product AND a.customer < b.customer
        |GROUP BY a.customer, b.customer
        |HAVING count(*) >= 3
        |ORDER BY cust_a, cust_b""".stripMargin)),
    CatalogEntry("gx_ppr_recommend", gxPprRecommend,
      "personalized-PageRank recommendations",
      Some {
        val steps = (1 to 5).map { i =>
          s"""pr$i AS (
             |  SELECT v.id,
             |    (CASE WHEN v.id = (SELECT seed_id FROM seed) THEN 0.15 ELSE 0.0 END)
             |      + 0.85 * coalesce(m.s, 0.0) AS rank
             |  FROM verts v LEFT JOIN (
             |    SELECT e.dst AS id, sum(p.rank / d.od) AS s
             |    FROM edges e JOIN pr${i - 1} p ON p.id = e.src
             |    JOIN deg d ON d.id = e.src
             |    GROUP BY e.dst) m ON m.id = v.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH pp AS (
           |  SELECT DISTINCT o_custkey AS customer, l_partkey AS product
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |edges AS (
           |  SELECT concat('c', customer) AS src, concat('p', product) AS dst FROM pp
           |  UNION ALL
           |  SELECT concat('p', product), concat('c', customer) FROM pp),
           |verts AS (SELECT DISTINCT src AS id FROM edges),
           |deg AS (SELECT src AS id, count(*) AS od FROM edges GROUP BY src),
           |seed AS (
           |  SELECT concat('c', customer) AS seed_id FROM pp GROUP BY customer
           |  ORDER BY count(DISTINCT product) DESC, concat('c', customer) ASC
           |  LIMIT 1),
           |pr0 AS (
           |  SELECT id, CASE WHEN id = (SELECT seed_id FROM seed)
           |    THEN CAST(1.0 AS DOUBLE) ELSE 0.0 END AS rank FROM verts),
           |$steps,
           |purch AS (
           |  SELECT concat('p', product) AS id FROM pp
           |  WHERE concat('c', customer) = (SELECT seed_id FROM seed)),
           |fin AS (
           |  SELECT CAST(substr(id, 2) AS BIGINT) AS product,
           |    round(rank, 6) AS rank
           |  FROM pr5
           |  WHERE id LIKE 'p%' AND id NOT IN (SELECT id FROM purch))
           |SELECT product, rank FROM fin
           |ORDER BY rank DESC, product ASC LIMIT 20""".stripMargin
      }),
    CatalogEntry("m0_training_corpus", m0TrainingCorpus,
      "shared pair+feature training corpus builder",
      Some {
        import graft.functions.ColFns
        val puPos = ColFns.pseudoUniformSql("customer * 131 + product", 31L)
        val puNeg = ColFns.pseudoUniformSql("c.customer * 977 + p.product", 37L)
        val puDisc = ColFns.pseudoUniformSql("product * 12 + 12", 11L)
        s"""WITH pos AS (
           |  SELECT DISTINCT o_custkey AS customer, l_partkey AS product
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |counts AS (
           |  SELECT (SELECT count(*) FROM customer) AS ncust,
           |         (SELECT count(*) FROM part) AS npart,
           |         (SELECT count(*) FROM pos) AS posn),
           |params AS (
           |  SELECT
           |    least(CAST(1.0 AS DOUBLE),
           |      CAST(20000 AS DOUBLE) / greatest(posn, 1)) AS posfrac,
           |    least(posn, 20000) AS negtarget,
           |    CASE WHEN (ncust // 3) * (npart // 7) >= least(posn, 20000) * 4
           |         THEN 1 ELSE 0 END AS thin
           |  FROM counts),
           |csel AS (
           |  SELECT c_custkey AS customer FROM customer
           |  WHERE (SELECT thin FROM params) = 1 AND c_custkey % 3 = 0
           |  UNION ALL
           |  SELECT c_custkey FROM customer WHERE (SELECT thin FROM params) = 0),
           |psel AS (
           |  SELECT p_partkey AS product FROM part
           |  WHERE (SELECT thin FROM params) = 1 AND p_partkey % 7 = 0
           |  UNION ALL
           |  SELECT p_partkey FROM part WHERE (SELECT thin FROM params) = 0),
           |negfrac AS (
           |  SELECT least(CAST(1.0 AS DOUBLE),
           |    CAST((SELECT negtarget FROM params) AS DOUBLE) /
           |    greatest((SELECT count(*) FROM csel) * (SELECT count(*) FROM psel), 1)) AS f),
           |poscap AS (
           |  SELECT customer, product, CAST(1.0 AS DOUBLE) AS label FROM pos
           |  WHERE $puPos < (SELECT posfrac FROM params)),
           |neg AS (
           |  SELECT c.customer, p.product, CAST(0.0 AS DOUBLE) AS label
           |  FROM csel c CROSS JOIN psel p
           |  WHERE $puNeg < (SELECT f FROM negfrac)
           |    AND NOT EXISTS (SELECT 1 FROM pos
           |                    WHERE pos.customer = c.customer AND pos.product = p.product)),
           |pairs AS (SELECT * FROM poscap UNION ALL SELECT * FROM neg),
           |custf AS (
           |  SELECT o.o_custkey AS customer,
           |    CAST(count(*) AS DOUBLE) AS cust_frequency,
           |    CAST(date_diff('day', CAST(max(o.o_orderdate) AS DATE),
           |      DATE '2002-01-01') AS DOUBLE) AS cust_recency
           |  FROM orders o GROUP BY o.o_custkey),
           |custf2 AS (
           |  SELECT f.customer, f.cust_frequency, f.cust_recency, c.c_acctbal AS acctbal
           |  FROM custf f JOIN customer c ON c.c_custkey = f.customer),
           |partf AS (
           |  SELECT l_partkey AS product, CAST(count(*) AS DOUBLE) AS part_popularity
           |  FROM lineitem GROUP BY l_partkey),
           |partf2 AS (
           |  SELECT pf.product, pf.part_popularity, p.p_retailprice AS price
           |  FROM partf pf JOIN part p ON p.p_partkey = pf.product),
           |j AS (
           |  SELECT pr.customer, pr.product, pr.label,
           |    coalesce(cf.cust_frequency, 0.0) AS cust_frequency,
           |    coalesce(cf.cust_recency, 999.0) AS cust_recency,
           |    coalesce(cf.acctbal, 0.0) AS acctbal,
           |    coalesce(pf.part_popularity, 0.0) AS part_popularity,
           |    coalesce(pf.price, 0.0) AS price
           |  FROM pairs pr
           |  LEFT JOIN custf2 cf ON cf.customer = pr.customer
           |  LEFT JOIN partf2 pf ON pf.product = pr.product)
           |SELECT customer, product, label, cust_frequency, cust_recency, acctbal,
           |  part_popularity, price,
           |  round(0.30 + $puDisc * 0.20, 2) AS discount,
           |  acctbal * price / 1000000.0 AS bal_x_price
           |FROM j ORDER BY customer, product""".stripMargin
      }),
    CatalogEntry("m1_gbt_link_metrics", m1GbtMetrics,
      "GBT link-prediction metrics (ref xgboost_model_training.py; twin m1b carries the gate)", None),
    CatalogEntry("m1b_gbt_deterministic", m1bGbtDeterministic,
      "GBT validation scores persisted; confusion + AUC recomputed from the bits",
      Some(m1bSql)),
    CatalogEntry("m2_multidate_discount", m2MultiDateMetrics,
      "discount vs no-discount LR over 4 simulated dates (ref xgboost_mode_training_plus_dynamic_discount.py)", None),
    CatalogEntry("m2b_multidate_deterministic", m2bMultidateDeterministic,
      "both m2 models' scores persisted; per-model AUC recomputed relationally",
      Some(m2bSql)),
    CatalogEntry("m4_confusion_matrix", m4ConfusionMatrix,
      "confusion-matrix metric suite (twin m4b carries the gate)", None),
    CatalogEntry("m4b_metrics_deterministic", m4bMetricsDeterministic,
      "metric math recomputed from persisted scores",
      Some(m4bSql)),
    CatalogEntry("m5_threshold_sweep", m5ThresholdSweep,
      "decision-threshold sweep (twin m5b carries the gate)", None),
    CatalogEntry("m5b_sweep_deterministic", m5bSweepDeterministic,
      "threshold sweep recomputed from persisted scores",
      Some(m5bSql)),
    CatalogEntry("m7_mlp_metrics", m7MlpMetrics,
      "multi-tower MLP metrics (ref Neural_network_multi_towered_training.py; twin m7b)", None),
    CatalogEntry("m7b_mlp_deterministic", m7bMlpDeterministic,
      "MLP validation scores persisted; AUC + accuracy recomputed from the bits",
      Some(m7bSql)),
    CatalogEntry("m11_feature_importance", m11FeatureImportance,
      "feature importances (twin m11b carries the gate)", None),
    CatalogEntry("m11b_importance_ranked", m11bImportanceRanked,
      "importance ranking recomputed under the hash gate",
      Some(s"""SELECT CAST(row_number() OVER (ORDER BY importance DESC, feature ASC) AS INT) AS rank,
         |  feature, round(importance, 6) AS importance
         |FROM ${Artifacts.sql("m11_importances")} ORDER BY rank""".stripMargin)),
    CatalogEntry("m12_adamw_loop", m12AdamwLoop,
      "AdamW training loop (twin m12b carries the gate)", None),
    CatalogEntry("m12b_adamw_deterministic", m12bAdamwDeterministic,
      "AdamW loop state recomputed deterministically",
      Some(trajectoryGateSql("m12_trajectory"))),
    CatalogEntry("m14_tower_loop", m14TowerLoop,
      "joint tower-net training loop (twin m14b carries the gate)", None),
    CatalogEntry("m14b_tower_deterministic", m14bTowerDeterministic,
      "tower-net loop recomputed deterministically",
      Some(trajectoryGateSql("m14_trajectory"))),
    CatalogEntry("m15_minibatch_loop", m15MinibatchLoop,
      "batch-512 minibatch loop (twin m15b carries the gate)", None),
    CatalogEntry("m15b_minibatch_deterministic", m15bMinibatchDeterministic,
      "batch-512 loop recomputed deterministically",
      Some(trajectoryGateSql("m15_trajectory"))),
    CatalogEntry("m3b_incremental_policy", m3bIncrementalPolicy,
      "incremental refit policy with model-registry roundtrip",
      Some(s"""WITH t AS (SELECT * FROM ${Artifacts.sql("m3_policy")}),
         |w AS (SELECT t.*,
         |    coalesce(sum(accepted) OVER (ORDER BY run
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS accepted_before,
         |    sum(accepted) OVER (ORDER BY run
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_accepted
         |  FROM t)
         |SELECT run, prev_exists, n_pos, n_neg,
         |  round(imb_ratio, 6) AS imb_ratio, smote_applied,
         |  round(auc_val, 6) AS auc_val, round(overfit_gap, 6) AS overfit_gap,
         |  gate_pass, accepted, reverted, history_len,
         |  CAST(smote_applied = (CASE WHEN imb_ratio > 5.0 THEN 1 ELSE 0 END) AS INT) AS smote_ok,
         |  CAST(gate_pass = (CASE WHEN overfit_gap <= 0.06 THEN 1 ELSE 0 END) AS INT) AS gate_ok,
         |  CAST(accepted = gate_pass AS INT) AS accept_ok,
         |  CAST(reverted = 1 - accepted AS INT) AS revert_ok,
         |  CAST(prev_exists = (CASE WHEN accepted_before > 0 THEN 1 ELSE 0 END) AS INT) AS warm_ok,
         |  CAST(probe_alert = (CASE WHEN probe_drop > 0.02 THEN 1 ELSE 0 END) AS INT) AS probe_ok,
         |  CAST(history_len = cum_accepted AS INT) AS hist_ok,
         |  CAST(imb_ratio = CAST(n_neg AS DOUBLE) / n_pos AS INT) AS ratio_ok
         |FROM w ORDER BY run""".stripMargin)),
    CatalogEntry("m10_class_weights", m10ClassWeights,
      "class-weighted training comparison",
      Some(s"""WITH t AS (SELECT * FROM ${Artifacts.sql("m10_class_counts")}),
         |s AS (SELECT CAST(sum(n_c) AS BIGINT) AS total FROM t)
         |SELECT label, n_c,
         |  round(CAST(total AS DOUBLE) / (2.0 * n_c), 6) AS weight,
         |  round(CAST(n_c AS DOUBLE) / total, 6) AS frac
         |FROM t, s ORDER BY label""".stripMargin)),
    CatalogEntry("m13_minibatch_stream", m13MinibatchStream,
      "streaming minibatch trainer (twin m13b carries the gate)", None),
    CatalogEntry("m13b_minibatch_deterministic", m13bMinibatchDeterministic,
      "streamed minibatch math recomputed deterministically",
      Some(s"""WITH t AS (SELECT * FROM ${Artifacts.sql("m13_steps")}),
         |w AS (SELECT t.*,
         |    row_number() OVER (ORDER BY epoch, step) AS ord,
         |    min(n) OVER (PARTITION BY step) AS n_min,
         |    max(n) OVER (PARTITION BY step) AS n_max,
         |    min(fp) OVER (PARTITION BY step) AS fp_min,
         |    max(fp) OVER (PARTITION BY step) AS fp_max,
         |    count(*) OVER (PARTITION BY epoch) AS steps_in_epoch
         |  FROM t),
         |w2 AS (SELECT w.*,
         |    min(steps_in_epoch) OVER () AS min_steps,
         |    max(steps_in_epoch) OVER () AS max_steps
         |  FROM w)
         |SELECT epoch, step, gstep,
         |  round(train_loss, 6) AS train_loss,
         |  round(grad_norm, 6) AS grad_norm,
         |  clipped, n,
         |  CAST(gstep = ord AS INT) AS gstep_ok,
         |  CAST(clipped = (CASE WHEN grad_norm > 1.0 THEN 1 ELSE 0 END) AS INT) AS clip_ok,
         |  CAST(n_min = n_max AND fp_min = fp_max AS INT) AS replay_ok,
         |  CAST(min_steps = max_steps AS INT) AS steps_ok
         |FROM w2 ORDER BY epoch, step""".stripMargin)),
    CatalogEntry("s8_history_roundtrip", s8HistoryRoundtrip,
      "line-JSON metrics history sink/source roundtrip (model registry)",
      Some("""WITH m AS (
        |  SELECT 'total_' || o_orderstatus AS metric, round(sum(o_totalprice), 2) AS v
        |  FROM orders GROUP BY o_orderstatus)
        |SELECT CAST(0 AS BIGINT) AS epoch, metric, v AS value FROM m
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), metric, v + 1.0 FROM m
        |ORDER BY epoch, metric""".stripMargin)),
    CatalogEntry("m6_compat_probe", m6CompatProbe,
      "model artifact save/load compatibility probe",
      Some(m6Sql)),
    CatalogEntry("m8_tower_scaling", m8TowerScaling,
      "per-tower feature standardization",
      Some("""WITH degt AS (
        |  SELECT o_custkey AS ck, CAST(count(*) AS DOUBLE) AS n_orders
        |  FROM orders GROUP BY o_custkey),
        |linet AS (
        |  SELECT o_custkey AS ck, CAST(count(*) AS DOUBLE) AS n_lines,
        |         sum(l_quantity) AS total_qty
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY o_custkey),
        |f AS (SELECT d.ck, d.n_orders, l.n_lines, l.total_qty
        |      FROM degt d JOIN linet l USING (ck)),
        |s AS (SELECT *,
        |  avg(n_orders) OVER () AS m1, stddev_samp(n_orders) OVER () AS s1,
        |  avg(n_lines) OVER () AS m2, stddev_samp(n_lines) OVER () AS s2,
        |  avg(total_qty) OVER () AS m3, stddev_samp(total_qty) OVER () AS s3
        |  FROM f)
        |SELECT ck AS c_custkey,
        |  round((n_orders - m1) / s1, 4) + 0.0 AS z_orders,
        |  round((n_lines - m2) / s2, 4) + 0.0 AS z_lines,
        |  round((total_qty - m3) / s3, 4) + 0.0 AS z_qty
        |FROM s ORDER BY c_custkey""".stripMargin)))
}
