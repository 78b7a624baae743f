package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Binary-classification metrics as plain DataFrame aggregations
  * (SURVEY §2.11 M4). ROC-AUC is computed as the Mann–Whitney U
  * statistic with average ranks for ties, which is mathematically
  * identical to the trapezoidal area under the tie-grouped ROC curve
  * (what MLlib's BinaryClassificationMetrics integrates). The heavy
  * pass is always ONE shuffle that collapses rows to the tie-grouped
  * score histogram; the rank/curve arithmetic over that histogram runs
  * in whichever of two exact shapes fits its size:
  *
  *  - ≤ MaxDriverHist distinct scores: the histogram comes back to the
  *    driver (a `take` one past the bound proves the size) and the
  *    statistic is finished locally — one job, no windows. This is the
  *    per-epoch trainer path.
  *  - larger: a two-level exact prefix sum — a window PARTITIONED BY a
  *    1024-way EQUI-DEPTH bucket (boundaries from approxQuantile over
  *    the histogram itself, so a score distribution concentrated in an
  *    arbitrarily narrow slice still splits ~evenly — a fixed value
  *    range would collapse it into one data-sized partition), and the
  *    constant-size per-bucket subtotals are combined on the driver.
  *    No step is ever single-partition or data-proportional on the
  *    driver. The histogram is cached before the size probe, so the
  *    upstream scoring pipeline runs exactly once on either path.
  *
  * Both shapes sum the same half-integer rank terms (all below 2^52),
  * so the result is bit-identical to the flat Σ npos·avg_rank the
  * DuckDB oracles compute, under any aggregation order.
  */
object Metrics {

  /** Driver-finish bound on |distinct scores|: ~3 MB of (s, n, npos)
    * rows. Constant, never data-derived — histograms past it take the
    * distributed path. */
  private val MaxDriverHist = 131072

  /** Range-bucket count for the distributed path's partitioned windows
    * and its driver-combined subtotal frame. */
  private val NBuckets = 1024

  /** Monotone equi-depth bucket id: #(boundaries < s), boundaries from
    * approxQuantile over the distinct-score histogram. Any monotone
    * non-decreasing map of the score works — prefix sums only need
    * bucket order to align with score order — and quantile boundaries
    * keep buckets ~even for ANY score distribution, where a fixed
    * value-range grid collapses concentrated scores into one
    * data-sized bucket. */
  private def bucketCol(hist: DataFrame): Column = {
    val probes = Array.tabulate(NBuckets - 1)(i => (i + 1).toDouble / NBuckets)
    val bs = hist.stat.approxQuantile("s", probes, 1.0 / (4 * NBuckets))
    aggregate(
      lit(bs),
      lit(0),
      (acc, b) => acc + when(col("s") > b, 1).otherwise(0))
  }

  /** Tie-grouped score histogram: the one full-data pass. */
  private def histogram(scored: DataFrame, labelCol: String,
                        scoreCol: Column): DataFrame =
    scored.select(col(labelCol).cast("double").as("y"),
        scoreCol.cast("double").as("s"))
      .groupBy("s").agg(count(lit(1)).as("n"), sum("y").as("npos"))

  /** One `take` past the driver bound: Some(whole histogram, ascending)
    * when it fits, None when it is proved data-sized. */
  private def takeHist(hist: DataFrame,
                       bound: Int): Option[Array[(Double, Long, Double)]] = {
    val sample = hist.take(bound + 1)
    if (sample.length > bound) None
    else Some(sample.map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1))
  }

  /** Exact Mann–Whitney numerator terms from an ascending histogram:
    * (Σ npos·avg_rank, Σ npos, Σ n). */
  private[ml] def rankStats(asc: Array[(Double, Long, Double)]): (Double, Double, Long) = {
    var before = 0L; var rankPos = 0.0; var np = 0.0; var nTot = 0L
    asc.foreach { case (_, n, npos) =>
      rankPos += npos * (before + (n + 1.0) / 2.0)
      before += n; np += npos; nTot += n
    }
    (rankPos, np, nTot)
  }

  private[ml] def finishRoc(rankPos: Double, np: Double, nn: Double): Double =
    if (np == 0 || nn == 0) 0.0
    else (rankPos - np * (np + 1.0) / 2.0) / (np * nn)

  /** Exact ROC-AUC of `scoreCol` against a 0/1 `labelCol`. */
  def auc(scored: DataFrame, labelCol: String, scoreCol: Column): Double =
    aucBounded(scored, labelCol, scoreCol, MaxDriverHist)

  /** `driverBound` is a test seam (forces the distributed path with a
    * tiny bound); production callers always pass MaxDriverHist. */
  private[graft] def aucBounded(scored: DataFrame, labelCol: String,
                             scoreCol: Column, driverBound: Int): Double = {
    val byScore = histogram(scored, labelCol, scoreCol).cache()
    try takeHist(byScore, driverBound) match {
      case Some(asc) =>
        val (rankPos, np, nTot) = rankStats(asc)
        finishRoc(rankPos, np, nTot - np)
      case None => aucDistributed(byScore)
    } finally byScore.unpersist()
  }

  /** Distributed two-level exact prefix: within-bucket rank mass via a
    * bucket-partitioned window, cross-bucket offsets added on the
    * driver from the ≤NBuckets subtotals. `byScore` arrives cached. */
  private def aucDistributed(byScore: DataFrame): Double = {
    // average rank of a tied group = (#rows before it) + (n+1)/2
    val wIn = Window.partitionBy("bkt").orderBy("s")
      .rowsBetween(Window.unboundedPreceding, -1)
    val perBucket = byScore.withColumn("bkt", bucketCol(byScore))
      .withColumn("wb", coalesce(sum("n").over(wIn), lit(0L)))
      .groupBy("bkt").agg(
        sum("n").as("bn"), sum("npos").as("bp"),
        sum(col("npos") * (col("wb") + (col("n") + 1.0) / 2.0)).as("rp"))
      .collect().sortBy(_.getInt(0))
    var off = 0L; var rankPos = 0.0; var np = 0.0; var nTot = 0L
    perBucket.foreach { r =>
      val (bn, bp, rp) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      rankPos += rp + off.toDouble * bp
      off += bn; np += bp; nTot += bn
    }
    finishRoc(rankPos, np, (nTot - np).toDouble)
  }

  /** ROC-AUC and PR-AUC together from one histogram pass. PR-AUC is the
    * trapezoidal area over the tie-grouped precision-recall curve with
    * MLlib's (0, p₁) starting point — exact over every distinct score
    * instead of MLlib's 1000-bin downsampling. Same two shapes as
    * `auc`. */
  def binaryAucs(scored: DataFrame, labelCol: String,
                 scoreCol: Column): (Double, Double) =
    binaryAucsBounded(scored, labelCol, scoreCol, MaxDriverHist)

  private[graft] def binaryAucsBounded(scored: DataFrame, labelCol: String,
                                    scoreCol: Column,
                                    driverBound: Int): (Double, Double) = {
    val byScore = histogram(scored, labelCol, scoreCol).cache()
    try takeHist(byScore, driverBound) match {
      case Some(asc) => rocPr(asc)
      case None => binaryAucsDistributed(byScore)
    } finally byScore.unpersist()
  }

  /** ROC-AUC and PR-AUC of an ascending (s, n, npos) histogram on the
    * driver; (0, 0) when one class is absent. */
  private[graft] def rocPr(asc: Array[(Double, Long, Double)]): (Double, Double) = {
    val (rankPos, np, nTot) = rankStats(asc)
    if (np == 0 || np == nTot) return (0.0, 0.0)
    // descending traversal builds the PR curve exactly as the
    // reference's sweep does: first (highest-score) group seeds the
    // (0, p₁) start, each later group closes one trapezoid
    var cn = 0L; var cp = 0.0; var prevR = 0.0; var prevP = 0.0
    var prAuc = 0.0; var first = true
    asc.reverseIterator.foreach { case (_, n, npos) =>
      cn += n; cp += npos
      val recall = cp / np
      val prec = cp / cn
      if (first) { prevP = prec; first = false }
      prAuc += (recall - prevR) * (prec + prevP) / 2.0
      prevR = recall; prevP = prec
    }
    (finishRoc(rankPos, np, nTot - np), prAuc)
  }

  /** The tie-grouped ascending histogram of (score, label) pairs already
    * on the driver — what `histogram` + `takeHist` build from a frame. */
  private[graft] def driverHist(scored: Array[(Double, Double)]): Array[(Double, Long, Double)] = {
    val asc = scored.sortBy(_._1)(Ordering.Double.TotalOrdering)
    val out = Array.newBuilder[(Double, Long, Double)]
    var i = 0
    while (i < asc.length) {
      // ties as Spark's grouping keys them: 0.0 = -0.0, NaN = NaN
      val s = asc(i)._1
      var j = i; var npos = 0.0
      while (j < asc.length && (asc(j)._1 == s || asc(j)._1.isNaN && s.isNaN)) {
        npos += asc(j)._2; j += 1
      }
      out += ((s, (j - i).toLong, npos))
      i = j
    }
    out.result()
  }

  /** Distributed PR/ROC: per-bucket totals come to the driver once;
    * cross-bucket prefix offsets and the neighbor values each bucket's
    * LAST row needs for its PR trapezoid (the next non-empty bucket's
    * first row — whose cumulative counts are pure functions of the
    * offsets) go back as a broadcast join, so the curve is assembled by
    * windows partitioned by bucket. */
  private def binaryAucsDistributed(byScore: DataFrame): (Double, Double) = {
      val b = byScore.withColumn("bkt", bucketCol(byScore))
      val totals = b.groupBy("bkt").agg(sum("n").as("bn"), sum("npos").as("bp"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1)
      val nTotal = totals.map(_._2).sum
      val pTotal = totals.map(_._3).sum
      if (pTotal == 0 || pTotal == nTotal) return (0.0, 0.0)
      // ascending cross-bucket offsets; desc-cumulatives by complement:
      // count(≥s) = N − count(<s)
      var cn = 0L; var cp = 0.0
      val offRows = totals.map { case (bkt, bn, bp) =>
        val row = (bkt, cn, cp); cn += bn; cp += bp; row
      }
      val offDf = byScore.sparkSession.createDataFrame(
        offRows.zipWithIndex.map { case ((bkt, offN, offP), i) =>
          val next = if (i + 1 < offRows.length) {
            val (_, nN, nP) = offRows(i + 1)
            (Some((pTotal - nP) / pTotal),
             Some((pTotal - nP) / (nTotal - nN).toDouble))
          } else (None, None)
          (bkt, offN, offP, next._1, next._2)
        }.toSeq).toDF("bkt", "off_n", "off_p", "next_r", "next_p")
      val wIn = Window.partitionBy("bkt").orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wLead = Window.partitionBy("bkt").orderBy("s")
      val agg = b.join(broadcast(offDf), "bkt")
        .withColumn("before_n", col("off_n") + coalesce(sum("n").over(wIn), lit(0L)))
        .withColumn("before_p", col("off_p") + coalesce(sum("npos").over(wIn), lit(0.0)))
        .withColumn("cp", lit(pTotal) - col("before_p"))
        .withColumn("recall", col("cp") / pTotal)
        .withColumn("prec", col("cp") / (lit(nTotal) - col("before_n")))
        // prev in descending-score order ≡ next higher score: the lead
        // within the bucket, or the broadcast neighbor at the boundary;
        // the global-max row (lead and neighbor both absent) seeds the
        // (0, p₁) start with its own precision
        .withColumn("prev_r",
          coalesce(lead("recall", 1).over(wLead), col("next_r"), lit(0.0)))
        .withColumn("prev_p",
          coalesce(lead("prec", 1).over(wLead), col("next_p"), col("prec")))
        .agg(
          sum(col("npos") * (col("before_n") + (col("n") + 1.0) / 2.0))
            .as("rank_pos"),
          sum((col("recall") - col("prev_r")) *
            (col("prec") + col("prev_p")) / 2.0).as("pr_auc"))
        .head()
      val roc = (agg.getDouble(0) - pTotal * (pTotal + 1.0) / 2.0) /
        (pTotal * (nTotal - pTotal))
      (roc, agg.getDouble(1))
  }

  /** M4's classification-report row at one operating point: confusion
    * counts + accuracy/precision/recall/F1, as a single aggregate job. */
  def confusion(scored: DataFrame, labelCol: String, score: Column,
                threshold: Double): DataFrame = {
    val pred = score >= threshold
    val y = col(labelCol)
    val agg = scored.agg(
      sum(when(pred && y === 1.0, 1L).otherwise(0L)).as("tp"),
      sum(when(pred && y === 0.0, 1L).otherwise(0L)).as("fp"),
      sum(when(!pred && y === 1.0, 1L).otherwise(0L)).as("fn"),
      sum(when(!pred && y === 0.0, 1L).otherwise(0L)).as("tn"))
    agg.select(col("tp"), col("fp"), col("fn"), col("tn"),
      round((col("tp") + col("tn")).cast("double") /
        (col("tp") + col("fp") + col("fn") + col("tn")), 6).as("accuracy"),
      round(col("tp").cast("double") /
        greatest(col("tp") + col("fp"), lit(1L)), 6).as("precision"),
      round(col("tp").cast("double") /
        greatest(col("tp") + col("fn"), lit(1L)), 6).as("recall"))
      .withColumn("f1", round(
        when(col("precision") + col("recall") === 0.0, 0.0)
          .otherwise(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))), 6))
  }
}
