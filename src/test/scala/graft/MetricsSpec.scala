package graft

import org.apache.spark.sql.functions._
import graft.ml.Metrics

/** The distributed (two-level equi-depth bucketed) AUC path only
  * triggers past 131k distinct scores in production; these tests force
  * it through the `driverBound` seam and pin it against the exact
  * driver-finish path on the SAME data — including the pathological
  * shape a fixed value-range grid would collapse (every score inside
  * one narrow slice of (0,1)). */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  // 50k rows, every score distinct and concentrated in [0.4999, 0.5001];
  // labels correlated with the score so the AUC is non-trivial
  private def u(i: Long, salt: Long): Double =
    (((i % 999983) * 2654435761L + salt * 40503) % 1000003 + 1000003) % 1000003 / 1000003.0

  private lazy val concentrated = (1 to 50000).map { i =>
    val s = 0.4999 + (i.toDouble / 50000) * 0.0002
    val y = if (u(i.toLong, 7L) < 0.3 + 0.4 * (i.toDouble / 50000)) 1.0 else 0.0
    (y, s)
  }.toDF("label", "s").cache()

  test("TowerNet.rankAuc ≡ Metrics.auc on ties, duplicates, and concentrated scores") {
    // the in-kernel AUC the tower loops use must be the SAME statistic
    // Metrics.auc computes — tie-aware average-rank Mann–Whitney.
    // Fixture mixes exact duplicates (quantized scores) with the
    // concentrated tail, plus degenerate all-one-class slices.
    val mixed = (1 to 5000).map { i =>
      val s = if (i % 3 == 0) math.floor(u(i.toLong, 11L) * 20) / 20.0
              else 0.4999 + u(i.toLong, 13L) * 0.0002
      val y = if (u(i.toLong, 17L) < 0.2 + 0.6 * s) 1.0 else 0.0
      (y, s)
    }
    val df = mixed.toDF("label", "s")
    val viaMetrics = Metrics.auc(df, "label", col("s"))
    val viaKernel = graft.ml.TowerNet.rankAuc(
      mixed.map { case (y, s) => (s, y) }.toArray)
    assert(math.abs(viaMetrics - viaKernel) < 1e-12,
      s"metrics=$viaMetrics kernel=$viaKernel")
    // degenerate: single class → both report 0.0
    assert(graft.ml.TowerNet.rankAuc(Array((0.3, 1.0), (0.7, 1.0))) === 0.0)
    assert(Metrics.auc(Seq((1.0, 0.3), (1.0, 0.7)).toDF("label", "s"),
      "label", col("s")) === 0.0)
  }

  test("Metrics.driverHist + rocPr ≡ binaryAucs on tied scores") {
    val pairs = (1 to 3000).map { i =>
      val s = math.floor(((i * 7919L) % 1009) / 1009.0 * 50) / 50.0
      (s, if ((i * 31L) % 7 < 2 + 3 * s) 1.0 else 0.0)
    }.toArray
    val want = Metrics.binaryAucs(pairs.toSeq.toDF("s", "label"), "label", col("s"))
    assert(Metrics.rocPr(Metrics.driverHist(pairs)) === want)
  }

  test("distributed AUC ≡ driver AUC on concentrated scores") {
    val exact = Metrics.aucBounded(concentrated, "label", col("s"), 1 << 20)
    val dist = Metrics.aucBounded(concentrated, "label", col("s"), 1000)
    assert(exact > 0.5, s"degenerate fixture: auc=$exact")
    assert(math.abs(exact - dist) < 1e-12, s"exact=$exact dist=$dist")
  }

  test("distributed ROC+PR ≡ driver ROC+PR on concentrated scores") {
    val (roc, pr) = Metrics.binaryAucsBounded(concentrated, "label", col("s"), 1 << 20)
    val (rocD, prD) = Metrics.binaryAucsBounded(concentrated, "label", col("s"), 1000)
    assert(math.abs(roc - rocD) < 1e-12, s"roc exact=$roc dist=$rocD")
    assert(math.abs(pr - prD) < 1e-9, s"pr exact=$pr dist=$prD")
  }

  test("distributed paths survive ties and partition changes") {
    // heavy ties: 20k rows over 197 distinct scores, forced distributed
    val tied = (1 to 20000).map { i =>
      val s = (i % 197).toDouble / 197
      (if (i % 3 == 0) 1.0 else 0.0, s)
    }.toDF("label", "s")
    val exact = Metrics.aucBounded(tied, "label", col("s"), 1 << 20)
    val dist = Metrics.aucBounded(tied.repartition(13), "label", col("s"), 50)
    assert(math.abs(exact - dist) < 1e-12, s"exact=$exact dist=$dist")
  }
}
