package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ColFns

/** Link extraction + temporal features for link prediction (SURVEY §2.3
  * J3/J4, §2.4 A8; reference xgboost_model_training.py:85-160).
  */
object Links {

  /** J3/G5: positive (customer, product) pairs via the 2-hop
    * Customer→Order→Product traversal, as a single equi-join on the
    * edges table. Catalyst plans a shuffled hash/sort-merge join on the
    * order id; AQE handles skewed popular products. The reference walks
    * the graph per-customer in Python (xgboost_model_training.py:85-103).
    */
  def positivePairs(edges: DataFrame): DataFrame = {
    val purchased = edges.filter(col("type") === "PURCHASED")
      .select(col("src").as("customer"), col("dst").as("order_id"))
    val contains = edges.filter(col("type") === "CONTAINS")
      .select(col("src").as("order_id"), col("dst").as("product"))
    purchased.join(contains, "order_id")
      .select("customer", "product").distinct()
  }

  // The distinct purchase-pair table is consumed by several operators
  // (J3/J4's graph-id view, the ML training corpus) — ONE numeric
  // materialization per sf dir backs them all, like the other session
  // caches (GraphBuilder.fromTpch, KnnCache). The graph-id view is a
  // pure projection over it (no extra shuffle); its equivalence to the
  // 2-hop edge traversal is pinned by GraphLinksSpec and by j3's oracle.
  def purchasePairsNumeric(spark: org.apache.spark.sql.SparkSession,
                           dir: String): DataFrame =
    graft.core.AppCache.memo(spark, "graph.purchasePairs", dir) {
      val o = graft.core.Tables.orders(spark, dir)
      val li = graft.core.Tables.lineitem(spark, dir)
      o.join(li, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("customer"), col("l_partkey").as("product"))
        .distinct().localCheckpoint(true)
    }

  def positivePairsCached(spark: org.apache.spark.sql.SparkSession,
                          dir: String): DataFrame =
    purchasePairsNumeric(spark, dir).select(
      concat(lit("cust_"), col("customer")).as("customer"),
      concat(lit("part_"), col("product")).as("product"))

  /** J4/U2: negative sampling as a deterministic hash-thinned cross join
    * anti-joined against positives. The reference uses a seeded rejection
    * loop (xgboost_model_training.py:124-141); we replace `rand(seed)`
    * with hash-based selection (SURVEY §7.4 trap 9) so results are
    * partitioning-independent and oracle-replayable. The two modulo
    * pre-filters bound the cross join to (|C|/cStep)·(|P|/pStep) rows —
    * at 100 TB you tune the steps, never materialize the full cross.
    */
  def negativePairs(customers: DataFrame, products: DataFrame,
                    positives: DataFrame, custKey: String, prodKey: String,
                    cStep: Int = 10, pStep: Int = 25, keepPerMille: Int = 200): DataFrame = {
    val c = customers.filter(pmod(col(custKey), lit(cStep)) === 0)
      .select(col(custKey).as("ck"))
    val p = products.filter(pmod(col(prodKey), lit(pStep)) === 0)
      .select(col(prodKey).as("pk"))
    val cand = c.crossJoin(p)
      .filter(ColFns.pseudoUniform(col("ck") * 131 + col("pk"), 7L) < keepPerMille / 1000.0)
      .select(
        concat(lit("cust_"), col("ck")).as("customer"),
        concat(lit("part_"), col("pk")).as("product"))
    cand.join(positives, Seq("customer", "product"), "left_anti")
  }

  /** A8: per-node temporal recency/frequency at a query date: days since
    * latest edge ≤ t and count of such edges, sentinel 999/0 for nodes
    * with no activity (xgboost_model_training.py:147-160). Pre-aggregated
    * per node — O(|edges|) once per query date, not per candidate pair
    * (SURVEY §7.4 trap 3).
    */
  def recencyFrequency(nodeIds: DataFrame, edges: DataFrame,
                       endCol: String, t: java.sql.Timestamp): DataFrame = {
    val acts = edges.filter(col("ts") <= lit(t))
      .groupBy(col(endCol).as("id"))
      .agg(max("ts").as("latest"), count(lit(1)).as("frequency"))
    nodeIds.join(acts, Seq("id"), "left")
      .select(
        col("id"),
        coalesce(datediff(lit(t), col("latest")), lit(999)).as("recency_days"),
        coalesce(col("frequency"), lit(0L)).as("frequency"))
  }
}
