package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables

/** The engine's canonical graph representation: a pair of DataFrames
  * (SURVEY §1.1) —
  *   nodes(id, label, community, category, weight, dvid)
  *   edges(src, dst, type, ts, qty, dvid)
  *
  * This is the load-bearing design decision vs the reference's
  * networkx.DiGraph (knowledge_graph_creation.py:39): columnar, columnar-
  * pruned, dvid-partitionable, and join-oriented. At 100 TB the nodes and
  * edges tables are parquet partitioned by `dvid` (incremental injections
  * append a partition; P9 predicates become partition pruning) and edges
  * are additionally bucketable by `src` for co-located traversal joins.
  */
/** @param cacheToken stable semantic identity for this graph instance,
  * set ONLY by builders whose frames are checkpoint-backed — or pure
  * deterministic projections/filters of checkpoint-backed, app-stable
  * inputs — and live for the whole app (GraphBuilder.fromTpch, the
  * dedup/entity CC graphs, the dvid-1 GraphML slice). Downstream memo
  * caches (GraphXAnalytics.vertexMap / edgeArrays) key on it; graphs
  * without a token are computed fresh and never cached — an
  * identity-hash key would leak collected arrays for the app's lifetime
  * and could alias a recycled hash to the wrong graph. */
final case class PropertyGraph(nodes: DataFrame, edges: DataFrame,
                               cacheToken: Option[String] = None)

object GraphBuilder {

  /** Build the e-commerce knowledge graph from the TPC-H-ish testdata,
    * mirroring the reference's graph schema (knowledge_graph_creation.py:
    * 45-116): Customer/Order/Product/Category nodes; PURCHASED (customer→
    * order), CONTAINS (order→product), BELONGS_TO (product→category).
    *
    * `dvid` is synthesized deterministically from the order key (the
    * reference tags injections 1..5; First_Data_injection.py:13).
    *
    * Memoized + materialized per dir within the session: over a dozen
    * catalog operators consume the graph, and each would otherwise
    * re-scan and re-transform the four source tables.
    */
  def fromTpch(spark: SparkSession, dir: String): PropertyGraph =
    graft.core.AppCache.memo(spark, "graph.tpch", dir) {
      val g = buildTpch(spark, dir)
      // COLUMNAR cache for the app-lifetime memo — the sf10 probes
      // retired both checkpoint variants in turn: values-mode blocks
      // serialized all executor threads on the MemoryStore unroll lock
      // (SizeEstimator walks pricing 18.5 GB of object graphs), and
      // serialized-row blocks fixed that but the eager checkpoint's
      // per-row UnsafeRow.copy allocated 111M short-lived objects —
      // jstat showed the 64g young gen absorbing it as ~8 s
      // collections, and every later consumer paid a Kryo
      // readClassAndObject per row to scan. persist() builds
      // compressed columnar batches (allocation per 10k-row batch, not
      // per row), consumers re-scan through codegen'd columnar reads,
      // and the CacheManager rebuilds evicted blocks from the parquet
      // lineage — so the AppCache budget trim keeps its "evict =
      // rebuild on demand" semantics (accounting via
      // GraftColumnBridge.cachedPlanRddId).
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val nodes = g.nodes.persist(lvl)
      val edges = g.edges.persist(lvl)
      // materialize once, up front — as two CONCURRENT jobs: the node
      // and edge builds are independent (measured at sf0.1: serial
      // 2.5-3.6 s, concurrent 1.7-2.1 s for the same materialization)
      graft.core.Concurrent.both(nodes.count(), edges.count())
      PropertyGraph(nodes, edges, cacheToken = Some(s"tpch:$dir"))
    }

  /** The uncached construction (the memo above is the normal entry). */
  def buildTpch(spark: SparkSession, dir: String): PropertyGraph = {
    val cust = Tables.customer(spark, dir)
    val ord  = Tables.orders(spark, dir)
    val li   = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)

    val custNodes = cust.select(
      concat(lit("cust_"), col("c_custkey")).as("id"),
      lit("Customer").as("label"),
      col("c_nationkey").cast("long").as("community"),
      col("c_mktsegment").as("category"),
      col("c_acctbal").as("weight"),
      lit(1).as("dvid"))

    val orderNodes = ord.select(
      concat(lit("ord_"), col("o_orderkey")).as("id"),
      lit("Order").as("label"),
      lit(null).cast("long").as("community"),
      col("o_orderstatus").as("category"),
      col("o_totalprice").as("weight"),
      (pmod(col("o_orderkey"), lit(5)) + 1).cast("int").as("dvid"))

    val partNodes = part.select(
      concat(lit("part_"), col("p_partkey")).as("id"),
      lit("Product").as("label"),
      lit(null).cast("long").as("community"),
      col("p_brand").as("category"),
      col("p_retailprice").as("weight"),
      lit(1).as("dvid"))

    val categoryNodes = part.select(col("p_brand")).distinct().select(
      concat(lit("brand_"), col("p_brand")).as("id"),
      lit("Category").as("label"),
      lit(null).cast("long").as("community"),
      col("p_brand").as("category"),
      lit(null).cast("double").as("weight"),
      lit(1).as("dvid"))

    // Location nodes from the customer's nation (the reference keys
    // locations off shipping geography, knowledge_graph_creation.py:100-103)
    val locationNodes = Tables.nation(spark, dir).select(
      concat(lit("loc_"), col("n_nationkey")).as("id"),
      lit("Location").as("label"),
      col("n_nationkey").cast("long").as("community"),
      col("n_name").as("category"),
      lit(null).cast("double").as("weight"),
      lit(1).as("dvid"))

    val nodes = custNodes.unionByName(orderNodes)
      .unionByName(partNodes).unionByName(categoryNodes)
      .unionByName(locationNodes)

    val purchased = ord.select(
      concat(lit("cust_"), col("o_custkey")).as("src"),
      concat(lit("ord_"), col("o_orderkey")).as("dst"),
      lit("PURCHASED").as("type"),
      col("o_orderdate").as("ts"),
      lit(null).cast("double").as("qty"),
      (pmod(col("o_orderkey"), lit(5)) + 1).cast("int").as("dvid"))

    val contains = li.select(
      concat(lit("ord_"), col("l_orderkey")).as("src"),
      concat(lit("part_"), col("l_partkey")).as("dst"),
      lit("CONTAINS").as("type"),
      col("l_shipdate").as("ts"),
      col("l_quantity").as("qty"),
      (pmod(col("l_orderkey"), lit(5)) + 1).cast("int").as("dvid"))

    val belongsTo = part.select(
      concat(lit("part_"), col("p_partkey")).as("src"),
      concat(lit("brand_"), col("p_brand")).as("dst"),
      lit("BELONGS_TO").as("type"),
      lit(null).cast("timestamp").as("ts"),
      lit(null).cast("double").as("qty"),
      lit(1).as("dvid"))

    // SHIPPED_TO: order → the ordering customer's location
    // (knowledge_graph_creation.py:113)
    val shippedTo = ord.join(cust, ord("o_custkey") === cust("c_custkey")).select(
      concat(lit("ord_"), col("o_orderkey")).as("src"),
      concat(lit("loc_"), col("c_nationkey")).as("dst"),
      lit("SHIPPED_TO").as("type"),
      col("o_orderdate").as("ts"),
      lit(null).cast("double").as("qty"),
      (pmod(col("o_orderkey"), lit(5)) + 1).cast("int").as("dvid"))

    val edges = purchased.unionByName(contains).unionByName(belongsTo)
      .unionByName(shippedTo)
    PropertyGraph(nodes, edges)
  }
}

/** DuckDB-SQL mirrors of GraphBuilder, used as CTE preludes inside oracle
  * queries so the correctness driver replays the exact same graph.
  * Kept adjacent to the Scala builders: any change must edit both.
  */
object GraphSql {
  val nodesCte: String =
    """nodes AS (
      |  SELECT concat('cust_', c_custkey) AS id, 'Customer' AS label,
      |         CAST(c_nationkey AS BIGINT) AS community, c_mktsegment AS category,
      |         c_acctbal AS weight, 1 AS dvid FROM customer
      |  UNION ALL
      |  SELECT concat('ord_', o_orderkey), 'Order', NULL, o_orderstatus,
      |         o_totalprice, CAST(o_orderkey % 5 + 1 AS INT) FROM orders
      |  UNION ALL
      |  SELECT concat('part_', p_partkey), 'Product', NULL, p_brand,
      |         p_retailprice, 1 FROM part
      |  UNION ALL
      |  SELECT concat('brand_', p_brand), 'Category', NULL, p_brand, NULL, 1
      |  FROM (SELECT DISTINCT p_brand FROM part)
      |  UNION ALL
      |  SELECT concat('loc_', n_nationkey), 'Location', CAST(n_nationkey AS BIGINT),
      |         n_name, NULL, 1 FROM nation
      |)""".stripMargin

  val edgesCte: String =
    """edges AS (
      |  SELECT concat('cust_', o_custkey) AS src, concat('ord_', o_orderkey) AS dst,
      |         'PURCHASED' AS type, o_orderdate AS ts, CAST(NULL AS DOUBLE) AS qty,
      |         CAST(o_orderkey % 5 + 1 AS INT) AS dvid FROM orders
      |  UNION ALL
      |  SELECT concat('ord_', l_orderkey), concat('part_', l_partkey), 'CONTAINS',
      |         l_shipdate, l_quantity, CAST(l_orderkey % 5 + 1 AS INT) FROM lineitem
      |  UNION ALL
      |  SELECT concat('part_', p_partkey), concat('brand_', p_brand), 'BELONGS_TO',
      |         NULL, NULL, 1 FROM part
      |  UNION ALL
      |  SELECT concat('ord_', o_orderkey), concat('loc_', c_nationkey), 'SHIPPED_TO',
      |         o_orderdate, NULL, CAST(o_orderkey % 5 + 1 AS INT)
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |)""".stripMargin
}
