package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.catalog.{Analytics, CatalogModule, GraphML, Relational, ScaleOps, Strategies, TextSim}
import graft.catalog.CatalogEntry.Q
import scala.collection.immutable.SortedMap

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory of SURVEY §2 expressed over the
  * driver's testdata; `oracleSql` carries the DuckDB mirror for each.
  * The implementations live in the graft.* library packages (graph,
  * recommend, sim, text, functions) — the catalog objects are thin
  * bindings from operator id → library call.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full Q1 "diverse" recommendation pipeline (candidate gen →
    * score → category cap → softmax → top-3). */
  def entry(spark: SparkSession): DataFrame =
    Strategies.queries("rec_q1_diverse")(spark, "/root/testdata/sf0.001")

  /** The catalog objects; every view below is derived from their
    * `entries`. */
  val modules: Seq[CatalogModule] =
    Seq(Relational, Analytics, TextSim, Strategies, GraphML, ScaleOps)

  // a repeated id would otherwise be silently shadowed by the map views
  locally {
    val ids = modules.flatMap(_.entries.map(_.id))
    require(ids.distinct.size == ids.size, "duplicate catalog ids: " +
      ids.diff(ids.distinct).distinct.sorted.mkString(", "))
  }

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * SortedMap, deliberately: an unordered HashMap gave Verify,
    * Bench, and CatalogSpec three DIFFERENT execution orders, so an
    * order-dependent failure (round 9's session-poisoning bug) produced
    * a different victim set in every artifact. One deterministic
    * name-ascending order everywhere makes such bugs reproduce
    * identically across all three consumers. */
  val queries: SortedMap[String, Q] = SortedMap.from(modules.flatMap(_.queries))

  /** For each key in queries, equivalent SQL runnable by DuckDB on the
    * same parquet tables. Omitted keys get a rows-only check. */
  val oracleSql: Map[String, String] =
    modules.flatMap(_.entries).flatMap(e => e.oracle.map(e.id -> _)).toMap
}
