package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator of the catalog (SURVEY §2), declared once in its owning
  * catalog object: the id `SparkEntry.queries` keys it by, its Spark body, the
  * one-line contract CATALOG.md renders, and the DuckDB SQL the oracle
  * hash-compares it against (None = rows-only, twin-gated by design,
  * SURVEY §7.4). */
final case class CatalogEntry(
    id: String, run: CatalogEntry.Q, contract: String, oracle: Option[String])

object CatalogEntry {
  /** An entry body: session and testdata dir in, result out. */
  type Q = (SparkSession, String) => DataFrame
}

/** A catalog object: owns `entries`; the id-keyed view the tests and
  * perfbench read is derived from them once. Lazy because a trait's vals
  * initialize before the object body that defines `entries`. */
trait CatalogModule {
  val entries: Seq[CatalogEntry]

  lazy val queries: Map[String, CatalogEntry.Q] = entries.map(e => e.id -> e.run).toMap
}
