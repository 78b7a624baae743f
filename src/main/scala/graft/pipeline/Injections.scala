package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Concurrent, Tables}
import graft.graph.PropertyGraph

/** dvid-versioned incremental graph storage (SURVEY §2.10 G6, §2.12):
  * each injection appends a `dvid=N` partition to the nodes/edges
  * parquet tables — the engine's canonical checkpoint (replacing the
  * reference's whole-graph pickle between every stage, S6).
  *
  * At 100 TB this layout is the load-bearing piece: P9 dvid predicates
  * become partition pruning, injections are append-only (no rewrite of
  * history), and downstream feature folds read only the partitions they
  * need.
  */
object Injections {

  /** Append one injection's nodes and edges. The two writes are
    * independent, so they run as two concurrent jobs: one table's
    * straggler tail no longer leaves the cores idle while the other
    * waits its turn. */
  def append(g: PropertyGraph, graphDir: String): Unit =
    Concurrent.both(
      g.nodes.write.mode(SaveMode.Append).partitionBy("dvid")
        .parquet(s"$graphDir/nodes"),
      g.edges.write.mode(SaveMode.Append).partitionBy("dvid")
        .parquet(s"$graphDir/edges"))

  /** The store as a graph. Loading starts no Spark job: the schemas
    * come from the parquet footers on the driver ([[Tables.parquet]]),
    * and `dvid` is inferred from the partition directory names. */
  def load(spark: SparkSession, graphDir: String): PropertyGraph =
    PropertyGraph(
      Tables.parquet(spark, s"$graphDir/nodes"),
      Tables.parquet(spark, s"$graphDir/edges"))

  /** Small-file compaction for one table of the store: every dvid
    * partition is rewritten into one file (hash-partitioning by dvid
    * puts each version's rows in a single task). Append-only ingestion
    * accretes a file per micro-batch per partition; at 100 TB the file
    * count — not the byte count — becomes the scan bottleneck (footer
    * reads, task scheduling), so compaction is a standing maintenance
    * job. Rewrite happens to a staging dir first and swaps in, so a
    * crash never leaves a partial store. */
  def compact(spark: SparkSession, tableDir: String): Unit = {
    val staged = s"$tableDir.compacting"
    spark.read.parquet(tableDir)
      .repartition(col("dvid"))
      .write.mode(SaveMode.Overwrite).partitionBy("dvid").parquet(staged)
    // swap via Hadoop FileSystem (any store, not just local disk),
    // checking every rename; the backup is deleted only after the new
    // dir is verifiably in place, so a crash or failed rename leaves
    // either the original table or a restorable `.old` backup — never
    // a missing table path.
    import org.apache.hadoop.fs.Path
    val dirP = new Path(tableDir)
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagedP = new Path(staged)
    val bakP = new Path(s"$tableDir.old")
    if (fs.exists(bakP)) fs.delete(bakP, true)
    if (!fs.rename(dirP, bakP))
      throw new java.io.IOException(s"compact: cannot move $tableDir aside")
    if (!fs.rename(stagedP, dirP)) {
      val restored = fs.rename(bakP, dirP)
      throw new java.io.IOException(s"compact: cannot swap in $staged" +
        (if (restored) " (original restored)" else s" (original left at $bakP)"))
    }
    if (!fs.exists(dirP))
      throw new java.io.IOException(s"compact: $tableDir missing after swap")
    fs.delete(bakP, true)
  }

  /** The injection verification report (A1 + dvid counts — the
    * reference prints this after every injection). */
  def report(g: PropertyGraph): DataFrame =
    g.nodes.groupBy("dvid").agg(count(lit(1)).as("cnt")).withColumn("kind", lit("node"))
      .unionByName(
        g.edges.groupBy("dvid").agg(count(lit(1)).as("cnt")).withColumn("kind", lit("edge")))
      .select("kind", "dvid", "cnt").orderBy("kind", "dvid")
}
