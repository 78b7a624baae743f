package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{Artifacts, Tables}
import graft.functions.ColFns
import graft.graph.Links

/** Operator catalog, part 1: scans/sinks (S), predicates/projections (P),
  * joins (J), set ops (U), limits (W5) — SURVEY §2.1–2.3, §2.6.
  *
  * Each entry is a (SparkSession, sfDir) => DataFrame paired with a
  * DuckDB oracle over the same parquet tables. Results are made fully
  * deterministic (explicit ORDER BY, rounded float aggregates, hash-based
  * pseudo-randomness) so the driver's hash compare is stable.
  */
object Relational extends CatalogModule {

  // S1: CSV scan + header normalization (First_Data_injection.py:33-43):
  // write customer with reference-style messy headers, re-ingest with the
  // snake_case normalizer, cast back to a declared schema.
  private def s1CsvScan(spark: SparkSession, dir: String): DataFrame = {
    val messy = Tables.customer(spark, dir)
      .toDF("C-CustKey", "C Name", "C NationKey", "C AcctBal", "C MktSegment")
    val path = Artifacts.freshScratchDir(spark, "s1_customer_csv", dir)
    messy.write.mode("overwrite").option("header", "true").csv(path)
    val raw = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    val renamed = raw.toDF(raw.columns.map(ColFns.normalizeName): _*)
    renamed.select(
      col("c_custkey").cast("long"), col("c_name"),
      col("c_nationkey").cast("int"), col("c_acctbal").cast("double"),
      col("c_mktsegment"))
      .orderBy("c_custkey")
  }

  // S2: CSV scan + bad-row NOT-IN filter + value lowercase
  // (First_Data_injection.py:55-72)
  private def s2CsvBadRows(spark: SparkSession, dir: String): DataFrame = {
    val messy = Tables.part(spark, dir)
      .toDF("P-PartKey", "P Name", "P Brand", "P Type", "P Size", "P RetailPrice")
    val path = Artifacts.freshScratchDir(spark, "s2_part_csv", dir)
    messy.write.mode("overwrite").option("header", "true").csv(path)
    val raw = spark.read.option("header", "true").option("inferSchema", "true").csv(path)
    val renamed = raw.toDF(raw.columns.map(ColFns.normalizeName): _*)
    renamed
      .filter(!col("p_brand").isin("Brand#1", "Brand#2"))
      .select(col("p_partkey").cast("long"), col("p_name"), col("p_brand"),
        lower(col("p_type")).as("type_norm"), col("p_size").cast("int"),
        col("p_retailprice").cast("double"))
      .orderBy("p_partkey")
  }

  // S3: catalog scan — the product-attribute lookup table ingested with
  // the reference's cleaning semantics (First_Data_injection.py:84-106):
  // messy headers normalized, dropna, sku/design_no renames; scanned
  // through ReferenceIngest.productCatalog itself.
  private def s3CatalogScan(spark: SparkSession, dir: String): DataFrame = {
    val messy = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_size"), col("p_type"))
      .toDF("SKU Code", "Design No.", "Brand", "Size", "Category")
    val path = Artifacts.freshScratchDir(spark, "s3_catalog_csv", dir)
    messy.write.mode("overwrite").option("header", "true").csv(path)
    graft.sources.ReferenceIngest.productCatalog(spark, path)
      .select(col("sku").cast("long").as("sku"), col("design_no"),
        col("brand"), col("size").cast("int").as("size"), col("category"))
      .orderBy("sku")
  }

  // S6: graph checkpoint roundtrip — the engine's parquet handoff
  // standing in for the reference's pickle (knowledge_graph_creation.py:
  // 248): full graph appended to a dvid-partitioned store, reloaded,
  // and attested by per-(label/type, dvid) histograms.
  private def s6GraphCheckpoint(spark: SparkSession, dir: String): DataFrame = {
    val g = graft.graph.GraphBuilder.fromTpch(spark, dir)
    val path = Artifacts.freshScratchDir(spark, "s6_graph_checkpoint", dir)
    graft.pipeline.Injections.append(g, path)
    val back = graft.pipeline.Injections.load(spark, path)
    back.nodes.groupBy("label", "dvid").agg(count(lit(1)).as("cnt"))
      .select(lit("node").as("kind"), col("label").as("name"), col("dvid"), col("cnt"))
      .unionByName(back.edges.groupBy("type", "dvid").agg(count(lit(1)).as("cnt"))
        .select(lit("edge").as("kind"), col("type").as("name"), col("dvid"), col("cnt")))
      .orderBy("kind", "name", "dvid")
  }

  // S4/S6: parquet sink + re-scan (the engine's canonical checkpoint)
  private def s4ParquetRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.orders(spark, dir).groupBy("o_orderstatus")
      .agg(round(sum("o_totalprice"), 2).as("total_price"),
        count(lit(1)).as("n_orders"))
    val path = Artifacts.freshScratchDir(spark, "s4_orders_parquet", dir)
    agg.write.mode("overwrite").parquet(path)
    spark.read.parquet(path).orderBy("o_orderstatus")
  }

  // S11: ORC sink/source roundtrip — the second columnar interchange
  // format Spark ships natively (a lakehouse neighbor hands you ORC as
  // readily as parquet). Same discipline as s4: write an aggregate,
  // read it back, gate the BYTES that came off disk against the
  // relational oracle — exercising ORC's own type mapping (decimal/
  // timestamp/long) through the engine's write+read path.
  private def s11OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.lineitem(spark, dir).groupBy("l_returnflag", "l_linestatus")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        count(lit(1)).as("n_lines"))
    val path = Artifacts.freshScratchDir(spark, "s11_lineitem_orc", dir)
    agg.write.mode("overwrite").orc(path)
    spark.read.orc(path).orderBy("l_returnflag", "l_linestatus")
  }

  // S12: data-layout-for-skipping — the op that decides whether a
  // 100 TB probe reads 100 TB or 100 GB. Lineitem is laid out
  // hive-partitioned by ship year (directory pruning) and range-sorted
  // by l_orderkey within partitions with small parquet row groups
  // (min/max stat skipping), then probed with a year + key-range
  // predicate. The hash gate proves layout changes nothing about the
  // ANSWER (oracle runs on the raw table); the PlanShapeSpec/
  // ScaleMechanicsSpec assertions prove the probe reads only the
  // matching directory and row groups — PartitionFilters carries the
  // year, PushedFilters the key range, and the scan's numOutputRows
  // collapses vs the same probe on an unsorted single-directory copy.
  private def s12SortedLayout(spark: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.freshScratchDir(spark, "s12_lineitem_layout", dir)
    Tables.lineitem(spark, dir)
      .withColumn("ship_year", year(col("l_shipdate")))
      // range-partition on the sort key so each output file owns a
      // contiguous orderkey span, then sort within partitions: row-group
      // min/max stats become disjoint ranges a BETWEEN probe can skip
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite")
      .option("parquet.block.size", 131072)
      .partitionBy("ship_year")
      .parquet(path)
    spark.read.parquet(path)
      .filter(col("ship_year") === 1997 && col("l_orderkey").between(1000, 3000))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
      .orderBy("l_returnflag")
  }

  // S15: Z-ORDER layout — multi-dimensional clustering, the layout op
  // s12 can't express. Sorting by ONE key (s12) makes row-group min/max
  // stats disjoint on that key only; a probe that ALSO filters a second
  // column still reads every row group the first key admits, because
  // the second column's stats straddle everywhere. Interleaving the
  // bits of both keys into a Morton z-value (the native codegen
  // MortonInterleave expression, plans/expressions.scala) and
  // range-sorting the write by z keeps each row group compact in BOTH
  // dimensions at once, so its min/max stats form a tight box on the
  // ORIGINAL columns and a two-predicate probe skips row groups on both
  // — with NO query rewrite: the probe filters the raw columns, the
  // pushed filters do the rest. At 100 TB this is the difference
  // between "fast for the one blessed predicate" and "fast for the
  // predicate family": z-cells bound what ANY box probe reads. The hash
  // gate proves the layout changes nothing about the answer (oracle on
  // the raw table); ScaleMechanicsSpec measures that the same probe
  // surfaces fewer rows from the z-layout than from the s12-style
  // single-key sort.
  /** Linear quantization of a key into the 16-bit z domain from both
    * table-stats bounds: (key − lo) · 2¹⁶ / (hi − lo + 1) ∈ [0, 65536). */
  private[graft] def zNorm(c: org.apache.spark.sql.Column, lo: Long, hi: Long) =
    (c - lit(lo)) * lit(65536L) / lit(hi - lo + 1)

  private def s15ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.freshScratchDir(spark, "s15_lineitem_zorder", dir)
    val li = Tables.lineitem(spark, dir)
    // normalize both keys into the 16-bit z domain by linear quantization
    // from BOTH observed bounds — one metadata-cheap aggregate job; at
    // scale these bounds come from table stats, not a scan. Min matters:
    // a key domain that starts at 10⁹ (surrogate ids, epoch millis)
    // would otherwise collapse into the top z-cells and the layout would
    // stop discriminating.
    val b = li.agg(min("l_orderkey"), max("l_orderkey"),
      min("l_suppkey"), max("l_suppkey")).head()
    li.withColumn("z", graft.plans.expressions.morton_interleave(
        zNorm(col("l_orderkey"), b.getLong(0), b.getLong(1)),
        zNorm(col("l_suppkey"), b.getLong(2), b.getLong(3))))
      // range-partition on z so each file owns a compact z-cell (an
      // axis-aligned 2-D box), sort within so row groups are sub-cells
      .repartitionByRange(64, col("z"))
      .sortWithinPartitions("z")
      .write.mode("overwrite")
      .option("parquet.block.size", 131072)
      .parquet(path)
    spark.read.parquet(path)
      .filter(col("l_orderkey").between(100, 400) &&
        col("l_suppkey").between(1, 3))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
      .orderBy("l_returnflag")
  }

  // S16: CDC MERGE — copy-on-write upsert, the lakehouse maintenance op
  // (Delta/Iceberg MERGE INTO re-expressed on plain partitioned
  // parquet). A change batch of deletes (key ≡ 0 mod 101), updates
  // (+$5.00, key ≡ 0 mod 37, delete wins on overlap) and inserts
  // (clones of key ≡ 0 mod 97 under fresh keys) — all confined to two
  // month partitions — is applied by rewriting ONLY the affected
  // partitions: survivors ∪ updates ∪ inserts, staged off-lineage, then
  // written with dynamic partitionOverwriteMode so untouched months'
  // files are never rewritten (ScaleMechanicsSpec asserts them
  // byte-identical). At 100 TB this is the difference between "MERGE
  // costs the table" and "MERGE costs the touched partitions": the
  // rewrite is |affected|, the read side is directory-pruned to the
  // change batch's months, and history stays immutable. The oracle
  // reconstructs the merge relationally over the RAW table, so the hash
  // gate proves the partition-scoped rewrite equals the logical merge.
  private def s16CdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.freshScratchDir(spark, "s16_orders_cow", dir)
    val months = Seq("1996-03", "1996-04")
    // dynamic overwrite on an isolated session clone — the shared
    // session's conf is never mutated
    val iso = spark.newSession()
    iso.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val orders = Tables.orders(iso, dir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .select("o_orderkey", "o_totalprice", "o_month")
    // base snapshot, hive-partitioned by month (the real layout: a
    // date-partitioned fact table)
    orders.write.mode("overwrite").partitionBy("o_month").parquet(path)
    val snap = iso.read.parquet(path)
    val affected = snap.filter(col("o_month").isin(months: _*))
    val maxKey = orders.agg(max("o_orderkey")).head().getLong(0)
    val deletes = affected.filter(pmod(col("o_orderkey"), lit(101)) === 0)
      .select(col("o_orderkey"))
    val updates = affected.filter(pmod(col("o_orderkey"), lit(37)) === 0 &&
        pmod(col("o_orderkey"), lit(101)) =!= 0)
      .withColumn("o_totalprice", col("o_totalprice") + 5.0)
    val inserts = affected.filter(pmod(col("o_orderkey"), lit(97)) === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(maxKey + 1))
    val survivors = affected.join(
      deletes.unionByName(updates.select("o_orderkey")).select("o_orderkey"),
      Seq("o_orderkey"), "left_anti")
    // stage the rewrite OFF-LINEAGE before overwriting the dirs it reads
    // from (the self-overwrite trap); the staged set is |affected|-sized
    val rewritten = survivors.unionByName(updates).unionByName(inserts)
      .localCheckpoint(true)
    rewritten.write.mode("overwrite").partitionBy("o_month").parquet(path)
    // full-table audit AFTER the merge: every month reported, so a
    // corrupted untouched partition cannot hide
    spark.read.parquet(path)
      .groupBy("o_month")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("price_cents"),
        sum(col("o_orderkey")).as("key_sum"))
      .orderBy("o_month")
  }

  // S17: DYNAMIC partition pruning — the runtime half of what s12
  // proves statically. A static predicate prunes directories at plan
  // time; the classic warehouse probe ("fact JOIN calendar-dim WHERE
  // dim.attribute = …", TPC-DS's date_dim pattern) has NO static
  // predicate on the fact's partition column — the eligible partitions
  // are only known after the dim side is evaluated. Spark's DPP turns
  // the broadcast dim into an IN-subquery partition filter on the fact
  // scan AT RUNTIME, so a 100 TB fact table reads only the dim-selected
  // partitions. The dim is read BACK from parquet (not a literal
  // DataFrame) so Catalyst cannot constant-fold the filter into a
  // static prune — the entry exercises the genuine runtime path
  // (ScaleMechanicsSpec asserts `dynamicpruning` in the scan's
  // PartitionFilters and that the scan reads a strict subset of the
  // partitions). The oracle restates the dim rule relationally over the
  // raw table, so the hash gate proves pruning changed nothing.
  // the staged layouts are s17's amortized one-time cost (the j13
  // bucketed-table discipline): the entry DEMONSTRATES the runtime
  // pruning probe, not the write, so in-session re-runs (tests, verify
  // after bench, bench reruns) pay only the probe
  private def s17DynamicPruning(spark: SparkSession, dir: String): DataFrame = {
    // scratch dirs are app-scoped, so the memo can trust the on-disk
    // layout for the app's lifetime even with a concurrent app over the
    // SAME SF dir
    val (factPath, dimPath) =
      graft.core.AppCache.memo(spark, "relational.s17Layouts", dir) {
        val factPath = Artifacts.freshScratchDir(spark, "s17_lineitem_by_year", dir)
        val dimPath = Artifacts.freshScratchDir(spark, "s17_calendar_dim", dir)
        val li = Tables.lineitem(spark, dir)
          .withColumn("ship_year", year(col("l_shipdate")))
        li.write.partitionBy("ship_year").parquet(factPath)
        // the calendar dimension: one row per observed year, attributed
        li.select(col("ship_year")).distinct()
          .withColumn("era",
            when(col("ship_year") >= 1996, lit("late")).otherwise(lit("early")))
          .write.parquet(dimPath)
        (factPath, dimPath)
      }
    val fact = spark.read.parquet(factPath)
    val cal = spark.read.parquet(dimPath).filter(col("era") === "late")
    fact.join(broadcast(cal), Seq("ship_year"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
      .orderBy("l_returnflag")
  }

  // S18: RETENTION VACUUM — the TTL enforcement job on a versioned
  // store (the third leg of the lake-housekeeping triad: s13 compacts
  // files, s16 rewrites changed partitions, s18 DELETES expired ones).
  // A dvid-partitioned store accretes history forever unless something
  // reclaims it; the vacuum drops every partition older than the
  // retention window, dir-by-dir — partition directories are the
  // deletion unit, so a reader of the RETAINED window can never observe
  // a partially-deleted version (at 100 TB the dir delete is fronted by
  // a manifest commit so in-flight listings stay consistent; the
  // invariant pinned here is the same). Proof stack: in-entry, the
  // retained-window aggregate is computed BEFORE and AFTER the vacuum
  // and the result is gated on their equality — vacuum must be
  // invisible inside the window; cross-engine, the oracle recomputes
  // the retained window from the raw table, so the hash also proves the
  // vacuum dropped EXACTLY the expired versions (an over-delete loses
  // rows, an under-delete leaves dvids the full-store scan would add).
  private def s18RetentionVacuum(spark: SparkSession, dir: String): DataFrame = {
    val store = Artifacts.freshScratchDir(spark, "s18_events_versioned", dir)
    // four injected versions; retention keeps the newest two
    Tables.events(spark, dir)
      .withColumn("dvid", (pmod(col("event_id"), lit(4)) + 1).cast("int"))
      .write.partitionBy("dvid").parquet(store)
    def retained(df: DataFrame) = df
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
    // the retained window BEFORE the vacuum (explicit dvid predicate)
    val pre = retained(spark.read.parquet(store).filter(col("dvid") >= 3))
      .localCheckpoint(true)
    // VACUUM: expired versions go partition-dir by partition-dir
    Seq(1, 2).foreach { d =>
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(s"$store/dvid=$d"))
    }
    // AFTER: a full-store scan — no predicate — sees only the window
    val post = retained(spark.read.parquet(store))
    val nPre = pre.count()
    val nJoint = post.join(pre, Seq("event_type", "n", "value_cents")).count()
    post.filter(lit(nPre) === lit(nJoint) && lit(post.count()) === lit(nJoint))
      .orderBy("event_type")
  }

  // S20: MANIFEST-FRONTED VACUUM — s18 composed with s19's commit
  // primitive, closing the loop s18's own doc promised ("at 100 TB the
  // dir delete is fronted by a manifest commit"). The store's readable
  // contents are DEFINED by a manifest file resolved through one
  // atomic pointer — never by directory listing — so the TTL job is
  // two ordered steps: (1) COMMIT the post-TTL manifest (one atomic
  // rename; every new read instantly sees only the retained window,
  // the expired dirs become unreferenced garbage), (2) physically
  // delete the unreferenced dirs. A crash between the steps leaves
  // only invisible debris; a crash mid-step-2 leaves a half-deleted
  // set NO reader can ever list, because readers never list. An
  // in-flight reader that resolved the old manifest before the flip
  // still reads its full version while the dirs live (production puts
  // the physical delete behind a grace period for exactly that
  // reader). Gate: retained-window aggregate via the OLD manifest
  // BEFORE ≡ full read via the NEW manifest AFTER (in-entry equality),
  // and the oracle recomputes the window from the raw table.
  private[graft] def s20CommitManifest(root: String, version: Int,
      dvids: Seq[Int],
      proto: graft.core.CommitProtocol = graft.core.PosixCommit): Unit = {
    val mDir = java.nio.file.Paths.get(s"$root/manifests")
    java.nio.file.Files.createDirectories(mDir)
    // the manifest object is unreferenced until the flip names it — a
    // plain write/PUT, no atomicity needed
    java.nio.file.Files.writeString(mDir.resolve(s"m$version.txt"),
      dvids.mkString("\n"))
    proto.flip(root, s"m$version.txt")
  }

  /** Manifest-scoped read: resolve the pointer ONCE, read exactly the
    * referenced partition dirs — debris and half-deleted state are
    * invisible by construction. */
  private[graft] def s20ReadViaManifest(spark: SparkSession,
                                        root: String): DataFrame = {
    val m = graft.core.PosixCommit.current(root)
    val dvids = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/manifests/$m")).trim
      .split("\n").filter(_.nonEmpty).map(_.toInt)
    spark.read.option("basePath", s"$root/data")
      .parquet(dvids.map(d => s"$root/data/dvid=$d").toSeq: _*)
  }

  private def s20ManifestVacuum(spark: SparkSession, dir: String): DataFrame = {
    val root = Artifacts.freshScratchDir(spark, "s20_manifest_store", dir)
    Tables.events(spark, dir)
      .withColumn("dvid", (pmod(col("event_id"), lit(4)) + 1).cast("int"))
      .write.partitionBy("dvid").parquet(s"$root/data")
    s20CommitManifest(root, 1, Seq(1, 2, 3, 4))
    def retained(df: DataFrame) = df
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
    // the retained window through the PRE-vacuum manifest (explicit
    // dvid predicate over the full version set)
    val pre = retained(s20ReadViaManifest(spark, root).filter(col("dvid") >= 3))
      .localCheckpoint(true)
    // VACUUM step 1: the commit — one atomic pointer flip and the
    // expired versions are unreferenced
    s20CommitManifest(root, 2, Seq(3, 4))
    // step 2: physical reclamation of what no manifest references —
    // through the seam: on an object store this is per-key deletes,
    // safe only BECAUSE the flip already unreferenced the dirs
    Seq(1, 2).foreach { d =>
      graft.core.PosixCommit.deleteDir(s"$root/data/dvid=$d")
    }
    // AFTER: a manifest-scoped read, no predicate — sees only the window
    val post = retained(s20ReadViaManifest(spark, root))
    val nPre = pre.count()
    val nJoint = post.join(pre, Seq("event_type", "n", "value_cents")).count()
    post.filter(lit(nPre) === lit(nJoint) && lit(post.count()) === lit(nJoint))
      .orderBy("event_type")
  }

  // S19: ATOMIC MULTI-TABLE PUBLISH — the commit protocol the s18/
  // compact notes allude to, made first-class. Two derived tables
  // (per-customer order rollup + per-nation rollup) must move to a new
  // version TOGETHER: a reader that mixes customer-rollup v2 with
  // nation-rollup v1 reconciles to garbage. The protocol: write BOTH
  // tables under a new version directory (v2 is invisible while being
  // written — nothing references it), then flip ONE pointer file via
  // atomic rename. Readers resolve the pointer first, so every read is
  // entirely-v1 or entirely-v2, never mixed — and a crashed publish
  // leaves the pointer (and readers) on v1 with only an orphaned v2 dir
  // to garbage-collect (s18's job). At 100 TB this is the manifest
  // commit every table format builds on; the version directories also
  // give time travel for free. The entry publishes v1, then publishes
  // v2 with one MORE month of orders folded in, reads via the pointer,
  // and the oracle recomputes v2's cross-table reconciliation from the
  // raw table — a torn read (v1 half + v2 half) breaks the row-level
  // reconciliation the result carries.
  /** s19/s21's publish step: both derived tables written under an
    * unreferenced version dir, then one atomic pointer flip. Extracted
    * so the time-travel entry (s21) builds version history through the
    * exact commit path the publish entry (s19) pins. */
  private[graft] def publishVersions(spark: SparkSession, dir: String,
                                     root: String,
                                     versions: Seq[(Int, String)]): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    versions.foreach { case (version, cutoff) =>
      publishOneVersion(spark, dir, root, version, cutoff)
    }
  }

  /** One version's publish — both tables written under the unreferenced
    * `v=` dir, then the single pointer flip. Split out (r14) so the
    * crash-matrix spec can drive JUST the v2 commit through
    * [[graft.core.ObjectStoreSim]] against a live v1. */
  private[graft] def publishOneVersion(spark: SparkSession, dir: String,
      root: String, version: Int, cutoff: String,
      proto: graft.core.CommitProtocol = graft.core.PosixCommit): Unit = {
    val snap = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .filter(col("o_orderdate") < lit(cutoff).cast("timestamp"))
    val vDir = s"$root/v=$version"
    snap.groupBy("c_custkey", "c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .write.mode("overwrite").parquet(s"$vDir/by_customer")
    snap.groupBy("c_nationkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .write.mode("overwrite").parquet(s"$vDir/by_nation")
    // the commit: ONE pointer flip moves both tables to the new
    // version at the same instant (CommitProtocol names what the
    // flip is on POSIX vs an object store)
    proto.flip(root, s"v=$version")
  }

  // one published store per (app, dir): the publish job runs once, the
  // pointer reader (s19) and the time-travel reader (s21) both consume
  // it — production's economics (one nightly publish, many readers),
  // the s17/j13/sharedIvfIndex staging discipline applied here
  private def sharedPublishedRoot(spark: SparkSession, dir: String): String =
    graft.core.AppCache.memo(spark, "relational.s19Store", dir) {
      // app-scoped like j13's bucketed tables: the memo trusts the
      // on-disk store for the app's lifetime, so a concurrent app
      // publishes into its OWN root, never wipes this one
      val root = Artifacts.freshScratchDir(spark, "s19_published", dir)
      publishVersions(spark, dir, root,
        Seq(1 -> "1996-01-01", 2 -> "1997-01-01"))
      root
    }

  private def s19AtomicPublish(spark: SparkSession, dir: String): DataFrame =
    readPublished(spark, sharedPublishedRoot(spark, dir))

  /** s19's reader: resolve the pointer ONCE via the seam, then read
    * both tables from that version — cross-table consistency by
    * construction. Package-private + proto-parameterized so the crash
    * spec can run the same reader under [[graft.core.ObjectStoreSim]]
    * at every crash point of a concurrent publish. */
  private[graft] def readPublished(spark: SparkSession, root: String,
      proto: graft.core.CommitProtocol = graft.core.PosixCommit): DataFrame = {
    val v = proto.current(root)
    val byCust = spark.read.parquet(s"$root/$v/by_customer")
    val byNation = spark.read.parquet(s"$root/$v/by_nation")
    // the reconciliation IS the output: per nation, the customer-level
    // rollup re-aggregated must equal the nation-level table exactly —
    // any mixed-version read breaks n_match/cents_match
    byCust.groupBy("c_nationkey")
      .agg(sum(col("n_orders")).as("n_from_cust"),
        sum(col("cents")).as("cents_from_cust"))
      .join(byNation, Seq("c_nationkey"))
      .select(col("c_nationkey"), col("n_orders"), col("cents"),
        (col("n_from_cust") === col("n_orders")).as("n_match"),
        (col("cents_from_cust") === col("cents")).as("cents_match"))
      .orderBy("c_nationkey")
  }

  // S21: TIME TRAVEL — the read-side payoff of s19's version
  // directories ("version dirs double as time travel"): the pointer
  // names the CURRENT version, but every committed version remains
  // addressable, so "what changed between v1 and v2" is a plain
  // relational diff of two snapshot reads — the audit/debug query every
  // versioned lakehouse serves (Delta's VERSION AS OF, Iceberg's
  // snapshot id). Published through the exact s19 commit path (shared
  // helper), read back as an AS-OF pair: per nation, v1's rollup, v2's
  // rollup, and the delta — which the oracle recomputes as the
  // relational difference of the two cutoff windows over raw orders, so
  // the hash gate proves snapshots are immutable history, not views.
  // Consumes the SHARED published store: one publish, many readers.
  private def s21TimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val root = sharedPublishedRoot(spark, dir)
    // AS OF reads: explicit versions, NOT the pointer — time travel is
    // exactly the right to ignore _CURRENT
    def asOf(v: Int) = spark.read.parquet(s"$root/v=$v/by_nation")
      .select(col("c_nationkey"), col("n_orders").as(s"n_v$v"),
        col("cents").as(s"cents_v$v"))
    asOf(1).join(asOf(2), Seq("c_nationkey"), "full_outer")
      .select(col("c_nationkey"),
        coalesce(col("n_v1"), lit(0L)).as("n_v1"),
        coalesce(col("n_v2"), lit(0L)).as("n_v2"),
        (coalesce(col("n_v2"), lit(0L)) - coalesce(col("n_v1"), lit(0L)))
          .as("orders_added"),
        (coalesce(col("cents_v2"), lit(0L)) - coalesce(col("cents_v1"), lit(0L)))
          .as("cents_added"))
      .orderBy("c_nationkey")
  }

  // S13: small-file compaction — the ingest-debris housekeeping op.
  // Events staged as 48 KB-sized files (what a micro-batch sink leaves
  // behind), compacted to ⌈bytes/target⌉ ≈ 4 files with a ZERO-shuffle
  // coalesce rewrite, then read back and aggregated under the hash
  // gate: compaction must be invisible to every reader. File-count
  // collapse is asserted in ScaleMechanicsSpec.
  private def s13Compaction(spark: SparkSession, dir: String): DataFrame = {
    val staged = Artifacts.freshScratchDir(spark, "s13_events_debris", dir)
    val compacted = Artifacts.freshScratchDir(spark, "s13_events_compacted", dir)
    Tables.events(spark, dir).repartition(48)
      .write.mode("overwrite").parquet(staged)
    val target = math.max(1L, graft.sources.Compactor.dataBytes(spark, staged) / 4)
    graft.sources.Compactor.compact(spark, staged, compacted, target)
    graft.sources.Compactor.read(spark, compacted)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("total_value"))
      .orderBy("event_type")
  }

  // S22: MERGE-ON-READ deletion vectors — the other half of the
  // lakehouse delete design space. s16/e19 are COPY-ON-WRITE: a change
  // batch rewrites every touched partition immediately (read-optimal,
  // write-amplified). At 100 TB a TRICKLE of deletes (GDPR erasure,
  // order cancellations) cannot afford a partition rewrite per batch —
  // Delta's deletion vectors and Iceberg's equality-delete files
  // instead WRITE THE DELETE (a key set, O(|deleted keys|) bytes) and
  // make readers anti-join it, until a materialization pass folds the
  // tombstones into the data files (write-optimal, read-amplified
  // until compaction — the opposite trade). The entry runs BOTH phases
  // over one store and emits each phase's full readout under one
  // oracle: 'mor' = store LEFT ANTI broadcast(tombstones); then the
  // materialization rewrites ONLY the tombstone-touched partitions
  // (s16's dynamic-overwrite mechanics; the touched set is read off
  // the tombstone store's PARTITION DIRS — metadata, never a scan,
  // which is why the tombstones are written partitioned by o_month the
  // way Iceberg scopes delete files to partitions) and retires the
  // tombstone dir; 'materialized' = the plain store readout. Identical
  // rows per phase under the hash gate = a reader can never tell which
  // phase it is in — the entire MOR contract. The MOR frame is
  // checkpoint-materialized BEFORE the rewrite (lazy evaluation would
  // otherwise re-read the already-rewritten store and gate vacuously).
  // App-scoped staging + stale-sibling reaping (s17 discipline): the
  // entry is multi-step read-modify-write.
  private def s22MergeOnRead(spark: SparkSession, dir: String): DataFrame = {
    val base = Artifacts.freshScratchDir(spark, "s22_mor", dir)
    // NOT underscore-prefixed: Spark's file listing hides `_`/`.` paths,
    // so an `_deletes` root can read as an empty source
    val store = s"$base/store"; val tomb = s"$base/tombstones"
    val orders = ScaleOps.orders1996(spark, dir)
    orders.write.partitionBy("o_month").parquet(store)
    // the delete batch: keys ≡ 0 mod 7 inside two months — written as
    // an O(|keys|) partitioned key set, NOT as a table rewrite (mod 7,
    // not sparser: the batch must be non-empty at every shipped SF —
    // sf0.001 has ~18 orders/month)
    orders.filter(col("o_month").isin("1996-05", "1996-06") &&
        pmod(col("o_orderkey"), lit(7)) === 0)
      .select("o_orderkey", "o_month")
      .write.partitionBy("o_month").parquet(tomb)
    def readout(table: DataFrame, phase: String) =
      ScaleOps.monthReadout(table).withColumn("phase", lit(phase))
    // touched partitions = the tombstone store's dirs — checked BEFORE
    // the read so an empty delete batch fails loudly, not as an
    // inscrutable schema-inference error on a file-less source
    val touched = graft.core.PosixCommit.partitions(tomb, "o_month")
    require(touched.nonEmpty,
      "s22: the delete batch matched no rows at this SF — densify the key predicate")
    val tombs = spark.read.parquet(tomb).select("o_orderkey")
    val mor = readout(spark.read.parquet(store)
        .join(broadcast(tombs), Seq("o_orderkey"), "left_anti"), "mor")
      .localCheckpoint(true)
    // the fold (shared with e21's streamed MOR) handles the emptied-
    // partition hazard: dynamic overwrite can't delete a partition the
    // written frame has no rows for
    ScaleOps.morFold(spark, store, touched, tombs)
    // tombstone retirement LAST — the fold's commit point (seam-routed)
    graft.core.PosixCommit.deleteDir(tomb)
    mor.unionByName(readout(spark.read.parquet(store), "materialized"))
      .orderBy("phase", "o_month")
  }

  // S14: corrupt-record channel — the engine-grade version of s2's
  // bad-row filtering. PERMISSIVE mode parses what it can and routes
  // unparseable lines into a declared _corrupt column instead of
  // failing the job or silently dropping rows — at 100 TB "0.001% of
  // lines are garbage" is a certainty, and the corrupt channel is what
  // makes the pipeline auditable (count them, quarantine them, alert
  // on rate) without a second pass. Staged: the part table as clean
  // CSV plus 7 deliberately malformed lines; the gate checks the good
  // rows aggregate to exactly the raw table AND exactly 7 landed in
  // the corrupt bucket.
  private def s14CorruptRecords(spark: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.freshScratchDir(spark, "s14_part_badcsv", dir)
    Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")
      .write.mode("overwrite").csv(path)
    // 7 malformed lines, each failing a TYPED field parse (or quote
    // balance) — unambiguously corrupt under any parser mode. Arity
    // edge cases (missing/extra tokens) are deliberately NOT staged:
    // their good/corrupt classification is parser-mode-dependent, which
    // is the second half of the lesson this entry pins (see below).
    val bad = Seq("oops,BrandX,1", "x,Brand#2,12", "2,Brand#3,tall",
      "3,\"Brand#4,9", "q,w,e", "7.5,Brand#6,2", "8,Brand#7,big")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, "part-badlines.csv"),
      bad.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("p_partkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p_brand",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("p_size",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("_corrupt",
        org.apache.spark.sql.types.StringType)))
    // THE TRAP this entry pins (measured, Spark 4.1): malformedness is
    // judged per CONVERTED field, and conversion follows column
    // pruning — an aggregate touching just (p_brand, _corrupt) parses
    // "2,Brand#3,tall" as CLEAN because the broken size field is never
    // converted, silently moving garbage into the good channel
    // (measured: 2 of 7 staged bad lines leaked). A corrupt-channel
    // audit must therefore reference EVERY schema column in its output
    // so the full row converts — here via per-channel checksums, which
    // also harden the gate (a leaked bad line would poison a sum, not
    // just a count).
    val raw = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
    // one pass splits the channels: good rows roll up per brand, the
    // corrupt bucket keeps its count (its content is quarantine payload)
    raw.groupBy(when(col("_corrupt").isNull, col("p_brand"))
        .otherwise(lit("__corrupt__")).as("k"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_corrupt").isNull, col("p_partkey")).otherwise(lit(0L)))
          .as("key_sum"),
        sum(when(col("_corrupt").isNull, col("p_size")).otherwise(lit(0)))
          .cast("long").as("size_sum"))
      .orderBy("k")
  }

  // S5/S7: GraphML export → re-import roundtrip; the label/type counts
  // must come back exactly as the graph had them, so a1's oracle doubles
  // as this entry's oracle. Exercises the distributed XML render and the
  // regexp re-parse (incl. &amp;-escaping of ids) under the hash gate.
  private def s5GraphmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val g0 = graft.graph.GraphBuilder.fromTpch(spark, dir)
    // dvid = 1 (the initial injection, the reference's first
    // write_graphml) — GraphML is a single-document serial format, so
    // the export entry is bounded by design; the full graph's canonical
    // interchange is the parquet store
    // derived from the checkpoint-backed fromTpch frames by a pure
    // filter — stable per (app, dir), so the dvid-1 slice gets its own
    // cache token
    val g = graft.graph.PropertyGraph(
      g0.nodes.filter(col("dvid") === 1), g0.edges.filter(col("dvid") === 1),
      cacheToken = Some(s"tpch-dvid1:$dir"))
    val path = Artifacts.freshScratchDir(spark, "s5_graphml", dir)
    graft.sources.GraphMLSink.write(g, path)
    val back = graft.sources.GraphMLSource.read(spark, path)
    back.nodes.groupBy("label").agg(count(lit(1)).as("cnt"))
      .select(lit("node").as("kind"), col("label").as("name"), col("cnt"))
      .unionByName(back.edges.groupBy("type").agg(count(lit(1)).as("cnt"))
        .select(lit("edge").as("kind"), col("type").as("name"), col("cnt")))
      .orderBy("kind", "name")
  }

  // P1: dropna any-column (First_Data_injection.py:40,69,91)
  private def p1DropNa(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).na.drop("any").orderBy("o_orderkey")

  // P2: dropna subset (First_Data_injection.py:126)
  private def p2DropNaSubset(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).na.drop(Seq("ts", "user_id"))
      .select("event_id", "user_id", "event_type").orderBy("event_id")

  // P3: NOT-IN predicate + lowercase (First_Data_injection.py:62-66)
  private def p3NotIn(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(!lower(col("event_type")).isin("error", "signup"))
      .select(col("event_id"), lower(col("event_type")).as("event_type"))
      .orderBy("event_id")

  // P4: temporal training cutoff (First_Data_injection.py:12,127)
  private def p4TemporalCutoff(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1997-06-30 00:00:00")))
      .select("l_orderkey", "l_linenumber", "l_shipdate")
      .orderBy("l_orderkey", "l_linenumber")

  // P7: valid-product predicate (topk_recommandations_diverse_nodiscounts.py:189-201)
  private def p7ValidProducts(spark: SparkSession, dir: String): DataFrame =
    graft.recommend.Recommend.validProducts(Tables.part(spark, dir))
      .select("p_partkey", "p_brand", "p_size", "p_retailprice")
      .orderBy("p_partkey")

  // P10: projection + rename + row-local arithmetic
  private def p10Projection(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select(
      col("l_orderkey").as("order_id"), col("l_linenumber").as("line_no"),
      (col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))
        .as("revenue"),
      lower(col("l_returnflag")).as("flag"))
      .orderBy("order_id", "line_no")

  // J1: catalog enrichment via full-outer join + per-attr coalesce
  // (knowledge_graph_creation.py:142-166)
  private def j1FullOuterEnrich(spark: SparkSession, dir: String): DataFrame = {
    val usage = Tables.lineitem(spark, dir).groupBy(col("l_partkey").as("p_partkey"))
      .agg(count(lit(1)).as("n_lines"), round(sum("l_quantity"), 2).as("total_qty"))
    Tables.part(spark, dir).select("p_partkey", "p_brand", "p_retailprice")
      .join(usage, Seq("p_partkey"), "full_outer")
      .select(col("p_partkey"),
        coalesce(col("p_brand"), lit("UNKNOWN")).as("brand"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("total_qty"), lit(0.0)).as("total_qty"))
      .orderBy("p_partkey")
  }

  // J2: versioned upsert — later dvid wins per key (knowledge_graph_creation.py:45-116)
  private def j2Upsert(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    // NB: no round() on the updated price — the raw double product is
    // bitwise identical across engines, while round(x·1.1, 2) diverges on
    // half-cent values (engines scale-and-round differently).
    val inj1 = o.filter(pmod(col("o_orderkey"), lit(5)).isin(0, 1))
      .select(col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("price"), lit(1).as("dvid"))
    val inj2 = o.filter(pmod(col("o_orderkey"), lit(5)).isin(1, 2))
      .select(col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
        (col("o_totalprice") * 1.1).as("price"), lit(2).as("dvid"))
    inj1.unionByName(inj2).groupBy("id")
      .agg(max_by(col("status"), col("dvid")).as("status"),
        max_by(col("price"), col("dvid")).as("price"),
        max(col("dvid")).as("dvid"))
      .orderBy("id")
  }

  // J3/G5/U3: 2-hop positive-pair extraction (xgboost_model_training.py:85-103)
  private def j3TwoHop(spark: SparkSession, dir: String): DataFrame =
    Links.positivePairsCached(spark, dir)
      .orderBy("customer", "product")

  // J4/U2/R-family: deterministic hash-thinned negative sampling
  // (xgboost_model_training.py:124-141)
  private def j4NegativeSampling(spark: SparkSession, dir: String): DataFrame = {
    val pos = Links.positivePairsCached(spark, dir)
    Links.negativePairs(Tables.customer(spark, dir), Tables.part(spark, dir),
        pos, "c_custkey", "p_partkey")
      .orderBy("customer", "product")
  }

  // J5: broadcast feature-lookup join (vs the reference's per-pair table
  // scan, xgboost_model_training.py:163-167 — the single biggest perf win)
  private def j5FeatureLookup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.orders(spark, dir)
      .filter(pmod(col("o_custkey"), lit(20)) === 1)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("customer"), col("l_partkey").as("product"))
      .distinct()
    val custF = Tables.customer(spark, dir)
      .select(col("c_custkey").as("customer"), col("c_acctbal").as("acctbal"),
        col("c_mktsegment").as("segment"))
    val partF = Tables.part(spark, dir)
      .select(col("p_partkey").as("product"), col("p_retailprice").as("price"),
        col("p_brand").as("brand"))
    pairs.join(broadcast(custF), "customer").join(broadcast(partF), "product")
      .select("customer", "product", "acctbal", "segment", "price", "brand")
      .orderBy("customer", "product")
  }

  // J6: purchased-set exclusion (candidate generation anti-join,
  // topk_recommandations_diverse_nodiscounts.py:218-226)
  private def j6PurchasedExclusion(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .filter(pmod(col("c_custkey"), lit(100)) === 1)
      .select(col("c_custkey").as("customer"))
    val valid = graft.recommend.Recommend.validProducts(Tables.part(spark, dir))
      .select(col("p_partkey").as("product"))
    // restrict the exclusion build side to the queried customers FIRST
    // (the same shape Recommend.candidates uses): the orders⋈lineitem
    // distinct then runs on the 1% slice instead of every customer's
    // history, and the anti-join build side broadcasts — the plan that
    // still works when orders is 100 TB and the queried slice is small
    val purchased = Tables.orders(spark, dir)
      .select(col("o_custkey").as("customer"), col("o_orderkey").as("ok"))
      .join(broadcast(cust), Seq("customer"), "left_semi")
      .join(Tables.lineitem(spark, dir).select(col("l_orderkey").as("ok"),
        col("l_partkey").as("product")), "ok")
      .select("customer", "product").distinct()
    cust.crossJoin(valid)
      .join(broadcast(purchased), Seq("customer", "product"), "left_anti")
      .orderBy("customer", "product")
  }

  // J8: dimension (community) lookup join, broadcast
  // (xgboost_training_for_big_data.py:126-127)
  private def j8CommunityJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name").as("nation"), col("r_name").as("region"))
      .orderBy("c_custkey")

  // U1: union of heterogeneous sources with missing columns
  // (First_Data_injection.py:119-132)
  private def u1UnionMissing(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val a = o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select(col("o_orderkey").as("id"), col("o_totalprice").as("amount"),
        col("o_orderstatus").as("status"))
    val b = o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .select(col("o_orderkey").as("id"), col("o_totalprice").as("amount"),
        col("o_orderpriority").as("priority"))
    a.unionByName(b, allowMissingColumns = true).orderBy("id")
  }

  // U3: distinct-projection dedup
  private def u3Distinct(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir).select("l_returnflag", "l_linestatus")
      .distinct().orderBy("l_returnflag", "l_linestatus")

  // U2: set difference via left_anti (customers with no event activity —
  // the negatives/candidates-minus-purchased primitive in isolation; the
  // orders-based variant is empty in this generator's dense data)
  private def u2SetDifference(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(Tables.events(spark, dir).select(col("user_id").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .orderBy("c_custkey")

  // U4: set intersection (completes the §2.6 family: users who both
  // clicked AND purchased) — Dataset.intersect = INTERSECT (set
  // semantics, dedup included)
  private def u4Intersect(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.filter(col("event_type") === "click").select(col("user_id"))
      .intersect(
        ev.filter(col("event_type") === "purchase").select(col("user_id")))
      .orderBy("user_id")
  }

  // U5: multiset difference (EXCEPT ALL) — per user, one row per click
  // BEYOND their purchase count (bag semantics; the set-op family's
  // multiplicity-preserving half). Aggregated for a compact result.
  private def u5ExceptAll(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    ev.filter(col("event_type") === "click").select(col("user_id"))
      .exceptAll(ev.filter(col("event_type") === "purchase").select(col("user_id")))
      .groupBy("user_id").agg(count(lit(1)).as("excess_clicks"))
      .orderBy("user_id")
  }

  // P11: null-safe equality (<=>) — consecutive events by the SAME user
  // where NULL user ids also match each other (IS NOT DISTINCT FROM):
  // the join predicate plain '=' silently drops.
  private def p11NullSafeEq(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("event_id", "user_id")
    val a = ev.select(col("event_id").as("eid"), col("user_id").as("ua"))
    val b = ev.select((col("event_id") - 1).as("eid"), col("user_id").as("ub"))
    a.join(b, a("eid") === b("eid"))
      .filter(col("ua") <=> col("ub"))
      .groupBy(coalesce(col("ua").cast("string"), lit("NULL")).as("user"))
      .agg(count(lit(1)).as("n_consecutive"))
      .orderBy("user")
  }

  // W5: deterministic head
  private def w5Limit(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).orderBy("o_orderkey")
      .select("o_orderkey", "o_custkey", "o_orderstatus").limit(3)

  // P5: leak-proof edge time filter (Node2vec_algorithm_inscripton
  // .py:126-144) — at scale this predicate rides the parquet scan
  private def p5EdgeTimeFilter(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphBuilder.fromTpch(spark, dir).edges
      .filter(col("ts") <= lit(java.sql.Timestamp.valueOf("1997-06-30 00:00:00")))
      .groupBy("type").agg(count(lit(1)).as("cnt")).orderBy("type")

  // P8: label predicate (xgboost_model_training.py:116-117)
  private def p8LabelPredicate(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphBuilder.fromTpch(spark, dir).nodes
      .filter(col("label") === "Customer").select("id").orderBy("id")

  // P9: dvid predicate (fifth_data_injection.py:155-157) — partition
  // pruning on the dvid-partitioned store at scale
  private def p9DvidPredicate(spark: SparkSession, dir: String): DataFrame =
    graft.graph.GraphBuilder.fromTpch(spark, dir).edges
      .filter(col("dvid") === 3)
      .groupBy("type").agg(count(lit(1)).as("cnt")).orderBy("type")

  // J9/F14: graph-attr feature injection — per-node attrs pulled into
  // the feature table with the reference's fallback constants (-1
  // degree, 0.0 balance, 'Unknown' segment, 999 recency;
  // update_features_after_every_fold.py:76-113). Left join so customers
  // with no activity exercise every fallback. At scale this is a
  // shuffle-on-c_custkey join of two pre-aggregated sides — no row
  // explosion, and the aggregate side is map-side combined.
  private def j9FeatureInjection(spark: SparkSession, dir: String): DataFrame = {
    val acts = Tables.orders(spark, dir).groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("degree"), max(col("o_orderdate")).as("latest"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"), col("c_mktsegment"))
      .join(acts, Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("degree"), lit(-1L)).as("degree"),
        coalesce(col("c_acctbal"), lit(0.0)).as("acctbal"),
        coalesce(col("c_mktsegment"), lit("Unknown")).as("segment"),
        coalesce(
          datediff(lit(java.sql.Date.valueOf("2002-06-01")), col("latest")).cast("long"),
          lit(999L)).as("recency_days"))
      .orderBy("c_custkey")
  }

  // R2: candidate-set cap — the reference bounds scoring work at
  // 2000/1500 candidates per query via a seeded sample
  // (took_recommandations_softmaxsampling_discount.py:187-189;
  // took_recommandations_adamsampling_discount.py:225-227). Hash-ordered
  // limit, not rand(): deterministic under any partitioning, so the cap
  // is AQE/retry-safe and replayable by the oracle.
  private def r2CandidateCap(spark: SparkSession, dir: String): DataFrame =
    graft.recommend.Recommend.validProducts(Tables.part(spark, dir))
      .select(col("p_partkey").as("product"))
      .orderBy(ColFns.pseudoUniform(col("product"), 47L).asc, col("product").asc)
      .limit(1500)
      .orderBy("product")

  // The plain-SQL surface (graft.core.Views): the same engine driven
  // entirely through spark.sql over registered views — here a 3-way
  // revenue rollup and the 2-hop graph traversal as SQL text. The SQL is
  // ANSI enough that the oracle runs it nearly verbatim.
  private def sqlRevenueByNation(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT n_name AS nation,
        |       CAST(floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |         CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue,
        |       count(*) AS n_lines
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nation""".stripMargin)
  }

  private def sqlGraph2Hop(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    // SHUFFLE_HASH(p): the auto plan broadcasts the type-filtered edge
    // leg (~600k rows at sf0.1, growing linearly with SF) — a broadcast
    // build that large is slower here (measured 1.8x) and impossible at
    // cluster scale (8 GB relation cap). Build the per-partition hash
    // from the smaller PURCHASED side instead (guide §3.1). Hint only —
    // same rows, and the oracle SQL carries no hint.
    spark.sql(
      """SELECT /*+ SHUFFLE_HASH(p) */
        |       p.src AS customer, c.dst AS product, count(*) AS n_paths
        |FROM graph_edges p JOIN graph_edges c ON p.dst = c.src
        |WHERE p.type = 'PURCHASED' AND c.type = 'CONTAINS'
        |GROUP BY p.src, c.dst ORDER BY customer, product""".stripMargin)
  }

  // The custom Catalyst expressions (ArrayDotProduct codegen,
  // CharShingles) driven through plain SQL text — the §2.13 surface as a
  // user of the SQL entry point sees it.
  private def sqlExtensionFns(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT e.vec_id, round(graft_dot(e.embedding, e.embedding), 6) AS norm2,
        |       size(graft_shingles(d.text, 5)) AS n_shingles
        |FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
        |ORDER BY e.vec_id""".stripMargin)
  }

  // S10: schema evolution — a dvid-partitioned store whose later
  // injection added a column; mergeSchema reconciles, earlier rows read
  // NULL for the new column (the append-only injection store's survival
  // rule: producers may add columns, never retype them).
  private def s10SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = Artifacts.freshScratchDir(spark, "s10_evolving", dir)
    val o = Tables.orders(spark, dir)
    o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$path/dvid=1")
    o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_orderpriority").as("priority"))
      .write.mode("overwrite").parquet(s"$path/dvid=2")
    spark.read.option("mergeSchema", "true").parquet(path)
      .groupBy(col("dvid"), coalesce(col("priority"), lit("NONE")).as("priority"))
      .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
      .orderBy("dvid", "priority")
  }

  // Classic decision-support shapes on the SQL surface (TPC-H Q3/Q18
  // analogues): a 3-way join + grouped revenue top-N, and a
  // having-filtered semi-join — the plans every warehouse query planner
  // must get right (pushdown into all scans, broadcast dims, partial
  // aggs, top-N sort limit).
  private def sqlShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT l_orderkey, CAST(floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |         CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue,
        |       o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin)
  }

  private def sqlLargeOrders(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice, sum(l_quantity) AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin)
  }

  // TPC-H Q5 analogue: the 6-table local-supplier-volume join — the
  // join-ordering/broadcast-planning stress case of the SQL surface
  // (region/nation broadcast; customer⋈orders⋈lineitem⋈supplier hash
  // joins with the date filter pushed to the orders scan).
  private def sqlLocalSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT n_name AS nation,
        |       CAST(floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |         CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue,
        |       count(*) AS n_lines
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, nation""".stripMargin)
  }

  // TPC-H Q7 analogue: volume shipping between two nations by ship
  // year — the dual-role dimension test (nation joins BOTH supplier and
  // customer under an OR'd pair predicate; both sides must broadcast).
  private def sqlVolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT supp_nation, cust_nation, l_year, CAST(floor((CAST(sum(volume) AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         year(l_shipdate) AS l_year,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           CAST(round((1.0 - l_discount) * 100) AS BIGINT) AS volume
        |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
        |      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |) shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)
  }

  // TPC-H Q10 analogue: returned-item revenue per customer, one
  // quarter — the top-N-over-bigjoin shape (pushdown of BOTH the date
  // and returnflag predicates into the scans, broadcast dims, partial
  // aggs, rounded-revenue ordering with an id tie-break).
  private def sqlReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT c_custkey, c_name, CAST(floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |         CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue,
        |       c_acctbal, n_name AS nation
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin)
  }

  // TPC-H Q6 analogue: the forecast-revenue-change scan — a pure
  // filter + single aggregate whose entire cost must sit in the scan
  // (every predicate pushed, no join, no shuffle beyond the 1-row agg).
  private def sqlForecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT CAST(floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |         CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) + 50.0)
        |    / 100.0) AS DOUBLE) / 100.0 AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)
  }

  // TPC-H Q14 analogue: promotion-revenue share by ship month — the
  // conditional-aggregate-over-join shape; both sums ride the exact
  // integer-cents representation so the share divides two identical
  // BIGINTs in either engine.
  private def sqlPromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT l_year, l_month,
        |  round(CAST(promo_cents AS DOUBLE) * 100.0 / total_cents, 6) AS promo_pct,
        |  CAST(floor((CAST(total_cents AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue
        |FROM (
        |  SELECT year(l_shipdate) AS l_year, month(l_shipdate) AS l_month,
        |    sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS promo_cents,
        |    sum(cents) AS total_cents
        |  FROM (
        |    SELECT l_shipdate, p_type,
        |      CAST(round(l_extendedprice * 100) AS BIGINT) *
        |        CAST(round((1.0 - l_discount) * 100) AS BIGINT) AS cents
        |    FROM lineitem JOIN part ON p_partkey = l_partkey
        |    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00') pl
        |  GROUP BY 1, 2) m
        |ORDER BY l_year, l_month""".stripMargin)
  }

  // TPC-H Q12 analogue (adapted to this generator's columns: no
  // l_shipmode/l_commitdate, so l_linestatus plays the mode class and
  // "shipped after the order date" plays the late-receipt test): the
  // conditional-count-over-join shape — one wide join whose aggregate
  // is two CASE sums, with the date range pushed into the lineitem
  // scan and orders broadcast-joined after its own pushdown.
  private def sqlPriorityShipping(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT l_linestatus,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS high_line_count,
        |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin)
  }

  // TPC-H Q19 analogue: discounted revenue under an OR-of-ANDs
  // predicate spanning both join sides — the disjunctive-pushdown
  // stress case. The part-only conjuncts (brand, size) are pushable
  // into the part scan as `p_size <= 35 AND p_brand IN (...)` common
  // factors; the mixed (brand × quantity) disjunction must evaluate
  // post-join without turning the join into a cartesian.
  private def sqlDisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT CAST(floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |         CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#18' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)
  }

  // TPC-H Q4 analogue: order-priority checking — the EXISTS-semi-join
  // shape (orders that shipped at least one line after the order date,
  // counted by priority). Catalyst must plan the subquery as a
  // LeftSemi hash join, never a per-row subquery or a cartesian, with
  // the quarter predicate pushed into the orders scan.
  private def sqlOrderPriority(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  // TPC-H Q2 analogue (this generator has no partsupp, so lineitem
  // plays the supply catalog): for every small part, the supplier(s)
  // selling it at the minimum unit cost — the CORRELATED-MIN subquery
  // shape. Catalyst must de-correlate the scalar subquery into an
  // aggregate + equi-join on partkey (never a per-row re-scan), push
  // p_size into the part scan, and broadcast the part/supplier dims.
  // Unit cost is exact integer math (cents × 1000 div quantity) so the
  // min-equality join key is bit-identical across engines.
  private def sqlMinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    // r15 restructure of the r14 SQL text (same rows, oracle-checked).
    // Two wins over letting Catalyst decorrelate the scalar subquery:
    //  1. The correlated min is PER PARTKEY and the entry only reads
    //     partkeys with p_size <= 5, so the part filter is a broadcast
    //     semi-join pruning lineitem BEFORE the supply aggregation
    //     (guide §3.2: shrink the big side before it shuffles) — the
    //     subquery form aggregated ALL of lineitem first.
    //  2. The supply table fed both the result rows and the per-part
    //     min; Catalyst inlines the CTE into two full lineitem
    //     aggregations. Materializing the (now part-pruned,
    //     partsupp-cardinality) table runs the heavy scan once.
    val smallPart = spark.table("part").filter(col("p_size") <= 5)
      .select(col("p_partkey"), col("p_name"))
    val supply = spark.table("lineitem")
      .join(broadcast(smallPart.select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_semi")
      .groupBy(col("l_partkey").as("partkey"), col("l_suppkey").as("suppkey"))
      .agg(min(expr("CAST(round(l_extendedprice * 100) AS BIGINT) * 1000" +
        " DIV CAST(l_quantity AS BIGINT)")).as("unit_millicents"))
      .localCheckpoint(true)
    val best = supply.groupBy("partkey")
      .agg(min("unit_millicents").as("mn"))
      .withColumnRenamed("partkey", "best_partkey")
    supply
      .join(broadcast(best),
        col("partkey") === col("best_partkey") &&
          col("unit_millicents") === col("mn"))
      .join(broadcast(smallPart), col("p_partkey") === supply("partkey"))
      .join(spark.table("supplier"), col("s_suppkey") === col("suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"),
        col("s_acctbal"), col("unit_millicents"))
      .orderBy(desc("s_acctbal"), asc("p_partkey"), asc("s_name"))
  }

  // TPC-H Q21 analogue (no commit/receipt dates: "late" = shipped more
  // than 60 days after the order date): suppliers who were the ONLY
  // late supplier on a finished multi-supplier order — the
  // EXISTS + NOT-EXISTS double-correlation shape. Catalyst must plan
  // the pair as one LeftSemi and one LeftAnti hash join on l_orderkey,
  // never a nested-loop re-scan per row.
  private def sqlWaitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin)
  }

  // --- round-9 TPC-H breadth: five more classic shapes, written once
  // in the ANSI subset both engines parse identically (integer-cents
  // revenue, exact integer threshold comparisons), so the Spark entry
  // and the DuckDB oracle run the SAME text. Shapes under test:
  // q8 8-table snowflake + conditional share; q13 outer-join-with-
  // join-predicate + double aggregate; q15 view + scalar-max equality;
  // q17 correlated per-group average; q22 anti-join + scalar threshold.

  // Q8 analogue: NATION_1's share of ASIA-customer STANDARD-part
  // revenue by order year — the 8-table snowflake with nation joined
  // TWICE (customer side and supplier side). The two sums ride one
  // aggregate; share divides two BIGINTs built from identical cents.
  private val q8Sql =
    """SELECT o_year,
      |  round(CAST(sum(CASE WHEN nation = 'NATION_1' THEN cents ELSE 0 END) AS DOUBLE) /
      |        sum(cents), 6) AS mkt_share
      |FROM (
      |  SELECT year(o_orderdate) AS o_year, n2.n_name AS nation,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) *
      |      CAST(round((1.0 - l_discount) * 100) AS BIGINT) AS cents
      |  FROM lineitem
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON c_nationkey = n1.n_nationkey
      |  JOIN region ON n1.n_regionkey = r_regionkey
      |  JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
      |    AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') mkt
      |GROUP BY o_year
      |ORDER BY o_year""".stripMargin

  // Q13 analogue: customer order-count distribution INCLUDING
  // zero-order customers — the left-outer-join-with-extra-join-
  // predicate trap (a WHERE would silently drop the NULL row and the
  // zero bucket with it) followed by a second aggregate.
  private val q13Sql =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT OUTER JOIN orders
      |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      |  GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  // Q15 analogue: top supplier(s) by quarterly revenue — the
  // view-plus-scalar-max shape; equality on exact integer cents keeps
  // the tie set engine-independent.
  private val q15Sql =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
      |        CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_cents
      |FROM supplier JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_cents = (SELECT max(total_cents) FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  // Q17 analogue: revenue lost to small-quantity orders of one brand —
  // the correlated per-group AVERAGE subquery (de-correlates to an
  // aggregate + partkey join). Quantities are integral doubles, so the
  // per-part average is bit-identical across engines and the 0.2×
  // threshold never straddles.
  private val q17Sql =
    """SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
      |    / 100.0 / 7.0, 6) AS avg_yearly
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand = 'Brand#12'
      |  AND l_quantity < 0.2 * (
      |    SELECT avg(l2.l_quantity) FROM lineitem l2
      |    WHERE l2.l_partkey = p_partkey)""".stripMargin

  // Q22 analogue: well-funded customers gone DORMANT (no orders in the
  // final two data years — this generator gives nearly every customer
  // some lifetime order, so the literal never-ordered form is empty),
  // by nation — anti-join plus a scalar average threshold made EXACT by
  // integer cross-multiplication (cents × n > sum_cents avoids
  // comparing against a float average whose last bit is
  // summation-order-bound).
  private val q22Sql =
    """WITH pos AS (
      |  SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS sum_cents,
      |         count(*) AS n
      |  FROM customer WHERE c_acctbal > 0.0)
      |SELECT n_name AS nation, count(*) AS numcust,
      |  round(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2)
      |    AS totacctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |CROSS JOIN pos
      |WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n > sum_cents
      |  AND NOT EXISTS (
      |    SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |GROUP BY n_name
      |ORDER BY n_name""".stripMargin

  // --- round-9 completion: the last four classic TPC-H shapes
  // (q9/q11/q16/q20), again in the shared ANSI subset so one text runs
  // on both engines. This generator has no partsupp table, so the
  // supply-cost/stock columns are derived from lineitem itself — the
  // SHAPES under test (agg-then-rejoin, scalar-threshold HAVING,
  // NOT-IN + count(DISTINCT), nested semi-join over a conditional
  // aggregate) are the point, not the economics.

  // Q9 analogue (product-type profit): per-(part,supplier) supply cost
  // proxied by the cheapest observed line price (95% of min cents, an
  // exact integer) — the aggregate-then-rejoin plan Catalyst must pick
  // instead of a correlated re-scan — then a 6-table snowflake with a
  // LIKE filter pushed into the part scan, grouped by supplier nation
  // and order year. All-integer profit keeps the hash engine-stable.
  private val q9Sql =
    """WITH supply AS (
      |  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
      |    min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS min_cents
      |  FROM lineitem GROUP BY 1, 2)
      |SELECT nation, o_year, CAST(sum(rev_c4 - cost_c4) AS BIGINT) AS profit_c4
      |FROM (
      |  SELECT n_name AS nation, year(o_orderdate) AS o_year,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) *
      |      CAST(round((1.0 - l_discount) * 100) AS BIGINT) AS rev_c4,
      |    95 * sp.min_cents AS cost_c4
      |  FROM lineitem
      |  JOIN supply sp ON sp.partkey = l_partkey AND sp.suppkey = l_suppkey
      |  JOIN part ON p_partkey = l_partkey
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE p_name LIKE '%red%') profit
      |GROUP BY nation, o_year
      |ORDER BY nation, o_year DESC""".stripMargin

  // Q11 analogue (important stock): per-part inventory value held by
  // one nation's suppliers, kept only when it exceeds 1/1000 of the
  // nation's total — the scalar-subquery-over-the-same-CTE threshold.
  // The fraction compare is exact integer cross-multiplication
  // (value*1000 > total), never a float threshold.
  private val q11Sql =
    """WITH stock AS (
      |  SELECT l_partkey AS partkey,
      |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
      |        CAST(l_quantity AS BIGINT)) AS BIGINT) AS value_units
      |  FROM lineitem
      |  JOIN supplier ON s_suppkey = l_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  WHERE n_name = 'NATION_3'
      |  GROUP BY l_partkey)
      |SELECT partkey, value_units
      |FROM stock
      |WHERE value_units * 1000 > (SELECT sum(value_units) FROM stock)
      |ORDER BY value_units DESC, partkey""".stripMargin

  // Q16 analogue (parts/supplier relationship): distinct suppliers per
  // (brand, type, size) excluding one brand, two types, and the
  // "complaint" suppliers (negative account balance stands in for the
  // comment LIKE — this generator has no s_comment). Shape under test:
  // null-aware NOT-IN → broadcast anti join + count(DISTINCT) over a
  // 3-column group.
  private val q16Sql =
    """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem
      |JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#5'
      |  AND p_type NOT IN ('PROMO', 'LARGE')
      |  AND l_suppkey NOT IN (
      |    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  // Q20 analogue (potential part promotion): suppliers who shipped
  // more than half of their lifetime volume of some SMALL part inside
  // 1996 — availqty>½·sold re-expressed as a conditional sum vs total
  // sum over the same group, feeding a semi-join back to supplier.
  // Quantities are integral doubles, so the ×2 compare is exact. The
  // qty_all >= 60 volume floor keeps the predicate selective (without
  // it every singleton supplier-part pair passes trivially: measured
  // 100/100 suppliers at sf0.01; with it, 49/100 and 89/1000 at sf0.1).
  private val q20Sql =
    """SELECT s_name, s_acctbal
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT y.l_suppkey
      |  FROM (
      |    SELECT l_suppkey, l_partkey,
      |      sum(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |               AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |               THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS qty_1996,
      |      sum(CAST(l_quantity AS BIGINT)) AS qty_all
      |    FROM lineitem
      |    JOIN part ON p_partkey = l_partkey
      |    WHERE p_type = 'SMALL'
      |    GROUP BY l_suppkey, l_partkey) y
      |  WHERE y.qty_all >= 60 AND y.qty_1996 * 2 > y.qty_all)
      |ORDER BY s_name""".stripMargin

  private def sharedSql(sql: String)(spark: SparkSession, dir: String): DataFrame = {
    graft.core.Views.register(spark, dir)
    spark.sql(sql)
  }

  private val pu7 = ColFns.pseudoUniformSql("ck * 131 + pk", 7L)
  private val pu47 = ColFns.pseudoUniformSql("product", 47L)

  /** The relational MERGE truth, shared by the batch entry (s16) and
    * the streaming one (e19_stream_cdc_merge): one textual source so
    * the stream/batch parity contract can never drift. */
  private[graft] val mergeOracleSql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_totalprice,
      |    strftime(o_orderdate, '%Y-%m') AS o_month FROM orders),
      |changed AS (
      |  SELECT * FROM base WHERE o_month IN ('1996-03', '1996-04')),
      |merged AS (
      |  SELECT o_orderkey, o_totalprice, o_month FROM base
      |  WHERE o_month NOT IN ('1996-03', '1996-04')
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice, o_month FROM changed
      |  WHERE o_orderkey % 101 <> 0 AND o_orderkey % 37 <> 0
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice + 5.0, o_month FROM changed
      |  WHERE o_orderkey % 37 = 0 AND o_orderkey % 101 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM base),
      |    o_totalprice, o_month FROM changed WHERE o_orderkey % 97 = 0)
      |SELECT o_month, count(*) AS n_orders,
      |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
      |FROM merged GROUP BY o_month ORDER BY o_month""".stripMargin

  val entries: Seq[CatalogEntry] = Seq(
    CatalogEntry("sql_q2_min_cost_supplier", sqlMinCostSupplier,
      "TPC-H Q2: minimum-cost supplier",
      Some("""WITH supply AS (
        |  SELECT l_partkey AS partkey, l_suppkey AS suppkey,
        |    min(CAST(round(l_extendedprice * 100) AS BIGINT) * 1000
        |        // CAST(l_quantity AS BIGINT)) AS unit_millicents
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT p_partkey, p_name, s_name, s_acctbal, sp.unit_millicents
        |FROM part
        |JOIN supply sp ON p_partkey = sp.partkey
        |JOIN supplier ON s_suppkey = sp.suppkey
        |WHERE p_size <= 5
        |  AND sp.unit_millicents = (
        |    SELECT min(unit_millicents) FROM supply s2
        |    WHERE s2.partkey = sp.partkey)
        |ORDER BY s_acctbal DESC, p_partkey, s_name""".stripMargin)),
    CatalogEntry("sql_q21_waiting_supplier", sqlWaitingSupplier,
      "TPC-H Q21: suppliers who kept orders waiting",
      Some("""SELECT s_name, count(*) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin)),
    // the round-9 breadth queries run the SAME text on both engines
    CatalogEntry("sql_q8_market_share", sharedSql(q8Sql),
      "TPC-H Q8: national market share",
      Some(q8Sql)),
    CatalogEntry("sql_q13_order_distribution", sharedSql(q13Sql),
      "TPC-H Q13: customer order-count distribution",
      Some(q13Sql)),
    CatalogEntry("sql_q15_top_supplier", sharedSql(q15Sql),
      "TPC-H Q15: top supplier by revenue",
      Some(q15Sql)),
    CatalogEntry("sql_q17_small_quantity", sharedSql(q17Sql),
      "TPC-H Q17: small-quantity-order revenue",
      Some(q17Sql)),
    CatalogEntry("sql_q22_dormant_customers", sharedSql(q22Sql),
      "TPC-H Q22: dormant-customer accounts",
      Some(q22Sql)),
    CatalogEntry("sql_q9_product_profit", sharedSql(q9Sql),
      "TPC-H Q9: product-type profit",
      Some(q9Sql)),
    CatalogEntry("sql_q11_important_stock", sharedSql(q11Sql),
      "TPC-H Q11: important stock identification",
      Some(q11Sql)),
    CatalogEntry("sql_q16_supplier_relation", sharedSql(q16Sql),
      "TPC-H Q16: parts/supplier relationship counts",
      Some(q16Sql)),
    CatalogEntry("sql_q20_part_promotion", sharedSql(q20Sql),
      "TPC-H Q20: potential part promotion",
      Some(q20Sql)),
    CatalogEntry("sql_q4_order_priority", sqlOrderPriority,
      "TPC-H Q4: order priority counts",
      Some("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    CatalogEntry("sql_q12_priority_shipping", sqlPriorityShipping,
      "TPC-H Q12: shipping modes vs priority",
      Some("""SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate > o_orderdate
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin)),
    CatalogEntry("sql_q19_disjunctive_revenue", sqlDisjunctiveRevenue,
      "TPC-H Q19: disjunctive-predicate revenue",
      Some("""SELECT CAST(floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |         CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#18' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),
    CatalogEntry("sql_q7_volume_shipping", sqlVolumeShipping,
      "TPC-H Q7: volume shipping between nations",
      Some("""SELECT supp_nation, cust_nation, l_year, CAST(floor((CAST(sum(volume) AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |         year(l_shipdate) AS l_year,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) *
        |           CAST(round((1.0 - l_discount) * 100) AS BIGINT) AS volume
        |  FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
        |      OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
        |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |) shipping
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),
    CatalogEntry("sql_q10_returned_items", sqlReturnedItems,
      "TPC-H Q10: returned-item reporting",
      Some("""SELECT c_custkey, c_name, CAST(floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |         CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue,
        |       c_acctbal, n_name AS nation
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin)),
    CatalogEntry("sql_q6_forecast_revenue", sqlForecastRevenue,
      "TPC-H Q6: forecast revenue change",
      Some("""SELECT CAST(floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |         CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE) + 50.0)
        |    / 100.0) AS DOUBLE) / 100.0 AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)),
    CatalogEntry("sql_q14_promo_revenue", sqlPromoRevenue,
      "TPC-H Q14: promotion revenue share",
      Some("""SELECT l_year, l_month,
        |  round(CAST(promo_cents AS DOUBLE) * 100.0 / total_cents, 6) AS promo_pct,
        |  CAST(floor((CAST(total_cents AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue
        |FROM (
        |  SELECT year(l_shipdate) AS l_year, month(l_shipdate) AS l_month,
        |    sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) AS promo_cents,
        |    sum(cents) AS total_cents
        |  FROM (
        |    SELECT l_shipdate, p_type,
        |      CAST(round(l_extendedprice * 100) AS BIGINT) *
        |        CAST(round((1.0 - l_discount) * 100) AS BIGINT) AS cents
        |    FROM lineitem JOIN part ON p_partkey = l_partkey
        |    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00') pl
        |  GROUP BY 1, 2) m
        |ORDER BY l_year, l_month""".stripMargin)),
    CatalogEntry("sql_extension_fns", sqlExtensionFns,
      "engine SQL functions registered via injected FunctionRegistry",
      Some {
        val dot = graft.sim.Similarity.dotSql("embedding", "embedding", 64)
        s"""SELECT e.vec_id, round($dot, 6) AS norm2,
           |  CAST(len(list_distinct(list_transform(
           |    generate_series(1, greatest(len(d.text) - 4, 1)),
           |    i -> substr(d.text, i, 5)))) AS INTEGER) AS n_shingles
           |FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
           |ORDER BY e.vec_id""".stripMargin
      }),
    CatalogEntry("sql_q5_local_supplier", sqlLocalSupplierVolume,
      "TPC-H Q5: local supplier volume",
      Some("""SELECT n_name AS nation,
        |       CAST(floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |         CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue,
        |       count(*) AS n_lines
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, nation""".stripMargin)),
    // l_quantity is integer-valued in this generator, so the HAVING
    // threshold and the un-rounded qty sums are exact in any order
    CatalogEntry("sql_q3_shipping_priority", sqlShippingPriority,
      "TPC-H Q3: shipping priority",
      Some("""SELECT l_orderkey, CAST(floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |         CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue,
        |       o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin)),
    CatalogEntry("s10_schema_evolution", s10SchemaEvolution,
      "mergeSchema read across writer generations that added a column",
      Some("""WITH ev AS (
        |  SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS priority, 1 AS dvid
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderpriority, 2
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT dvid, coalesce(priority, 'NONE') AS priority, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS total
        |FROM ev GROUP BY dvid, coalesce(priority, 'NONE') ORDER BY dvid, priority""".stripMargin)),
    CatalogEntry("sql_q18_large_orders", sqlLargeOrders,
      "TPC-H Q18: large-volume customers",
      Some("""SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice, sum(l_quantity) AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20""".stripMargin)),
    CatalogEntry("s1_csv_scan_normalize", s1CsvScan,
      "CSV scan: messy headers normalized to snake_case, cast to a declared schema (ref First_Data_injection.py:33)",
      Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    CatalogEntry("s3_catalog_scan", s3CatalogScan,
      "product-catalog ingest: header normalize, dropna, sku/design_no renames (ref First_Data_injection.py:84)",
      Some("""SELECT p_partkey AS sku, p_name AS design_no, p_brand AS brand,
        |       p_size AS size, p_type AS category
        |FROM part
        |WHERE p_partkey IS NOT NULL AND p_name IS NOT NULL AND p_brand IS NOT NULL
        |  AND p_size IS NOT NULL AND p_type IS NOT NULL
        |ORDER BY sku""".stripMargin)),
    CatalogEntry("s6_graph_checkpoint", s6GraphCheckpoint,
      "graph checkpoint: node+edge tables saved and restored as a version",
      Some(s"""WITH ${graft.graph.GraphSql.nodesCte},
         |${graft.graph.GraphSql.edgesCte},
         |h AS (
         |  SELECT 'node' AS kind, label AS name, dvid, count(*) AS cnt
         |  FROM nodes GROUP BY label, dvid
         |  UNION ALL
         |  SELECT 'edge', type, dvid, count(*) FROM edges GROUP BY type, dvid)
         |SELECT kind, name, CAST(dvid AS INTEGER) AS dvid, cnt
         |FROM h ORDER BY kind, name, dvid""".stripMargin)),
    CatalogEntry("j9_feature_injection", j9FeatureInjection,
      "per-fold feature injection join (ref update_features_after_every_fold.py)",
      Some("""WITH acts AS (
        |  SELECT o_custkey AS c_custkey, count(*) AS degree, max(o_orderdate) AS latest
        |  FROM orders GROUP BY o_custkey)
        |SELECT c.c_custkey,
        |       coalesce(a.degree, -1) AS degree,
        |       coalesce(c.c_acctbal, 0.0) AS acctbal,
        |       coalesce(c.c_mktsegment, 'Unknown') AS segment,
        |       coalesce(date_diff('day', CAST(a.latest AS DATE), DATE '2002-06-01'), 999) AS recency_days
        |FROM customer c LEFT JOIN acts a USING (c_custkey)
        |ORDER BY c_custkey""".stripMargin)),
    CatalogEntry("r2_candidate_cap", r2CandidateCap,
      "per-group candidate cap",
      Some(s"""WITH valid AS (
         |  SELECT p_partkey AS product FROM part
         |  WHERE p_size > 0 AND p_retailprice > 0 AND p_brand IS NOT NULL
         |    AND p_brand NOT IN ('N/A','Unknown','')),
         |cap AS (SELECT product FROM valid ORDER BY $pu47, product LIMIT 1500)
         |SELECT product FROM cap ORDER BY product""".stripMargin)),
    CatalogEntry("sql_revenue_rollup", sqlRevenueByNation,
      "revenue rollup in SQL",
      Some("""SELECT n_name AS nation,
        |       CAST(floor((CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |         CAST(round((1.0 - l_discount) * 100) AS BIGINT)) AS DOUBLE) + 50.0) / 100.0) AS DOUBLE) / 100.0 AS revenue,
        |       count(*) AS n_lines
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY nation""".stripMargin)),
    CatalogEntry("sql_graph_2hop", sqlGraph2Hop,
      "two-hop graph traversal in pure SQL",
      Some(s"""WITH ${graft.graph.GraphSql.edgesCte}
         |SELECT p.src AS customer, c.dst AS product, count(*) AS n_paths
         |FROM edges p JOIN edges c ON p.dst = c.src
         |WHERE p.type = 'PURCHASED' AND c.type = 'CONTAINS'
         |GROUP BY p.src, c.dst ORDER BY customer, product""".stripMargin)),
    CatalogEntry("p5_edge_time_filter", p5EdgeTimeFilter,
      "edge-table time-window filter",
      Some(s"""WITH ${graft.graph.GraphSql.edgesCte}
         |SELECT type, count(*) AS cnt FROM edges
         |WHERE ts <= TIMESTAMP '1997-06-30 00:00:00'
         |GROUP BY type ORDER BY type""".stripMargin)),
    CatalogEntry("p8_label_predicate", p8LabelPredicate,
      "label-valued predicate filter",
      Some(s"""WITH ${graft.graph.GraphSql.nodesCte}
         |SELECT id FROM nodes WHERE label = 'Customer' ORDER BY id""".stripMargin)),
    CatalogEntry("p9_dvid_predicate", p9DvidPredicate,
      "data-version (dvid) predicate scan of a versioned store",
      Some(s"""WITH ${graft.graph.GraphSql.edgesCte}
         |SELECT type, count(*) AS cnt FROM edges
         |WHERE dvid = 3 GROUP BY type ORDER BY type""".stripMargin)),
    CatalogEntry("s2_csv_badrow_filter", s2CsvBadRows,
      "CSV ingest with NOT-IN bad-row filter and value lowercasing (ref First_Data_injection.py:55)",
      Some("""SELECT p_partkey, p_name, p_brand, lower(p_type) AS type_norm, p_size, p_retailprice
        |FROM part WHERE p_brand NOT IN ('Brand#1','Brand#2') ORDER BY p_partkey""".stripMargin)),
    CatalogEntry("s4_parquet_sink_roundtrip", s4ParquetRoundtrip,
      "parquet sink/source roundtrip preserves rows and schema exactly",
      Some("""SELECT o_orderstatus, round(sum(o_totalprice), 2) AS total_price, count(*) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),
    // the ORC roundtrip must hand back exactly the relational aggregate
    CatalogEntry("s11_orc_roundtrip", s11OrcRoundtrip,
      "ORC sink/source roundtrip with aggregate parity",
      Some("""SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_price,
        |  count(*) AS n_lines
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    // the layout probe's answer is layout-independent: the oracle runs
    // the same predicate + aggregate over the RAW lineitem table
    CatalogEntry("s12_sorted_layout_pruning", s12SortedLayout,
      "sorted file layout: min/max row-group stats prune a static predicate's scan",
      Some("""SELECT l_returnflag, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem
        |WHERE year(l_shipdate) = 1997 AND l_orderkey BETWEEN 1000 AND 3000
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    // compaction is invisible to readers: the oracle is the RAW table
    CatalogEntry("s13_small_file_compaction", s13Compaction,
      "zero-shuffle coalesce compaction of micro-batch file debris, reader-invisible",
      Some("""SELECT event_type, count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // the good channel must aggregate to exactly the raw table; the 7
    // staged malformed lines all land in the corrupt bucket
    CatalogEntry("s14_corrupt_records", s14CorruptRecords,
      "PERMISSIVE corrupt-record channel; full-row conversion so no bad line leaks",
      Some("""SELECT k, n, key_sum, size_sum FROM (
        |  SELECT p_brand AS k, count(*) AS n,
        |    CAST(sum(p_partkey) AS BIGINT) AS key_sum,
        |    CAST(sum(p_size) AS BIGINT) AS size_sum
        |  FROM part GROUP BY p_brand
        |  UNION ALL SELECT '__corrupt__', CAST(7 AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT))
        |ORDER BY k""".stripMargin)),
    // z-order is invisible to the answer: the oracle runs the same
    // two-predicate probe + aggregate over the RAW lineitem table
    CatalogEntry("s15_zorder_layout", s15ZorderLayout,
      "Morton/z-order layout quantized from observed min/max for multi-column skipping",
      Some("""SELECT l_returnflag, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem
        |WHERE l_orderkey BETWEEN 100 AND 400 AND l_suppkey BETWEEN 1 AND 3
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    // the logical merge reconstructed relationally over the raw table:
    // hash match proves the partition-scoped copy-on-write rewrite
    // equals MERGE INTO semantics (delete wins over update on overlap)
    CatalogEntry("s16_cdc_merge", s16CdcMerge,
      "batch CDC MERGE (U/D/I) via copy-on-write dynamic partition overwrite",
      Some(mergeOracleSql)),
    // the dim rule restated statically over the raw table: pruning must
    // be invisible to the answer
    CatalogEntry("s17_dynamic_pruning", s17DynamicPruning,
      "runtime dynamic partition pruning driven by a broadcast calendar-dim filter",
      Some("""SELECT l_returnflag, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem
        |WHERE year(l_shipdate) >= 1996
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    // the retained window recomputed from the raw table: dvid = id%4+1,
    // retention keeps dvids 3 and 4
    CatalogEntry("s18_retention_vacuum", s18RetentionVacuum,
      "TTL retention vacuum: expired dvid partitions dropped dir-by-dir",
      Some("""SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events
        |WHERE event_id % 4 IN (2, 3)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // v2's reconciliation recomputed from the raw table (cutoff
    // 1997-01-01); the match flags are literal TRUE in a consistent
    // read — a torn cross-version read would flip them
    CatalogEntry("s19_atomic_publish", s19AtomicPublish,
      "atomic multi-table publish behind one version pointer; consistency readout",
      Some("""WITH snap AS (
        |  SELECT c_nationkey, c_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'),
        |by_nation AS (
        |  SELECT c_nationkey, count(*) AS n_orders,
        |    CAST(sum(cents) AS BIGINT) AS cents
        |  FROM snap GROUP BY c_nationkey)
        |SELECT c_nationkey, n_orders, cents,
        |  TRUE AS n_match, TRUE AS cents_match
        |FROM by_nation ORDER BY c_nationkey""".stripMargin)),
    // same retained window as s18 — manifest-fronting is commit-protocol
    // physics only, the answer must be identical
    CatalogEntry("s20_manifest_vacuum", s20ManifestVacuum,
      "manifest-fronted vacuum: commit-then-reclaim, every crash point reader-invisible",
      Some("""SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events
        |WHERE event_id % 4 IN (2, 3)
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),
    // the two snapshot windows recomputed over raw orders and diffed —
    // a snapshot that "moved" after commit would break either side
    CatalogEntry("s21_time_travel", s21TimeTravel,
      "AS-OF reads of two committed snapshots plus their relational diff",
      Some("""WITH j AS (
        |  SELECT c_nationkey, o_orderdate,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |v1 AS (
        |  SELECT c_nationkey, count(*) AS n1, CAST(sum(cents) AS BIGINT) AS c1
        |  FROM j WHERE o_orderdate < TIMESTAMP '1996-01-01' GROUP BY 1),
        |v2 AS (
        |  SELECT c_nationkey, count(*) AS n2, CAST(sum(cents) AS BIGINT) AS c2
        |  FROM j WHERE o_orderdate < TIMESTAMP '1997-01-01' GROUP BY 1)
        |SELECT c_nationkey,
        |  coalesce(n1, 0) AS n_v1, coalesce(n2, 0) AS n_v2,
        |  coalesce(n2, 0) - coalesce(n1, 0) AS orders_added,
        |  coalesce(c2, 0) - coalesce(c1, 0) AS cents_added
        |FROM v2 FULL OUTER JOIN v1 USING (c_nationkey)
        |ORDER BY c_nationkey""".stripMargin)),
    // ONE relational delete truth, emitted once per phase: the
    // tombstone-view ('mor') and rewritten-table ('materialized')
    // readouts must both equal it — a reader can't tell the phase
    CatalogEntry("s22_merge_on_read", s22MergeOnRead,
      "merge-on-read deletion vectors: O(keys) tombstones anti-joined by readers, then materialized",
      Some("""WITH base AS (
        |  SELECT o_orderkey, o_totalprice,
        |    strftime(o_orderdate, '%Y-%m') AS o_month FROM orders
        |  WHERE strftime(o_orderdate, '%Y') = '1996'),
        |kept AS (
        |  SELECT * FROM base
        |  WHERE NOT (o_month IN ('1996-05', '1996-06') AND o_orderkey % 7 = 0)),
        |r AS (
        |  SELECT o_month, count(*) AS n_orders,
        |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
        |    CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |  FROM kept GROUP BY o_month)
        |SELECT o_month, n_orders, price_cents, key_sum, 'mor' AS phase FROM r
        |UNION ALL
        |SELECT o_month, n_orders, price_cents, key_sum, 'materialized' FROM r
        |ORDER BY phase, o_month""".stripMargin)),
    // the roundtrip must reproduce the dvid-1 subgraph's label counts
    CatalogEntry("s5_graphml_roundtrip", s5GraphmlRoundtrip,
      "GraphML sink + source roundtrip of the property graph",
      Some(s"""WITH ${graft.graph.GraphSql.nodesCte},
         |${graft.graph.GraphSql.edgesCte},
         |h AS (
         |  SELECT 'node' AS kind, label AS name, count(*) AS cnt
         |  FROM nodes WHERE dvid = 1 GROUP BY label
         |  UNION ALL
         |  SELECT 'edge', type, count(*) FROM edges WHERE dvid = 1 GROUP BY type)
         |SELECT kind, name, cnt FROM h ORDER BY kind, name""".stripMargin)),
    CatalogEntry("p1_dropna_any", p1DropNa,
      "dropna(any): drop rows with any null",
      Some("""SELECT * FROM orders
        |WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL AND o_orderstatus IS NOT NULL
        |  AND o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL AND o_orderpriority IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin)),
    CatalogEntry("p2_dropna_subset", p2DropNaSubset,
      "dropna restricted to a column subset",
      Some("""SELECT event_id, user_id, event_type FROM events
        |WHERE ts IS NOT NULL AND user_id IS NOT NULL ORDER BY event_id""".stripMargin)),
    CatalogEntry("p3_notin_filter", p3NotIn,
      "NOT-IN predicate filter",
      Some("""SELECT event_id, lower(event_type) AS event_type FROM events
        |WHERE lower(event_type) NOT IN ('error','signup') ORDER BY event_id""".stripMargin)),
    CatalogEntry("p4_temporal_cutoff", p4TemporalCutoff,
      "timestamp-cutoff predicate",
      Some("""SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1997-06-30 00:00:00'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    CatalogEntry("p7_valid_products", p7ValidProducts,
      "keep edges whose product exists in the catalog",
      Some("""SELECT p_partkey, p_brand, p_size, p_retailprice FROM part
        |WHERE p_size > 0 AND p_retailprice > 0 AND p_brand IS NOT NULL
        |  AND p_brand NOT IN ('N/A','Unknown','')
        |ORDER BY p_partkey""".stripMargin)),
    CatalogEntry("p10_projection_rename", p10Projection,
      "projection with column renames",
      Some("""SELECT l_orderkey AS order_id, l_linenumber AS line_no,
        |       l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS revenue,
        |       lower(l_returnflag) AS flag
        |FROM lineitem ORDER BY order_id, line_no""".stripMargin)),
    CatalogEntry("j1_full_outer_enrich", j1FullOuterEnrich,
      "full-outer join enrichment with coalesced sides",
      Some("""WITH usage AS (
        |  SELECT l_partkey AS p_partkey, count(*) AS n_lines, round(sum(l_quantity),2) AS total_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p.p_partkey,
        |       coalesce(p.p_brand, 'UNKNOWN') AS brand,
        |       coalesce(u.n_lines, 0) AS n_lines,
        |       coalesce(u.total_qty, 0.0) AS total_qty
        |FROM (SELECT p_partkey, p_brand, p_retailprice FROM part) p
        |FULL OUTER JOIN usage u USING (p_partkey)
        |ORDER BY p_partkey""".stripMargin)),
    CatalogEntry("j2_versioned_upsert", j2Upsert,
      "last-writer-wins upsert via max-dvid window dedup",
      Some("""WITH inj AS (
        |  SELECT o_orderkey AS id, o_orderstatus AS status, o_totalprice AS price, 1 AS dvid
        |  FROM orders WHERE o_orderkey % 5 IN (0,1)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice * 1.1, 2
        |  FROM orders WHERE o_orderkey % 5 IN (1,2))
        |SELECT id, max_by(status, dvid) AS status, max_by(price, dvid) AS price, max(dvid) AS dvid
        |FROM inj GROUP BY id ORDER BY id""".stripMargin)),
    CatalogEntry("j3_two_hop_links", j3TwoHop,
      "customer-product-customer two-hop link join (ref knowledge_graph_creation.py)",
      Some("""SELECT DISTINCT concat('cust_', o_custkey) AS customer, concat('part_', l_partkey) AS product
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |ORDER BY customer, product""".stripMargin)),
    CatalogEntry("j4_negative_sampling", j4NegativeSampling,
      "anti-join negative sampling at ~1:1 class ratio (ref xgboost_model_training.py:124)",
      Some(s"""WITH pos AS (
         |  SELECT DISTINCT o_custkey AS ck, l_partkey AS pk
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |cand AS (
         |  SELECT c.ck, p.pk
         |  FROM (SELECT c_custkey AS ck FROM customer WHERE c_custkey % 10 = 0) c
         |  CROSS JOIN (SELECT p_partkey AS pk FROM part WHERE p_partkey % 25 = 0) p
         |  WHERE $pu7 < 0.2)
         |SELECT concat('cust_', ck) AS customer, concat('part_', pk) AS product
         |FROM cand
         |WHERE NOT EXISTS (SELECT 1 FROM pos WHERE pos.ck = cand.ck AND pos.pk = cand.pk)
         |ORDER BY customer, product""".stripMargin)),
    CatalogEntry("j5_feature_lookup_join", j5FeatureLookup,
      "two-hop distinct pairs + broadcast feature-lookup joins on both sides",
      Some("""WITH pairs AS (
        |  SELECT DISTINCT o_custkey AS customer, l_partkey AS product
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE o_custkey % 20 = 1)
        |SELECT pr.customer, pr.product, c.c_acctbal AS acctbal, c.c_mktsegment AS segment,
        |       p.p_retailprice AS price, p.p_brand AS brand
        |FROM pairs pr
        |JOIN customer c ON c.c_custkey = pr.customer
        |JOIN part p ON p.p_partkey = pr.product
        |ORDER BY pr.customer, pr.product""".stripMargin)),
    CatalogEntry("j6_purchased_exclusion", j6PurchasedExclusion,
      "anti-join exclusion of already-purchased products",
      Some("""WITH cust AS (SELECT c_custkey AS customer FROM customer WHERE c_custkey % 100 = 1),
        |valid AS (SELECT p_partkey AS product FROM part
        |          WHERE p_size > 0 AND p_retailprice > 0 AND p_brand IS NOT NULL
        |            AND p_brand NOT IN ('N/A','Unknown','')),
        |purchased AS (SELECT DISTINCT o_custkey AS customer, l_partkey AS product
        |              FROM orders JOIN lineitem ON o_orderkey = l_orderkey)
        |SELECT c.customer, v.product FROM cust c CROSS JOIN valid v
        |WHERE NOT EXISTS (SELECT 1 FROM purchased p
        |                  WHERE p.customer = c.customer AND p.product = v.product)
        |ORDER BY customer, product""".stripMargin)),
    CatalogEntry("j8_community_join", j8CommunityJoin,
      "join node communities onto the edge table",
      Some("""SELECT c_custkey, n_name AS nation, r_name AS region
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |ORDER BY c_custkey""".stripMargin)),
    CatalogEntry("u1_union_missing_columns", u1UnionMissing,
      "union with missing-column alignment (unionByName allowMissing)",
      Some("""SELECT o_orderkey AS id, o_totalprice AS amount, o_orderstatus AS status,
        |       CAST(NULL AS VARCHAR) AS priority
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, NULL, o_orderpriority
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY id""".stripMargin)),
    CatalogEntry("u2_set_difference", u2SetDifference,
      "set difference (EXCEPT)",
      Some("""SELECT c_custkey FROM customer
        |EXCEPT SELECT user_id FROM events
        |ORDER BY c_custkey""".stripMargin)),
    CatalogEntry("u3_distinct_dedup", u3Distinct,
      "distinct row dedup",
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    CatalogEntry("u4_intersect", u4Intersect,
      "set intersection",
      Some("""SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin)),
    CatalogEntry("u5_except_all", u5ExceptAll,
      "bag-semantics EXCEPT ALL",
      Some("""WITH d AS (
        |  SELECT user_id FROM events WHERE event_type = 'click'
        |  EXCEPT ALL
        |  SELECT user_id FROM events WHERE event_type = 'purchase')
        |SELECT user_id, count(*) AS excess_clicks
        |FROM d GROUP BY user_id ORDER BY user_id""".stripMargin)),
    CatalogEntry("p11_null_safe_eq", p11NullSafeEq,
      "null-safe equality (<=>) predicate",
      Some("""WITH e AS (SELECT event_id, user_id FROM events),
        |j AS (
        |  SELECT a.user_id AS ua
        |  FROM e a JOIN e b ON a.event_id = b.event_id - 1
        |  WHERE a.user_id IS NOT DISTINCT FROM b.user_id)
        |SELECT coalesce(CAST(ua AS VARCHAR), 'NULL') AS user,
        |       count(*) AS n_consecutive
        |FROM j GROUP BY coalesce(CAST(ua AS VARCHAR), 'NULL')
        |ORDER BY "user"""".stripMargin)),
    CatalogEntry("w5_limit_head", w5Limit,
      "deterministic limit/head",
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 3""".stripMargin)))
}
