package graft

import org.apache.spark.sql.functions._

/** The explicit 100 TB scale mechanics: skew salting and bucketed
  * co-location, each asserted for result-equivalence and (for
  * bucketing) shuffle elimination. */
class ScaleMechanicsSpec extends SparkSpec {
  import spark.implicits._

  test("checkpointKeepingPartitioning: rows identical, layout kept, window exchange-free") {
    import org.apache.spark.sql.GraftColumnBridge
    val df = spark.range(500).toDF("id")
      .withColumn("k", pmod($"id", lit(7)))
      .repartition(4, $"k")
    val ck = GraftColumnBridge.checkpointKeepingPartitioning(df)
    // contents are exactly the input's
    assert(ck.count() === 500)
    assert(ck.exceptAll(df).count() === 0 && df.exceptAll(ck).count() === 0)
    // the checkpoint reports the hash layout the build established
    val part = ck.queryExecution.executedPlan.outputPartitioning.toString
    assert(part.toLowerCase.contains("hashpartitioning(k"),
      s"layout lost through the checkpoint: $part")
    // a k-clustered window over it plans with no exchange and ranks
    // correctly (every k gets a dense 1..n run — the property a falsely
    // stamped layout would corrupt)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("id")
    val ranked = ck.withColumn("rn", row_number().over(w)).cache()
    try {
      val plan = {
        ranked.collect()
        ranked.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      }
      assert(!plan.contains("Exchange"), s"window re-shuffled:\n$plan")
      val badRuns = ranked.groupBy("k")
        .agg(count(lit(1)).as("n"), max("rn").as("mx"),
          countDistinct("rn").as("d"))
        .filter($"mx" =!= $"n" || $"d" =!= $"n").count()
      assert(badRuns === 0, "window ranks fragmented across partitions")
    } finally { ranked.unpersist(); () }
  }

  test("S12: the sorted partitioned layout prunes directories and skips row groups") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // build the layout + probe plan via the catalog entry itself
    val entry = graft.catalog.Relational.queries("s12_sorted_layout_pruning")(spark, sfDir)
    val scan = entry.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }.head
    // the year predicate must prune DIRECTORIES (partition filter, zero
    // I/O for other years), the key range must reach the parquet reader
    assert(scan.metadata.getOrElse("PartitionFilters", "").contains("ship_year"),
      s"year not a partition filter: ${scan.metadata}")
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("GreaterThanOrEqual(l_orderkey") &&
      pushed.contains("LessThanOrEqual(l_orderkey"),
      s"key range not pushed to the reader: $pushed")

    // row-group skipping MEASURED: the same probe against the sorted
    // layout vs an unsorted single-directory copy of the same rows.
    // With disjoint per-file orderkey spans + small row groups, the
    // reader's min/max stats skip everything outside the range, so the
    // scan SURFACES far fewer rows (post-skip, pre-residual-filter
    // rows ≈ matching groups only). AQE off so the executed scan node
    // is directly observable; metrics read after execution.
    val ns = spark.newSession()
    ns.conf.set("spark.sql.adaptive.enabled", "false")
    val layout = graft.core.Artifacts.scratchDir(spark, "s12_lineitem_layout", sfDir)
    val flat = graft.core.Artifacts.freshScratchDir(spark, "s12_lineitem_flat", sfDir)
    graft.core.Tables.lineitem(ns, sfDir)
      .withColumn("ship_year", year(col("l_shipdate")))
      // coalesce(1): one file, interleaved orderkeys — every row group's
      // min/max straddles the probe range, so nothing can be skipped
      .coalesce(1)
      .write.mode("overwrite").option("parquet.block.size", 131072).parquet(flat)
    def scannedRows(path: String): (Long, Long) = {
      val df = ns.read.parquet(path)
        .filter(col("ship_year") === 1997 && col("l_orderkey").between(1000, 3000))
      val n = df.collect().length.toLong // execute THIS plan so its metrics fill
      val s = df.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }.head
      (s.metrics("numOutputRows").value, n)
    }
    val (sortedScanned, nSorted) = scannedRows(layout)
    val (flatScanned, nFlat) = scannedRows(flat)
    assert(nSorted === nFlat, "layout changed the answer")
    assert(sortedScanned < flatScanned / 2,
      s"sorted layout skipped nothing: sorted=$sortedScanned flat=$flatScanned")
  }

  test("E15: partial-aggregate merge ≡ from-scratch aggregate, state metadata-sized") {
    val merged = graft.catalog.ScaleOps.queries("e15_incremental_agg_merge")(spark, sfDir)
    val direct = graft.core.Tables.events(spark, sfDir)
      .withColumn("cents", round(col("value") * 100).cast("long"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"),
        min("cents").as("min_cents"), max("cents").as("max_cents"))
      .orderBy("event_type")
    assert(merged.exceptAll(direct).count() === 0 &&
      direct.exceptAll(merged).count() === 0,
      "incremental merge diverged from the full recompute")
    // the refresh state is |groups|·|batches| rows — never corpus-sized
    val base = graft.core.Artifacts.scratchDir(spark, "e15", sfDir)
    val state = spark.read.parquet(s"$base/agg_state")
    val groups = direct.count()
    assert(state.count() === groups * 3,
      s"state table not metadata-sized: ${state.count()} rows for $groups groups")
  }

  test("S15: z-order skips on BOTH predicates where a single-key sort can't") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // build the z-layout + probe plan via the catalog entry itself
    val entry = graft.catalog.Relational.queries("s15_zorder_layout")(spark, sfDir)
    entry.collect()
    val scan = entry.queryExecution.sparkPlan
      .collect { case s: FileSourceScanExec => s }.head
    // both range predicates must reach the parquet reader — z-order
    // needs NO query rewrite, the pushed raw-column filters do the work
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    for (c <- Seq("l_orderkey", "l_suppkey"))
      assert(pushed.contains(s"GreaterThanOrEqual($c") &&
        pushed.contains(s"LessThanOrEqual($c"),
        s"$c range not pushed to the reader: $pushed")

    // measured: the SAME two-predicate probe against the z-layout vs an
    // s12-style single-key (orderkey) sort of the same rows. The
    // single-key sort skips on orderkey but every surviving row group
    // straddles all suppkeys; z-cells are tight boxes in BOTH, so the
    // scan surfaces strictly fewer rows. AQE off for observable scans.
    val ns = spark.newSession()
    ns.conf.set("spark.sql.adaptive.enabled", "false")
    val zPath = graft.core.Artifacts.scratchDir(spark, "s15_lineitem_zorder", sfDir)
    val oPath = graft.core.Artifacts.freshScratchDir(spark, "s15_lineitem_okeysort", sfDir)
    graft.core.Tables.lineitem(ns, sfDir)
      .repartitionByRange(64, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").option("parquet.block.size", 131072).parquet(oPath)
    def scannedRows(path: String): (Long, Long) = {
      val df = ns.read.parquet(path)
        .filter(col("l_orderkey").between(100, 400) &&
          col("l_suppkey").between(1, 3))
      val n = df.collect().length.toLong
      val s = df.queryExecution.executedPlan
        .collect { case s: FileSourceScanExec => s }.head
      (s.metrics("numOutputRows").value, n)
    }
    val (zScanned, nZ) = scannedRows(zPath)
    val (oScanned, nO) = scannedRows(oPath)
    assert(nZ === nO, "layout changed the answer")
    assert(zScanned < oScanned,
      s"z-order skipped nothing beyond the single-key sort: z=$zScanned okey=$oScanned")
  }

  test("S15: zNorm quantizes a SHIFTED key domain across the full z range") {
    // surrogate ids / epoch millis don't start at 0: a max-only
    // normalize collapses a [10⁹, 10⁹+5000] domain into the topmost
    // z sliver. Range-normalizing from both bounds must spread it.
    val lo = 1000000000L
    val hi = lo + 4999L
    val df = spark.range(lo, hi + 1).toDF("k")
      .select(graft.catalog.Relational.zNorm(col("k"), lo, hi)
        .cast("long").as("q"))
    val r = df.agg(min("q"), max("q"), countDistinct("q")).head()
    assert(r.getLong(0) === 0L, s"shifted domain doesn't start at cell 0: $r")
    assert(r.getLong(1) >= 65000L && r.getLong(1) < 65536L,
      s"shifted domain doesn't reach the top cells: $r")
    assert(r.getLong(2) >= 4000L, s"quantization lost discrimination: $r")
  }

  test("S16: CDC merge rewrites only the touched partitions, semantics exact") {
    val audit = graft.catalog.Relational.queries("s16_cdc_merge")(spark, sfDir)
    audit.collect()
    val base = graft.core.Artifacts.scratchDir(spark, "s16_orders_cow", sfDir)
    val dirs = new java.io.File(base).listFiles().filter(_.isDirectory)
      .map(d => d.getName -> d).toMap
    val affected = Seq("o_month=1996-03", "o_month=1996-04")
    assert(affected.forall(dirs.contains), s"affected dirs missing: ${dirs.keys}")
    // copy-on-write footprint: the merge job wrote ONLY the two touched
    // month dirs — every untouched dir's files predate every touched
    // dir's (base write happens strictly before the merge write)
    def newestFile(d: java.io.File) = d.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(_.lastModified()).max
    val touchedMin = affected.map(a => newestFile(dirs(a))).min
    val untouchedMax = dirs.filterNot { case (n, _) => affected.contains(n) }
      .values.map(newestFile).max
    assert(untouchedMax < touchedMin,
      "merge rewrote files outside the affected partitions")
    // the merge's READ side is directory-pruned: the month predicate is
    // a PartitionFilter on the snapshot scan, so at 100 TB the change
    // batch reads |affected partitions|, never the table
    val merged = spark.read.parquet(base)
      .filter(col("o_month").isin("1996-03", "1996-04"))
    val mScan = merged.queryExecution.sparkPlan
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.head
    assert(mScan.metadata.getOrElse("PartitionFilters", "").contains("o_month"),
      s"month predicate not a partition filter: ${mScan.metadata}")
    val raw = graft.core.Tables.orders(spark, sfDir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .filter(col("o_month").isin("1996-03", "1996-04"))
      .select("o_orderkey", "o_totalprice", "o_month")
    val maxKey = graft.core.Tables.orders(spark, sfDir)
      .agg(max("o_orderkey")).head().getLong(0)
    assert(merged.filter(pmod(col("o_orderkey"), lit(101)) === 0 &&
      col("o_orderkey") <= maxKey).count() === 0, "a deleted key survived")
    val expectUpd = raw.filter(pmod(col("o_orderkey"), lit(37)) === 0 &&
      pmod(col("o_orderkey"), lit(101)) =!= 0).count()
    val gotUpd = merged.as("m").join(raw.as("r"), "o_orderkey")
      .filter(col("m.o_totalprice") === col("r.o_totalprice") + 5.0).count()
    assert(gotUpd === expectUpd, s"updates applied $gotUpd of $expectUpd")
    val expectIns = raw.filter(pmod(col("o_orderkey"), lit(97)) === 0).count()
    assert(merged.filter(col("o_orderkey") > maxKey).count() === expectIns,
      "insert count wrong")
  }

  test("E17: replay leaves the idempotent store unchanged; append would double") {
    val audit = graft.catalog.ScaleOps.queries("e17_idempotent_replay")(spark, sfDir)
    audit.collect()
    val base = graft.core.Artifacts.scratchDir(spark, "e17", sfDir)
    val store = spark.read.parquet(s"$base/store")
    val ev = graft.core.Tables.events(spark, sfDir)
    // exactly-once despite the redelivery: full coverage, zero dupes
    assert(store.count() === ev.count(), "store row count drifted under replay")
    assert(store.select("event_id").distinct().count() === store.count(),
      "replay duplicated event ids")
    // the contrast that makes this non-vacuous: the APPEND-mode sink
    // under the same redelivery doubles the batch
    val ctl = graft.core.Artifacts.freshScratchDir(spark, "e17_spec_ctl", sfDir)
    val src1 = s"$base/src1"
    graft.streaming.EventStream.incrementalIngest(spark, src1, ctl, startDvid = 2)
    graft.streaming.EventStream.incrementalIngest(spark, src1, ctl, startDvid = 2)
    val half = ev.filter(pmod(col("event_id"), lit(2)) === 1).count()
    assert(spark.read.parquet(ctl).count() === 2 * half,
      "append-mode control did not exhibit the duplication the sink prevents")
  }

  test("S17: the join's dim filter prunes fact partitions at RUNTIME") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val entry = graft.catalog.Relational.queries("s17_dynamic_pruning")(spark, sfDir)
    entry.collect() // builds the layout + runs the gate query
    // observe the probe on a non-AQE session (executable scan node with
    // readable metrics; DPP is independent of AQE)
    val ns = spark.newSession()
    ns.conf.set("spark.sql.adaptive.enabled", "false")
    val (s17Fact, s17Dim) = (
      graft.core.Artifacts.scratchDir(spark, "s17_lineitem_by_year", sfDir),
      graft.core.Artifacts.scratchDir(spark, "s17_calendar_dim", sfDir))
    val probe = ns.read.parquet(s17Fact)
      .join(broadcast(ns.read.parquet(s17Dim)
        .filter(col("era") === "late")), Seq("ship_year"))
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    probe.collect()
    // the fact scan must carry a DPP subquery filter — there is no
    // static predicate on ship_year anywhere in the query
    val scans = probe.queryExecution.executedPlan
      .collect { case s: FileSourceScanExec => s }
    val fact = scans.find(_.metadata.getOrElse("Location", "")
      .contains("s17_lineitem_by_year")).get
    val pf = fact.metadata.getOrElse("PartitionFilters", "")
    assert(pf.toLowerCase.contains("dynamicpruning"),
      s"fact scan not dynamically pruned: $pf")
    // and the pruning is REAL: the scan read a strict subset of the
    // year partitions (the dim admits years >= 1996 of 1992–1998)
    val totalYears = spark.read.parquet(s17Fact)
      .select("ship_year").distinct().count()
    val readParts = fact.metrics.get("numPartitions").map(_.value)
      .getOrElse(fail("scan exposes no numPartitions metric"))
    assert(readParts < totalYears,
      s"no partitions pruned: read $readParts of $totalYears")
    assert(readParts > 0, "scan read nothing — pruning over-fired")
  }

  test("S22: merge-on-read — tombstone view equals materialized table, deletes applied exactly, tombstones retired") {
    val out = graft.catalog.Relational.queries("s22_merge_on_read")(spark, sfDir)
      .collect()
    val byPhase = out.groupBy(_.getAs[String]("phase"))
      .map { case (p, rows) => p ->
        rows.map(r => (r.getAs[String]("o_month"), r.getAs[Long]("n_orders"),
          r.getAs[Long]("price_cents"), r.getAs[Long]("key_sum"))).toSet }
    assert(byPhase.keySet === Set("mor", "materialized"))
    assert(byPhase("mor") === byPhase("materialized"),
      "a reader could tell the phases apart — the MOR contract is broken")
    // the store holds exactly the non-deleted rows, and the tombstone
    // dir was retired by the materialization
    val base = graft.core.Artifacts.scratchDir(spark, "s22_mor", sfDir)
    val store = spark.read.parquet(s"$base/store")
    val deletedPred = col("o_month").isin("1996-05", "1996-06") &&
      pmod(col("o_orderkey"), lit(7)) === 0
    assert(store.filter(deletedPred).count() === 0, "a deleted key survived")
    val raw = graft.core.Tables.orders(spark, sfDir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .filter(col("o_month").startsWith("1996-")) // the store's year window
    val nDeleted = raw.filter(deletedPred).count()
    assert(nDeleted > 0, "delete batch was empty — the test is vacuous")
    assert(store.count() === raw.count() - nDeleted,
      "materialization dropped or kept the wrong rows")
    assert(!new java.io.File(s"$base/tombstones").exists(),
      "tombstones not retired after materialization")
  }

  test("E18: the restarted query reads only the files that arrived while it was down") {
    val audit = graft.catalog.ScaleOps.queries("e18_checkpoint_resume")(spark, sfDir)
    audit.collect()
    val store = spark.read.parquet(
      s"${graft.core.Artifacts.scratchDir(spark, "e18", sfDir)}/store")
    val ev = graft.core.Tables.events(spark, sfDir)
    // source-side exactly-once: full coverage, zero reprocessing
    assert(store.count() === ev.count(), "resume reprocessed or lost files")
    assert(store.select("event_id").distinct().count() === store.count(),
      "resume duplicated event ids")
    // lineage: drain 1's rows live in dvid 1, drain 2's (the files that
    // arrived during downtime) in dvid 2 — batchId continued from the
    // checkpoint instead of restarting at 0
    val byDvid = store.groupBy("dvid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val even = ev.filter(pmod(col("event_id"), lit(2)) === 0).count()
    assert(byDvid === Map(1 -> even, 2 -> (ev.count() - even)),
      s"drain lineage wrong: $byDvid")
  }



  test("s23: the scheduler folds the purge and leaves the trickle merge-on-read") {
    val out = SparkEntry.queries("s23_mor_fold_scheduler")(spark, sfDir).collect()
    val branches = out.map(r =>
      r.getAs[String]("scenario") -> r.getAs[String]("branch")).toSet
    assert(branches === Set("purge" -> "fold", "trickle" -> "serve"),
      s"wrong decisions: $branches")
    val base = graft.core.Artifacts.scratchDir(spark, "s23", sfDir)
    // the physical contract the hash gate can't see: the trickle's
    // tombstones are still on disk (no rewrite was scheduled) and its
    // store still physically holds the deleted keys; the purge's
    // tombstones retired and its store physically dropped them
    assert(new java.io.File(s"$base/trickle_tombstones").exists(),
      "trickle tombstones were retired — the serve branch rewrote")
    assert(!new java.io.File(s"$base/purge_tombstones").exists(),
      "purge tombstones survived — the fold branch did not run")
    val trickleStore = spark.read.parquet(s"$base/trickle_store")
    assert(trickleStore.filter(col("o_month").isin("1996-05", "1996-06") &&
        pmod(col("o_orderkey"), lit(7)) === 0).count() > 0,
      "trickle store was rewritten — the serve branch must not touch data files")
    val purgeStore = spark.read.parquet(s"$base/purge_store")
    assert(purgeStore.filter(pmod(col("o_orderkey"), lit(3)) === 0).count() === 0,
      "purged keys survived the fold")
  }

  test("morFold: a partition whose every row is deleted is removed, not left stale") {
    import spark.implicits._
    // dynamic partition overwrite only replaces partitions present in
    // the written frame — this pins the explicit-delete branch that
    // keeps a fully-deleted month from surviving the fold
    val store = java.nio.file.Files.createTempDirectory("morfold_toy")
      .toString + "/store"
    Seq((1L, 10.0, "m1"), (2L, 20.0, "m1"), (3L, 30.0, "m2"), (4L, 40.0, "m2"),
        (5L, 50.0, "m3"))
      .toDF("o_orderkey", "o_totalprice", "o_month")
      .write.partitionBy("o_month").parquet(store)
    // tombstones empty m1 entirely, thin m2, never touch m3
    val tombs = Seq(1L, 2L, 3L).toDF("o_orderkey")
    graft.catalog.ScaleOps.morFold(spark, store, Seq("m1", "m2"), tombs)
    assert(!new java.io.File(s"$store/o_month=m1").exists(),
      "fully-deleted partition survived the fold (dynamic overwrite can't drop it)")
    val left = spark.read.parquet(store)
      .select("o_orderkey", "o_month").as[(Long, String)].collect().toSet
    assert(left === Set((4L, "m2"), (5L, "m3")),
      s"fold left the wrong survivors: $left")
  }

  test("A26: the constraint audit reports every rule, and the failing channel fires") {
    val audit = graft.catalog.Analytics.queries("a26_constraint_audit")(spark, sfDir)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(audit.size === 6, s"rules missing: ${audit.keys}")
    // structurally-clean rules hold on the generated data...
    for (rule <- Seq("orders_pk_unique", "lineitem_fk_orders", "lineitem_fk_part",
      "part_size_range", "events_user_not_null"))
      assert(audit(rule)._2 === 0L, s"$rule unexpectedly violated: ${audit(rule)}")
    // ...and the business rule genuinely fails — the violation channel
    // is exercised, not just compiled
    assert(audit("customer_acctbal_nonneg")._2 > 0L,
      "acctbal rule found no violations — the failing channel is untested")
    assert(audit.values.forall { case (checked, v) => checked > 0 && v <= checked })
  }

  test("S18: vacuum reclaims exactly the expired versions, invisibly to the window") {
    val audit = graft.catalog.Relational.queries("s18_retention_vacuum")(spark, sfDir)
    assert(audit.count() > 0, "vacuum self-gate emptied the output")
    val store = graft.core.Artifacts.scratchDir(spark, "s18_events_versioned", sfDir)
    // the expired partition dirs are GONE, the retained ones intact
    for (d <- Seq(1, 2))
      assert(!new java.io.File(s"$store/dvid=$d").exists(), s"dvid=$d survived vacuum")
    for (d <- Seq(3, 4))
      assert(new java.io.File(s"$store/dvid=$d").exists(), s"dvid=$d reclaimed wrongly")
    // space actually reclaimed: the store now holds exactly the window's rows
    val ev = graft.core.Tables.events(spark, sfDir)
    assert(spark.read.parquet(store).count() ===
      ev.filter(pmod(col("event_id"), lit(4)) >= 2).count(),
      "post-vacuum store row count is not the retained window")
  }

  test("S19: pointer reads are never torn; a mixed-version read provably breaks") {
    val audit = graft.catalog.Relational.queries("s19_atomic_publish")(spark, sfDir)
    val rows = audit.collect()
    assert(rows.nonEmpty && rows.forall(r => r.getBoolean(3) && r.getBoolean(4)),
      "pointer read failed its own cross-table reconciliation")
    val root = graft.core.Artifacts.scratchDir(spark, "s19_published", sfDir)
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/_CURRENT")).trim === "v=2",
      "publish did not flip the pointer")
    assert(new java.io.File(s"$root/v=1").exists(),
      "time travel lost: the previous version was reclaimed by publish")
    // the counter-factual that makes the gate non-vacuous: pairing v1's
    // customer rollup with v2's nation rollup breaks the reconciliation
    val torn = spark.read.parquet(s"$root/v=1/by_customer")
      .groupBy("c_nationkey").agg(sum("n_orders").as("nc"))
      .join(spark.read.parquet(s"$root/v=2/by_nation"), Seq("c_nationkey"))
      .filter(col("nc") =!= col("n_orders")).count()
    assert(torn > 0, "a torn cross-version read did not break — check is vacuous")
    // the crash claim: a publish that dies AFTER writing its version
    // dirs but BEFORE the pointer flip is invisible — readers still
    // resolve v2 and their reconciliation still holds
    val v3 = s"$root/v=3"
    spark.read.parquet(s"$root/v=2/by_customer").limit(1)
      .write.mode("overwrite").parquet(s"$v3/by_customer") // garbage half-publish
    val resolved = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/_CURRENT")).trim
    assert(resolved === "v=2", "an unflipped pointer moved — crash isolation broken")
    // readers stay debris-blind (the entry memo-hits the standing store)
    val reread = graft.catalog.Relational.queries("s19_atomic_publish")(spark, sfDir)
    assert(reread.count() > 0, "reader over crash debris failed")
    // and a RE-PUBLISH self-heals over debris — exercised directly on a
    // spec-owned root (the shared store's memo deliberately skips it)
    val specRoot = graft.core.Artifacts.freshScratchDir(spark, "s19_spec_republish", sfDir)
    spark.read.parquet(s"$root/v=2/by_customer").limit(1)
      .write.parquet(s"$specRoot/v=9/by_customer") // pre-seeded debris
    graft.catalog.Relational.publishVersions(spark, sfDir, specRoot,
      Seq(1 -> "1996-01-01"))
    assert(!new java.io.File(s"$specRoot/v=9").exists(),
      "publish did not clear crash debris")
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$specRoot/_CURRENT")).trim === "v=1")
  }

  test("S21: committed snapshots stay addressable and internally consistent") {
    val out = graft.catalog.Relational.queries("s21_time_travel")(spark, sfDir)
    // the window is monotone: v2 extends v1, nothing can shrink
    assert(out.count() > 0 && out.filter($"orders_added" < 0).count() === 0)
    val root = graft.core.Artifacts.scratchDir(spark, "s19_published", sfDir)
    // the pointer moved on to v2…
    assert(java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$root/_CURRENT")).trim === "v=2")
    // …but v1 remains addressable AND self-consistent: its own
    // cross-table reconciliation (the s19 invariant) still holds —
    // immutable history, not a view over moving data
    val v1c = spark.read.parquet(s"$root/v=1/by_customer")
      .groupBy("c_nationkey")
      .agg(sum($"n_orders").as("n"), sum($"cents").as("c"))
    val v1n = spark.read.parquet(s"$root/v=1/by_nation")
    val broken = v1c.join(v1n, Seq("c_nationkey"))
      .filter($"n" =!= $"n_orders" || $"c" =!= $"cents").count()
    assert(broken === 0, "v1's cross-table reconciliation broke after the v2 commit")
  }

  test("S20: manifest-fronted vacuum — readers never see a half-vacuumed store") {
    import graft.catalog.Relational.{s20CommitManifest, s20ReadViaManifest}
    // the entry itself: gate non-empty and the hash-window shape
    val out = graft.catalog.Relational.queries("s20_manifest_vacuum")(spark, sfDir)
    assert(out.count() > 0, "s20 self-gate emptied the output")

    // crash-scenario construction on a spec-owned store
    val root = graft.core.Artifacts.freshScratchDir(spark, "s20_spec_store", sfDir)
    spark.range(100).toDF("event_id")
      .withColumn("dvid", (pmod($"event_id", lit(2)) + 1).cast("int"))
      .write.partitionBy("dvid").parquet(s"$root/data")
    s20CommitManifest(root, 1, Seq(1, 2))
    assert(s20ReadViaManifest(spark, root).count() === 100)

    // CRASH BETWEEN STEPS: the post-TTL manifest commits, the process
    // dies before deleting dvid=1. New readers see ONLY the retained
    // window even though the expired dir still exists on disk…
    s20CommitManifest(root, 2, Seq(2))
    assert(new java.io.File(s"$root/data/dvid=1").exists(), "setup broken")
    assert(s20ReadViaManifest(spark, root).count() === 50,
      "reader saw an unreferenced (expired) dir — it listed instead of resolving")
    // …while an in-flight reader that resolved the OLD manifest before
    // the flip still reads its full version (the grace-period contract)
    val oldRead = spark.read.option("basePath", s"$root/data")
      .parquet(s"$root/data/dvid=1", s"$root/data/dvid=2")
    assert(oldRead.count() === 100)

    // resumed vacuum finishes the physical delete: reader unchanged
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$root/data/dvid=1"))
    assert(s20ReadViaManifest(spark, root).count() === 50)

    // CRASHED COMMIT: a new manifest file lands but the process dies
    // before the pointer flip — readers stay on the committed version
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$root/manifests/m3.txt"), "")
    assert(s20ReadViaManifest(spark, root).count() === 50,
      "an un-flipped manifest changed what readers see")

    // debris dirs (a crashed ingest's orphan) are invisible too
    spark.range(7).toDF("event_id").withColumn("dvid", lit(9))
      .write.partitionBy("dvid").parquet(s"$root/data_tmp")
    org.apache.commons.io.FileUtils.moveDirectory(
      new java.io.File(s"$root/data_tmp/dvid=9"),
      new java.io.File(s"$root/data/dvid=9"))
    assert(s20ReadViaManifest(spark, root).count() === 50,
      "reader saw un-manifested debris")
  }

  test("S13: compaction collapses the file tail without touching a row") {
    import graft.sources.Compactor
    // run the entry: stages 48-file debris, compacts, aggregates
    graft.catalog.Relational.queries("s13_small_file_compaction")(spark, sfDir).collect()
    val staged = graft.core.Artifacts.scratchDir(spark, "s13_events_debris", sfDir)
    val compacted = graft.core.Artifacts.scratchDir(spark, "s13_events_compacted", sfDir)
    assert(Compactor.dataFiles(spark, staged) === 48, "debris staging changed")
    val nOut = Compactor.dataFiles(spark, compacted)
    assert(nOut <= 6, s"tail not collapsed: $nOut files")
    // same rows, both directions — compaction is purely physical
    val a = spark.read.parquet(staged)
    val b = spark.read.parquet(compacted)
    assert(a.exceptAll(b).count() === 0 && b.exceptAll(a).count() === 0,
      "compaction changed row content")
  }

  test("AQE splits a skewed sort-merge join at runtime (the un-salted path)") {
    // j10 pins MANUAL salting; this pins the runtime alternative the
    // same plans get for free on a cluster: AQE detects the oversized
    // post-shuffle partition and splits it across tasks. Thresholds
    // scaled down to local data sizes (the ratios, not the absolutes,
    // are what a 100 TB job tunes).
    val ns = spark.newSession()
    ns.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ns.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    ns.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
    ns.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
    ns.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    import ns.implicits._
    // 90% of facts on ONE key → one shuffle partition carries ~the
    // table. The payload must SURVIVE into the aggregate, or column
    // pruning leaves only the (highly compressible) key in the shuffle
    // and the partition never crosses the byte threshold
    val fact = ns.range(200000).toDF("i")
      .withColumn("k", when(pmod($"i", lit(10)) < 9, 0L).otherwise(pmod($"i", lit(50))))
      .withColumn("payload", sha2(concat(lit("x"), $"i"), 256))
    val dim = ns.range(50).toDF("k").withColumn("name", concat(lit("d"), $"k"))
    // the consumer must not REQUIRE the join's hash distribution (a
    // groupBy on the join key would: AQE then refuses to split rather
    // than break the downstream requirement — itself a property worth
    // knowing). A global aggregate is distribution-agnostic.
    val joined = fact.join(dim, Seq("k"))
      .agg(count(lit(1)).as("n"), sum(length($"payload")).as("bytes"))
    val row = joined.collect().head
    // correctness first: the split must not change the answer
    assert(row.getLong(0) === 200000L)
    assert(row.getLong(1) === 200000L * 64)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skewed"),
      s"AQE did not split the skewed partition:\n$plan")
  }

  test("salted join equals the plain join") {
    import graft.functions.Skew
    // heavy skew: 90% of facts share one key
    val fact = spark.range(2000).toDF("i")
      .withColumn("k", when($"i" % 10 < 9, 1L).otherwise($"i" % 50))
      .withColumn("x", $"i" * 2)
    val dim = spark.range(50).toDF("k").withColumn("name", concat(lit("d"), $"k"))
    val plain = fact.join(dim, Seq("k")).select("k", "i", "x", "name")
    val salted = Skew.saltedJoin(fact, dim, Seq("k"), salts = 8)
      .select("k", "i", "x", "name")
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
  }

  test("as-of join (j11) matches the naive per-row inequality join") {
    val q = graft.catalog.ScaleOps.queries("j11_asof_join")(spark, sfDir)
    val ev = graft.core.Tables.events(spark, sfDir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts".as("cts"), $"event_id".as("cid"))
    val purch = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", $"ts".as("pts"))
    // naive: join every purchase to ALL prior clicks, keep the max
    // (ts, event_id) one — the O(n·m) formulation the operator avoids
    val naive = purch.join(clicks, Seq("user_id"), "left")
      .filter($"cts".isNull || $"cts" <= $"pts")
      .groupBy("purchase_id")
      .agg(max_by($"cid", struct($"cts", $"cid")).as("expect_click"))
    val joined = q.join(naive, Seq("purchase_id"))
    assert(joined.filter(
      coalesce($"expect_click", lit(-1L)) =!= $"last_click_id").count() === 0)
  }

  test("range join (j12) bucket fan-out matches the naive band join") {
    val q = graft.catalog.ScaleOps.queries("j12_range_join")(spark, sfDir)
    val ev = graft.core.Tables.events(spark, sfDir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", unix_micros($"ts").as("cus"))
    val purch = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("purchase_id"), $"user_id", unix_micros($"ts").as("pus"))
    val naive = purch.join(clicks, Seq("user_id"), "left")
      .withColumn("hit",
        when($"cus" >= $"pus" - 1800000000L && $"cus" < $"pus", 1L).otherwise(0L))
      .groupBy("purchase_id").agg(sum($"hit").as("expect_n"))
    val joined = q.join(naive, Seq("purchase_id"))
    assert(joined.filter($"n_clicks" =!= $"expect_n").count() === 0)
  }

  test("ANN recall eval is a valid statistic (0 ≤ recall ≤ 1, counts consistent)") {
    val r = graft.catalog.ScaleOps.queries("sim_recall_eval")(spark, sfDir).head()
    val n = r.getAs[Long]("n_queries"); val hits = r.getAs[Long]("hits")
    val nTrue = r.getAs[Long]("n_true"); val recall = r.getAs[Double]("recall_micro")
    assert(n > 0 && nTrue === n * 5)
    assert(hits >= 0 && hits <= nTrue)
    assert(recall >= 0.0 && recall <= 1.0)
    assert(math.abs(recall - hits.toDouble / nTrue) < 1e-12)
    assert(r.getAs[Long]("n_perfect") <= n)
  }

  test("d8 banded blocking equals the naive suffix-block join; blocks bounded") {
    val cust = graft.core.Tables.customer(spark, sfDir)
      .select($"c_custkey", $"c_name")
    val banded = graft.text.Dedup.fuzzyBlockedPairs(cust, "c_custkey", "c_name")
    // the naive formulation the operator replaces: one 2-char suffix
    // block, quadratic within
    val a = cust.select($"c_custkey".as("id_a"), $"c_name".as("name_a"),
      expr("right(c_name, 2)").as("blk"))
    val b = cust.select($"c_custkey".as("id_b"), $"c_name".as("name_b"),
      expr("right(c_name, 2)").as("blk"))
    val naive = a.join(b, "blk").filter($"id_a" < $"id_b")
      .withColumn("dist", levenshtein($"name_a", $"name_b"))
      .filter($"dist" <= 2)
      .select("id_a", "id_b", "dist")
    assert(banded.exceptAll(naive).count() === 0)
    assert(naive.exceptAll(banded).count() === 0)
    // the scale bound: no composite block exceeds the pair cap here,
    // and the audit aggregate is one row per block key
    val counts = graft.text.Dedup.blockPairCounts(cust, "c_name")
    assert(counts.agg(max("cand_pairs")).head().getLong(0) <= (1L << 22))
  }

  test("d8 overflow policy drops oversized blocks and keeps the rest") {
    // two suffix blocks: 'xx' has 40 same-length names (40·40 = 1600
    // candidate pairs > cap 100 → dropped); 'yy' has 2 near-dup names
    val big = (0 until 40).map(i => (i.toLong, f"name_$i%02d_xx"))
    val small = Seq((100L, "other_aa_yy"), (101L, "other_ab_yy"))
    val df = (big ++ small).toDF("id", "name")
    val pairs = graft.text.Dedup.fuzzyBlockedPairs(df, "id", "name",
      pairCap = 100L)
    // the small block's lev-1 pair survives; nothing from the big block
    assert(pairs.filter($"id_a" === 100L && $"id_b" === 101L).count() === 1)
    assert(pairs.filter($"id_a" < 100L).count() === 0)
    // with an ample cap the big block's pairs come back
    val all = graft.text.Dedup.fuzzyBlockedPairs(df, "id", "name")
    assert(all.filter($"id_a" < 100L).count() > 0)
    // the audit surfaces exactly the dropped block (and only it)
    val report = graft.text.Dedup.overflowReport(df, "name", pairCap = 100L)
      .select("blk").as[String].collect()
    assert(report.toSeq === Seq("xx"), s"overflow report wrong: ${report.toSeq}")
    assert(graft.text.Dedup.overflowReport(df, "name").count() === 0)
  }

  test("TokenHitCounts matches the split+filter HOF formulation exactly") {
    import graft.text.TextAnalysis
    val lists = TextAnalysis.stopwords.keys.toSeq.sorted.map(TextAnalysis.stopwords)
    val df = graft.core.Tables.documents(spark, sfDir)
      .select($"text").unionByName(
        Seq("", "   ", "the", " the\tthe\nthe ", "la un une des")
          .toDF("text"))
    val hof = lists.zipWithIndex.map { case (ws, i) =>
      val arr = array(ws.map(lit): _*)
      size(filter(split(trim($"text"), "\\s+"), t => array_contains(arr, t))).as(s"h$i")
    }
    val both = df.select(
      array(hof: _*).as("hof"),
      graft.plans.expressions.token_hit_counts($"text", lists).as("fast"))
    assert(both.filter($"hof" =!= $"fast").count() === 0)
  }

  test("MinhashSlices matches per-component array_min(transform(substr)) exactly") {
    val df = graft.core.Tables.documents(spark, sfDir)
      .select(graft.plans.expressions.array_md5(
        graft.text.Dedup.shingleArray($"text", 5)).as("hs"))
      .unionByName(Seq(Seq.empty[String]).toDF("hs")) // empty → all-null
    val hof = (0 until 4).map(j => graft.text.Dedup.minhashSlice($"hs", j))
    val both = df.select(array(hof: _*).as("hof"),
      graft.plans.expressions.minhash_slices($"hs", 4).as("fast"))
    assert(both.filter(!($"hof" <=> $"fast")).count() === 0)
  }

  test("ArrayMd5 matches transform(arr, s -> md5(s)) exactly") {
    val df = graft.core.Tables.documents(spark, sfDir)
      .select(graft.text.Dedup.shingleArray($"text", 5).as("sh"))
    val both = df.select(
      transform($"sh", s => md5(s)).as("hof"),
      graft.plans.expressions.array_md5($"sh").as("fast"))
    assert(both.filter($"hof" =!= $"fast").count() === 0)
  }

  test("WeightedStepPick is bit-identical to the HOF walk-step formulation") {
    import graft.functions.ColFns
    val df = spark.range(500).toDF("i")
      .withColumn("walk_id", concat($"i".cast("string"), lit("#0")))
      .withColumn("prev", $"i" % 7)
      .withColumn("nbrs", array_sort(array($"i" % 11, $"i" % 7, $"i" % 5 + 20, $"i" % 3 + 40)))
      .withColumn("prev_nbrs", array_sort(array($"i" % 11, $"i" % 13 + 5)))
    val step = 3; val p = 1.0; val q = 0.5; val seed = 42L
    val keyed = transform($"nbrs", c => {
      val w = when(c === $"prev", lit(1.0 / p))
        .when(array_contains($"prev_nbrs", c), lit(1.0))
        .otherwise(lit(1.0 / q))
      val u = ColFns.pseudoUniform(xxhash64($"walk_id", lit(step), c), seed)
      struct((-log(u + lit(1e-12)) / w).as("key"), c.as("pick"))
    })
    val both = df.select(
      array_min(keyed).getField("pick").as("hof"),
      graft.plans.expressions.weighted_step_pick(
        $"nbrs", $"prev_nbrs", $"prev",
        xxhash64($"walk_id", lit(step)), 1.0 / p, 1.0 / q, seed).as("fast"))
    assert(both.filter($"hof" =!= $"fast").count() === 0)
  }

  test("WeightedStepPick on string ids is bit-identical to the HOF walk-step formulation") {
    import graft.functions.ColFns
    def id(c: org.apache.spark.sql.Column) = concat(lit("n"), c.cast("string"))
    // array_sort orders strings UTF-8-binary, as neighborTable does
    val df = spark.range(500).toDF("i")
      .withColumn("walk_id", concat($"i".cast("string"), lit("#1")))
      .withColumn("prev", id($"i" % 7))
      .withColumn("nbrs", array_distinct(array_sort(
        array(id($"i" % 11), id($"i" % 7), id($"i" % 5 + 20), id($"i" % 3 + 40)))))
      .withColumn("prev_nbrs", array_sort(array(id($"i" % 11), id($"i" % 13 + 5))))
    val step = 4; val p = 2.0; val q = 0.5; val seed = 7L
    val keyed = transform($"nbrs", c => {
      val w = when(c === $"prev", lit(1.0 / p))
        .when(array_contains($"prev_nbrs", c), lit(1.0))
        .otherwise(lit(1.0 / q))
      val u = ColFns.pseudoUniform(xxhash64($"walk_id", lit(step), c), seed)
      struct((-log(u + lit(1e-12)) / w).as("key"), c.as("pick"))
    })
    val both = df.select(
      array_min(keyed).getField("pick").as("hof"),
      graft.plans.expressions.weighted_step_pick(
        $"nbrs", $"prev_nbrs", $"prev",
        xxhash64($"walk_id", lit(step)), 1.0 / p, 1.0 / q, seed).as("fast"))
    assert(both.filter(!($"hof" <=> $"fast")).count() === 0)
    assert(both.filter($"fast".isNull).count() === 0)
  }

  test("spreadForMap: exchanges a narrow scan, is a NO-OP on a well-split input") {
    // the single-file corpus (the small-SF trap): one partition in,
    // shuffle-width partitions out — the expensive map kernel above it
    // gets real parallelism
    val docs = graft.core.Tables.documents(spark, sfDir)
    assume(docs.rdd.getNumPartitions * 2 <=
      spark.sessionState.conf.numShufflePartitions)
    val spread = graft.core.Tables.spreadForMap(docs, $"doc_id")
    assert(spread.rdd.getNumPartitions ===
      spark.sessionState.conf.numShufflePartitions)
    assert(spread.count() === docs.count())
    // the 100 TB case: input already has splits ≥ half the shuffle
    // width → NO exchange is added (corpus text never shuffles at scale)
    val wide = docs.repartition(
      spark.sessionState.conf.numShufflePartitions, $"doc_id")
    val noop = graft.core.Tables.spreadForMap(wide, $"doc_id")
    assert(noop eq wide, "spreadForMap added an exchange to a wide input")
  }

  test("bucketed tables join without a shuffle; result matches plain join") {
    import graft.functions.Bucketing
    val orders = graft.core.Tables.orders(spark, sfDir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val li = graft.core.Tables.lineitem(spark, sfDir)
      .select($"l_orderkey".as("o_orderkey"), $"l_partkey", $"l_quantity")
    Bucketing.writeBucketed(orders, "b_orders", "o_orderkey", 4)
    Bucketing.writeBucketed(li, "b_lineitem", "o_orderkey", 4)
    val bj = Bucketing.bucketedJoin(spark, "b_orders", "b_lineitem", "o_orderkey")
    assert(!Bucketing.hasShuffle(bj), "bucketed join still shuffles:\n" +
      bj.queryExecution.executedPlan.toString.take(2000))
    assert(bj.count() === orders.join(li, "o_orderkey").count())
  }

  test("e16 saturated regime: est_ok tolerance audit fires and passes at a tiny K") {
    // at K=32 every event_type at sf0.01 (~150 distinct users each)
    // lands in the saturated branch the shipped K only reaches at ~sf5
    // — regime labeled, n_users NULLed, and est_ok EARNED via the
    // 4/sqrt(K) audit against an exact recount (not the literal TRUE
    // the oracle emits). sf0.01, not sfDir: sf0.001 has only 15
    // distinct users per type, below any sane sketch size.
    val k = 32
    val out = graft.catalog.ScaleOps
      .e16Core(spark, "/root/testdata/sf0.01", k, "e16spec").collect()
    assert(out.nonEmpty)
    val sat = out.filter(_.getString(1) == "estimate")
    assert(sat.nonEmpty, "tiny-K run never saturated — the audit branch is untested")
    sat.foreach { r =>
      assert(r.isNullAt(2), s"${r.getString(0)}: saturated row served n_users")
      assert(r.getBoolean(3),
        s"${r.getString(0)}: KMV estimate outside 4/sqrt($k) of the exact count")
    }
    // exact rows (if any) keep the trivially-true audit
    out.filter(_.getString(1) == "exact").foreach(r => assert(r.getBoolean(3)))
  }
}
