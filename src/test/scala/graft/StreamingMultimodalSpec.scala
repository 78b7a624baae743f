package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal
import graft.streaming.EventStream

class StreamingMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("streaming windowed counts match the batch e1 operator") {
    val streamed = EventStream.runAvailableNow(spark, sfDir,
      df => EventStream.windowedCounts(df), "win_test")
      .select($"window_start", $"event_type", $"n")
    val batch = graft.core.Tables.events(spark, sfDir)
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"window.start".as("window_start"), $"event_type", $"n")
    // watermark may hold back the final window in append mode; every
    // emitted window must match batch exactly
    val mismatch = streamed.join(batch,
      Seq("window_start", "event_type"), "left")
      .filter(streamed("n") =!= batch("n")).count()
    assert(mismatch === 0)
    assert(streamed.count() > 0)
  }

  test("stateful sessionization emits closed sessions with sane bounds") {
    val events = graft.core.Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStream.Event]
    val sessions = EventStream.sessionize(events).cache()
    assert(sessions.count() > 0)
    assert(sessions.filter($"duration_sec" < 0).count() === 0)
    assert(sessions.filter($"n_events" <= 0).count() === 0)
  }

  test("streaming dedup suppresses duplicate arrivals within the watermark") {
    val out = EventStream.runAvailableNow(spark, sfDir,
      df => EventStream.dedupStream(df.unionAll(df), Seq("event_id")),
      "dedup_stream_test")
    val batchDistinct = graft.core.Tables.events(spark, sfDir)
      .select("event_id", "ts").distinct().count()
    assert(out.count() === batchDistinct,
      s"streaming dedup emitted ${out.count()} rows, expected $batchDistinct")
  }

  test("e10: late replay below the watermark never reaches the sink") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("e10_late_data_drop")(spark, sfDir)
    val ev = graft.core.Tables.events(spark, sfDir)
    val Array(tmin, tmax) = ev.agg(min(unix_micros($"ts")), max(unix_micros($"ts")))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val mid = tmin + (tmax - tmin) / 2
    // every emitted window closed STRICTLY before the watermark
    // (max − 2 h): Spark's append eviction is attr ≤ watermarkMs − 1,
    // so a window ending exactly at the watermark is never emitted
    val wmMu = tmax - 7200000000L
    assert(out.filter(unix_micros($"window_start") + 3600000000L >= wmMu).count() === 0)
    // emitted totals equal the on-time rows of those windows — late
    // (earlier-half) rows were dropped, not merged
    val expect = ev.filter(unix_micros($"ts") >= mid)
      .filter(unix_micros(date_trunc("hour", $"ts")) + 3600000000L < wmMu)
      .count()
    assert(out.agg(sum("n")).head().getLong(0) === expect)
  }

  test("e14: the outer join emits watermark-proven zero-click purchases") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("e14_stream_outer_join")(spark, sfDir)
    val cut = lit("2024-01-30 00:00:00").cast("timestamp")
    val ev = graft.core.Tables.events(spark, sfDir)
    // every cutoff purchase surfaced — including the ones with NO band
    // click, which only the null-emission path can produce
    val nPurch = ev.filter($"event_type" === "purchase" && $"ts" < cut).count()
    assert(out.count() === nPurch, "outer join lost purchases")
    val zeros = out.filter($"n_clicks" === 0)
    assert(zeros.count() > 0, "no unmatched purchases — outer semantics vacuous")
    assert(zeros.filter($"click_value" =!= 0.0).count() === 0)
    // and the matched subset is exactly the inner join's answer
    val inner = SparkEntry.queries("e8_stream_interval_join")(spark, sfDir)
    val matchedIds = out.filter($"n_clicks" > 0).select("purchase_id")
    val innerIds = inner.select("purchase_id")
      .join(ev.filter($"event_type" === "purchase" && $"ts" < cut)
        .select($"event_id".as("purchase_id")), Seq("purchase_id"))
    assert(matchedIds.exceptAll(innerIds).count() === 0 &&
      innerIds.exceptAll(matchedIds).count() === 0,
      "outer's matched set diverged from the inner join")
  }

  test("e14: the derived cutoff keeps the gate green on a re-spanned events table") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    // shift the whole corpus +400 days: the old hard-coded Jan-2024
    // cutoff would keep EVERY purchase un-gated here, so this dataset
    // distinguishes a derived cutoff from a frozen one
    val base = java.nio.file.Files.createTempDirectory("e14_respan")
    val stage = base.resolve("stage")
    graft.core.Tables.events(spark, sfDir)
      .withColumn("ts", col("ts") + expr("INTERVAL 400 DAYS"))
      .coalesce(1).write.parquet(stage.toString)
    val part = {
      val l = java.nio.file.Files.list(stage)
      try l.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally l.close()
    }
    java.nio.file.Files.move(part, base.resolve("events.parquet"))
    val dir = base.toString

    val cut = graft.catalog.Analytics.e14Cutoff(spark, dir)
    assert(cut.after(java.sql.Timestamp.valueOf("2025-01-01 00:00:00")),
      s"cutoff did not follow the re-spanned data: $cut")
    val out = SparkEntry.queries("e14_stream_outer_join")(spark, dir)

    // batch truth, same derived cutoff (the oracle SQL restated)
    val ev = graft.core.Tables.events(spark, dir)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"), $"value".as("c_value"))
    val purch = ev.filter($"event_type" === "purchase" && $"ts" < lit(cut))
      .select($"event_id".as("purchase_id"), $"user_id".as("p_user"), $"ts".as("p_ts"))
    val truth = purch.join(clicks,
        $"c_user" === $"p_user" &&
          $"c_ts" >= $"p_ts" - expr("INTERVAL 1800 SECONDS") && $"c_ts" < $"p_ts",
        "left")
      .groupBy("purchase_id")
      .agg(count($"c_ts").as("n_clicks"),
        round(sum(coalesce($"c_value", lit(0.0))), 2).as("click_value"))
    assert(out.count() > 0 && out.filter($"n_clicks" === 0).count() > 0,
      "re-spanned run lost the null-emission path")
    assert(out.exceptAll(truth).count() === 0 && truth.exceptAll(out).count() === 0,
      "re-spanned stream output diverged from the batch truth")
  }

  test("e19: the streamed CDC merge reaches exactly the batch MERGE state") {
    val stream = SparkEntry.queries("e19_stream_cdc_merge")(spark, sfDir)
    val batch = SparkEntry.queries("s16_cdc_merge")(spark, sfDir)
    assert(stream.count() > 0)
    assert(stream.exceptAll(batch).count() === 0 &&
      batch.exceptAll(stream).count() === 0,
      "ordered per-batch application diverged from the one-shot MERGE")
  }

  test("e20: compaction collapses the merge-touched partitions and is reader-invisible") {
    // sf0.01, not the suite's sf0.001: the phenomenon under test is the
    // per-task small-file tail a COW merge leaves in its touched
    // partitions, and at sf0.001 the rewrite is a single task (no tail)
    val dir = "/root/testdata/sf0.01"
    val pre = SparkEntry.queries("e19_stream_cdc_merge")(spark, dir).collect().toSeq
    val post = SparkEntry.queries("e20_cdc_compact_serve")(spark, dir).collect().toSeq
    assert(pre === post,
      "merge→compact→serve diverged from merge→serve — compaction visible to a reader")
    // the touched partitions (the churn point) collapse to one file each
    val e19 = graft.core.Artifacts.scratchDir(spark, "e19", dir)
    val e20 = graft.core.Artifacts.scratchDir(spark, "e20", dir)
    Seq("1996-03", "1996-04").foreach { m =>
      val in = graft.sources.Compactor.dataFiles(spark,
        s"$e19/store/o_month=$m")
      val out = graft.sources.Compactor.dataFiles(spark,
        s"$e20/o_month=$m")
      assert(out === 1, s"$m: expected 1 compacted file, got $out")
      assert(in > 1, s"$m: store had no small-file tail to compact ($in)")
    }
  }

  test("e21: streamed MOR deletes — phases agree, deletes exact across restart, tombstones retired") {
    val out = SparkEntry.queries("e21_stream_mor_deletes")(spark, sfDir).collect()
    val byPhase = out.groupBy(_.getAs[String]("phase"))
      .map { case (p, rows) => p ->
        rows.map(r => (r.getAs[String]("o_month"), r.getAs[Long]("n_orders"),
          r.getAs[Long]("price_cents"), r.getAs[Long]("key_sum"))).toSet }
    assert(byPhase.keySet === Set("mor", "materialized"))
    assert(byPhase("mor") === byPhase("materialized"),
      "a reader could tell the phases apart — the streamed MOR contract is broken")
    // exactly-once across the restart AND idempotent key overlap: the
    // materialized store is raw-1996 minus the distinct deleted keys
    val base = graft.core.Artifacts.scratchDir(spark, "e21", sfDir)
    val raw = graft.core.Tables.orders(spark, sfDir)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .filter(col("o_month").startsWith("1996-"))
    val del1 = col("o_month").isin("1996-05", "1996-06") &&
      pmod(col("o_orderkey"), lit(7)) === 0
    val del2 = col("o_month") === "1996-07" &&
      pmod(col("o_orderkey"), lit(11)) === 0
    val nDeleted = raw.filter(del1 || del2).count()
    assert(nDeleted > 0, "delete feed was empty — the test is vacuous")
    val store = spark.read.parquet(s"$base/store")
    assert(store.filter(del1 || del2).count() === 0, "a deleted key survived")
    assert(store.count() === raw.count() - nDeleted,
      "restart double-applied or dropped a delete batch")
    assert(!new java.io.File(s"$base/tombstones").exists(),
      "tombstones not retired after materialization")
  }

  test("e19 merge function: untouched partitions' files never move") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val store = java.nio.file.Files.createTempDirectory("e19_toy").toString + "/store"
    Seq((1L, 10.0, "m1"), (2L, 20.0, "m1"), (3L, 30.0, "m2"), (4L, 40.0, "m2"))
      .toDF("o_orderkey", "o_totalprice", "o_month")
      .write.partitionBy("o_month").parquet(store)
    def filesOf(month: String) =
      new java.io.File(s"$store/o_month=$month").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSet
    val m2Before = filesOf("m2")
    // a batch touching ONLY m1: update key 1, delete key 2, insert key 9
    val batch = Seq(("U", 1L, 11.0, "m1"), ("D", 2L, 0.0, "m1"),
        ("I", 9L, 99.0, "m1"))
      .toDF("op", "o_orderkey", "o_totalprice", "o_month")
    graft.catalog.ScaleOps.e19MergeBatch(store)(batch, 0L)
    assert(filesOf("m2") === m2Before,
      "merge rewrote a partition its batch never touched")
    val m1 = spark.read.parquet(store).filter($"o_month" === "m1")
      .select("o_orderkey", "o_totalprice")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(m1 === Map(1L -> 11.0, 9L -> 99.0),
      s"merge semantics wrong for the touched partition: $m1")
  }

  test("e11 stream-ingest dedup equals the d7 batch computation, plus the kept flag") {
    val e11 = SparkEntry.queries("e11_stream_ingest_dedup")(spark, sfDir).cache()
    val d7 = SparkEntry.queries("d7_incremental_dedup")(spark, sfDir)
    // the streamed union over micro-batches is exactly the relational
    // result — the batching must not be observable
    assert(e11.select("doc_id", "n_candidates", "n_dups", "dup_of")
      .exceptAll(d7).count() === 0)
    assert(d7.exceptAll(
      e11.select("doc_id", "n_candidates", "n_dups", "dup_of")).count() === 0)
    // kept ⇔ no verified duplicate in the standing store
    assert(e11.filter($"kept" =!= ($"n_dups" === 0).cast("int")).count() === 0)
  }

  test("multimodal decode preserves ids and emits the decoded schema") {
    val media = Multimodal.asMedia(
      graft.core.Tables.documents(spark, sfDir), "doc_id", "text", "image", "source")
    val decoded = Multimodal.decode(media).cache()
    assert(decoded.count() === media.count())
    assert(decoded.schema === Multimodal.decodedSchema)
    assert(decoded.filter(size($"features") =!= 8).count() === 0)
    assert(decoded.filter($"width" < 64 || $"width" > 1024).count() === 0)
    // deterministic: same payload → same decode
    val again = Multimodal.decode(media)
    assert(decoded.exceptAll(again).count() === 0)
  }

  test("real image payloads decode through the JDK codec with true dims + histogram") {
    // fixture images built in-memory: a 48x32 PNG (solid mid-gray) and a
    // 20x10 JPEG (black) — no external files, bit-deterministic
    def imgBytes(w: Int, h: Int, rgb: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val png = imgBytes(48, 32, 0x808080, "png")   // lum 128 → bin 4
    val jpg = imgBytes(20, 10, 0x000000, "jpg")   // lum 0   → bin 0
    assert(Multimodal.isImagePayload(png) && Multimodal.isImagePayload(jpg))
    val media = Seq((1L, png), (2L, jpg), (3L, "not an image".getBytes))
      .toDF("media_id", "payload")
      .select($"media_id", lit("image").as("modality"), $"payload",
        length($"payload").cast("long").as("byte_len"), lit("fixture").as("source"))
    val decoded = Multimodal.decode(media).collect().sortBy(_.getLong(0))
    val Array(p, j, t) = decoded
    assert(p.getInt(2) === 48 && p.getInt(3) === 32 && p.getInt(4) === 3)
    assert(j.getInt(2) === 20 && j.getInt(3) === 10)
    // solid-color image → the whole histogram mass lands in one bin
    val pHist = p.getSeq[Float](5)
    assert(math.abs(pHist(4) - 1.0f) < 1e-6, s"png histogram: $pHist")
    val jHist = j.getSeq[Float](5)
    assert(math.abs(jHist(0) - 1.0f) < 1e-6, s"jpg histogram: $jHist")
    // non-image payload keeps the deterministic pseudo-decode path
    assert(t.getInt(2) >= 64 && t.getSeq[Float](5).size === 8)
  }

  test("resize fits the target box, preserves aspect, never emits 0-dims") {
    val media = Multimodal.asMedia(
      graft.core.Tables.documents(spark, sfDir).limit(100), "doc_id", "text", "image", "source")
    val resized = Multimodal.resize(Multimodal.decode(media), 224, 224).cache()
    assert(resized.count() > 0)
    assert(resized.filter($"out_width" > 224 || $"out_height" > 224).count() === 0)
    assert(resized.filter($"out_width" < 1 || $"out_height" < 1).count() === 0)
    // the binding dimension reaches the box edge (aspect preserved)
    val slack = resized.filter($"out_width" < 224 && $"out_height" < 223).count()
    assert(slack === 0, "neither dimension reached the target box")
  }

  test("frame sampling yields monotone offsets within each media id") {
    val media = Multimodal.asMedia(
      graft.core.Tables.documents(spark, sfDir).limit(20), "doc_id", "text", "video", "source")
    val frames = Multimodal.frameSample(media, everyK = 50)
    val bad = frames.groupBy("media_id")
      .agg(count(lit(1)).as("n"), max("frame_no").as("mx"))
      .filter($"mx" =!= $"n" - 1).count()
    assert(bad === 0)
  }

  test("e12 stream gate serves exactly the batch model's verdicts on the arrival slice") {
    val stream = SparkEntry.queries("e12_stream_quality_gate")(spark, sfDir)
      .select($"doc_id", $"nb_score".as("s_stream"), $"admitted")
    val batch = SparkEntry.queries("t18_quality_nb")(spark, sfDir)
      .filter($"doc_id" % 3 === 0)
      .select($"doc_id", $"nb_score".as("s_batch"), $"pred_good")
    val joined = stream.join(batch, Seq("doc_id"), "full_outer").cache()
    try {
      // same rows, same scores, same admission decision — the stream
      // path provably serves the offline-trained model unmodified
      assert(joined.filter($"s_stream".isNull || $"s_batch".isNull).count() === 0)
      assert(joined.filter($"s_stream" =!= $"s_batch").count() === 0)
      assert(joined.filter($"admitted" =!= $"pred_good").count() === 0)
    } finally joined.unpersist()
  }
}
