package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (SURVEY §2.12). The reference has no
  * true streaming — its incremental model is dvid-tagged batch
  * injections. We expose both:
  *
  *  - `incrementalIngest`: the dvid pattern as a streaming source with
  *    Trigger.AvailableNow semantics (each micro-batch = one injection,
  *    foreachBatch-appendable to the nodes/edges tables), and
  *  - `windowedCounts` / `sessionize`: watermarked event-time windows and
  *    custom session state via flatMapGroupsWithState — the operators a
  *    production event pipeline needs at scale (state store partitioned
  *    by key, watermark bounds state size).
  */
object EventStream {

  /** Watermarked tumbling-window counts over a streaming events frame. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Stream–static enrichment join: each micro-batch joins the event
    * stream against a broadcast dimension table (no streaming state) and
    * rolls the enriched rows up — the shape that holds when the stream
    * is unbounded and the dimension is the small side. */
  def enrichedCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), events("user_id") === dim("c_custkey"))
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
                         user_id: Long, event_type: String, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                              n_events: Int, duration_sec: Long)

  /** Gap-based sessionization with explicit state (30-minute inactivity
    * gap), the streaming twin of the batch e2_sessionize operator.
    * State per user is O(1); timeout reaps idle users. */
  def sessionize(events: Dataset[Event], gapSec: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          // rows within a micro-batch are not ordered — sort (bounded by
          // per-user batch volume, fine for AvailableNow replays).
          // getTime floors to millis; getNanos restores the fractional
          // second so the order matches a full-precision ORDER BY ts
          val sorted = rows.toSeq.sortBy(e =>
            (e.ts.getTime / 1000, e.ts.getNanos, e.event_id))
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer[SessionOut]()
          sorted.foreach { e =>
            val t = e.ts.getTime / 1000
            if (st == null) st = SessionState(t, t, 1)
            else if (t - st.last > gapSec) {
              out += SessionOut(userId, new java.sql.Timestamp(st.start * 1000),
                st.n, st.last - st.start)
              st = SessionState(t, t, 1)
            } else st = SessionState(st.start, t, st.n + 1)
          }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Streaming exact dedup — the D1 operator as a stream: watermarked
    * dropDuplicates on the given keys, so duplicate arrivals inside the
    * watermark horizon are suppressed and the key-state store stays
    * bounded (keys older than the horizon are evicted). The streaming
    * face of an LLM-pipeline dedup stage: at 100 TB/day the horizon is
    * the dedup window contract, state is hash-partitioned by key. */
  def dedupStream(events: DataFrame, keys: Seq[String],
                  horizon: String = "2 hours"): DataFrame =
    events.withWatermark("ts", horizon)
      // dropDuplicatesWithinWatermark dedups on the keys alone: a
      // re-delivery of the same keys with a different (later) ts inside the
      // horizon is still suppressed, matching the contract above. Plain
      // dropDuplicates(keys :+ "ts") would only catch identical-ts replays.
      .dropDuplicatesWithinWatermark(keys)

  /** Stream–stream interval join: purchases matched to the same user's
    * clicks in the `bandSec` seconds before the purchase — the
    * streaming twin of the batch band join (j12_range_join's inner
    * part). Watermarks on BOTH sides plus the explicit time-band
    * predicate let the planner bound the join state: click state older
    * than (watermark − band) is evicted, so state is O(band × rate),
    * not O(stream). */
  def intervalJoin(events: DataFrame, bandSec: Long = 1800): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("c_value"))
      .withWatermark("c_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    purchases.join(clicks, expr(
      s"c_user = p_user AND c_ts >= p_ts - interval $bandSec seconds AND c_ts < p_ts"))
  }

  /** Stream–stream LEFT OUTER interval join — e8's inner join plus the
    * semantics the inner form cannot express: a purchase with NO click
    * in its band must still emit, and in a stream that answer only
    * becomes safe once the watermark proves no matching click can
    * arrive. Spark holds the unmatched purchase in state and emits the
    * null-extended row in the micro-batch whose watermark passes
    * p_ts (all matches satisfy c_ts < p_ts); under AvailableNow the
    * trailing no-data batch — which exists precisely for
    * watermark-only results — flushes every purchase older than
    * max(ts) − 2 h. State remains O(band × rate), same bound as the
    * inner join; the outer rows add nothing (evicted state IS the
    * emission). */
  def intervalJoinOuter(events: DataFrame, bandSec: Long = 1800): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("value").as("c_value"))
      .withWatermark("c_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    purchases.join(clicks, expr(
      s"c_user = p_user AND c_ts >= p_ts - interval $bandSec seconds AND c_ts < p_ts"),
      "leftOuter")
  }

  /** Incremental dvid ingest as a stream (§2.12): each micro-batch of
    * arriving event files is appended to a dvid-partitioned store via
    * foreachBatch — the Structured-Streaming twin of
    * graft.pipeline.Injections.append. Returns the query after it has
    * drained all available input. */
  def incrementalIngest(spark: SparkSession, srcDir: String, storeDir: String,
                        startDvid: Int): Unit = {
    val schema = spark.read.parquet(srcDir).schema
    val src = spark.readStream.schema(schema).parquet(srcDir)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("dvid", lit(startDvid + batchId.toInt))
          .write.mode("append").partitionBy("dvid").parquet(storeDir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Idempotent variant of `incrementalIngest`: each micro-batch
    * OVERWRITES its own dvid partition (dynamic partitionOverwriteMode,
    * set on an isolated session clone so the caller's conf is never
    * touched) instead of appending. Re-delivering a batch — the retry
    * every at-least-once transport eventually makes — replaces the
    * partition with identical content rather than doubling it: the sink
    * is exactly-once under replay because (dvid → content) is a pure
    * function of the batch, not of how many times it arrived. */
  def idempotentIngest(spark: SparkSession, srcDir: String, storeDir: String,
                       startDvid: Int): Unit = {
    val iso = spark.newSession()
    iso.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    val schema = iso.read.parquet(srcDir).schema
    val src = iso.readStream.schema(schema).parquet(srcDir)
    val q = src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("dvid", lit(startDvid + batchId.toInt))
          .write.mode("overwrite").partitionBy("dvid").parquet(storeDir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Checkpointed variant of `incrementalIngest`: the query's file-source
    * offsets persist in `checkpointDir`, so a RESTART over a grown source
    * directory processes only the files that arrived since the last
    * drain — the source-side exactly-once guarantee (e17's idempotent
    * sink is the sink-side half). batchId continues across restarts from
    * the checkpoint, so each drain's rows land in their own dvid. */
  def checkpointedIngest(spark: SparkSession, srcDir: String, storeDir: String,
                         checkpointDir: String, startDvid: Int): Unit = {
    val schema = spark.read.parquet(srcDir).schema
    val src = spark.readStream.schema(schema).parquet(srcDir)
    val q = src.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.withColumn("dvid", lit(startDvid + batchId.toInt))
          .write.mode("append").partitionBy("dvid").parquet(storeDir)
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Run a streaming query over the events parquet dir synchronously
    * (memory sink), returning the materialized result — used by tests
    * and the availableNow incremental-ingest path. */
  /** `shufflePartitions`: stateful operators create one state store per
    * shuffle partition per micro-batch (a stream–stream join keeps
    * four). For a bounded catalog/demo run that fixed setup dominates,
    * so callers may pin a small count for the query's duration; a
    * production stream sizes this to its data and leaves it unset. */
  def runAvailableNow(spark: SparkSession, dir: String,
                      transform: DataFrame => DataFrame,
                      queryName: String,
                      mode: OutputMode = OutputMode.Append,
                      shufflePartitions: Option[Int] = None): DataFrame = {
    // FileStreamSource requires a *directory* of data files; the driver
    // testdata table is a single parquet file, generated scale-sweep
    // tables (graft.tools.ScaleUp) are directories of part files —
    // stage either shape into one flat dir (micro-batch ingest of
    // dropped-in files is exactly the dvid-injection pattern anyway)
    // a fresh dir per run: a prior run's part files carry run-unique
    // names, so REPLACE_EXISTING alone would leave stale files behind
    // when the source dir is regenerated — the stream would silently
    // ingest old+new and double its rows
    val staged = java.nio.file.Paths.get(
      graft.core.Artifacts.freshScratchDir(spark, queryName, dir))
    java.nio.file.Files.createDirectories(staged)
    val src0 = java.nio.file.Paths.get(s"$dir/events.parquet")
    if (java.nio.file.Files.isDirectory(src0)) {
      val l = java.nio.file.Files.list(src0)
      try {
        import scala.jdk.CollectionConverters._
        l.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(p => java.nio.file.Files.copy(p,
            staged.resolve(p.getFileName),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING))
      } finally l.close()
    } else {
      java.nio.file.Files.copy(src0, staged.resolve("events.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // run the stream on a CLONED session (shared context, own SQLConf):
    // pinning shuffle partitions there never leaks into — or races —
    // queries planned concurrently on the caller's session
    val ss = spark.newSession()
    shufflePartitions.foreach(n =>
      ss.conf.set("spark.sql.shuffle.partitions", n.toString))
    val src = ss.readStream.schema(schema).parquet(staged.toString)
    // same ts normalization as Tables.events — the staged file is a raw
    // copy, so it carries whatever encoding the testdata generation used
    val events = schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        src.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => src
    }
    val q = transform(events).writeStream
      .outputMode(mode)
      .format("memory").queryName(queryName)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(queryName)
  }
}
