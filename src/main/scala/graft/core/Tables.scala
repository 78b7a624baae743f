package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver's deterministic testdata tables (TESTDATA.md).
  *
  * Every operator in the engine is exercised against these tables; the
  * same parquet files are registered in DuckDB by the correctness driver,
  * so column names and types here are load-bearing.
  *
  * Building a loader's frame starts no Spark job: the schema comes from
  * [[parquet]], which reads the footer on the driver.
  */
object Tables {
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without its schema-inference job.
    * Spark infers a parquet schema from ONE footer — a
    * `_common_metadata` or `_metadata` summary file if the path has
    * one, else the first data file in path order — but reads it in a
    * one-task Spark job, so every table read paid a job (46 of the ~162
    * jobs of one lifecycle pass read a single footer each). This reads
    * the same footer on the driver, converts it with Spark's own
    * `readSchemaFromFooter` and converter, and hands the schema to the
    * reader. Partition columns (the dvid store's `dvid=N` dirs) are not
    * in the footer; the reader still infers them from the directory
    * names and appends them last, as plain inference does. Falls back to
    * plain inference when `spark.sql.parquet.mergeSchema` is on (which
    * reads every footer) and when the path holds no data file. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val footerFile =
      if (conf.isParquetSchemaMergingEnabled ||
          !root.getFileSystem(hadoopConf).exists(root)) None
      else {
        // Spark's listing (hidden and staging files skipped, partition
        // dirs walked) in Spark's inference order: summaries first,
        // then the first data file by path
        val files = new InMemoryFileIndex(spark, Seq(root), Map.empty, None)
          .allFiles().sortBy(_.getPath.toString)
        val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
          ParquetFileWriter.PARQUET_METADATA_FILE)
        summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
          .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      }
    footerFile match {
      case Some(f) =>
        val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS))
        spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
          footer, new ParquetToSparkSchemaConverter(conf))).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  def region(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = t(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "lineitem")
  /** `events.ts` has shipped in three parquet encodings across driver
    * testdata generations, and the whole engine assumes a session-TZ
    * TimestampType column:
    *   - TIMESTAMP(NANOS): Spark 4 refuses outright; with
    *     `spark.sql.legacy.parquet.nanosAsLong=true` (set in Verify/Bench
    *     sessions) it reads as nanos-since-epoch LongType and we convert
    *     to micros (`div` keeps it exact).
    *   - TIMESTAMP_NTZ (isAdjustedToUTC=false, micros): reads as
    *     TimestampNTZType, which `unix_micros` / watermarks reject; cast
    *     to TimestampType. Verify/Bench/test sessions pin the session TZ
    *     to UTC, so the cast is value-preserving.
    *   - TIMESTAMP (UTC-adjusted micros): already TimestampType. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = t(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // the NTZ→TimestampType cast is value-preserving ONLY under a
        // UTC session TZ (the documented precondition every graft
        // session pins); fail loudly instead of silently shifting every
        // event timestamp in a non-UTC session. Compare zone RULES, not
        // the literal string: "Etc/UTC", "GMT", "+00:00" are all
        // value-preserving and must not be rejected.
        val tz = spark.conf.get("spark.sql.session.timeZone")
        require(java.time.ZoneId.of(tz).normalized() == java.time.ZoneOffset.UTC,
          s"events.ts is TIMESTAMP_NTZ: set spark.sql.session.timeZone=UTC " +
            s"(session zone '$tz' would shift values in the NTZ->TIMESTAMP cast)")
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  /** Spread a scan to the session's shuffle width BEFORE an expensive
    * per-row map kernel (shingle/md5/minhash, gram hashing) when the
    * file layout under-parallelizes it: a small corpus is one parquet
    * file = ONE task computing every signature (measured 1.4 s
    * single-task vs 0.3 s spread at sf0.1). At 100 TB the scan has
    * thousands of splits and this is a NO-OP — the exchange only exists
    * when its input is pathologically narrow, so corpus text is never
    * shuffled at scale. Width pinned explicitly: a bare
    * repartition(col) is AQE-coalesced right back to one partition on
    * KB-sized stats, which are blind to the map's cost. */
  def spreadForMap(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val width = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions * 2 <= width) df.repartition(width, key) else df
  }
}
