package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming ingestion: the Spark-native twin of the reference's Auto
  * Loader medallion flow (SURVEY.md §2.1 A1–A4, §2.8 A29–A30):
  *
  *  - bronze: `STREAM read_files(path, format => 'json')`
  *    (models/bronze/iot_events/bronze_iot_events.sql:12-15) →
  *    `spark.readStream.schema(...).json(dir)` — OSS FileStreamSource
  *    discovers new files, checkpointed for exactly-once.
  *  - silver: `STREAM(ref('bronze_iot_events'))` with projection/cast/filter
  *    (models/silver/iot_events/silver_iot_events.sql:11-22) → chained
  *    transforms on the streaming DataFrame (stateless, append-mode, no
  *    state store).
  *  - Triggered (not continuous) pipeline mode (README_DBT.md:213) →
  *    `Trigger.AvailableNow` drains what exists, then stops.
  *
  * Scale notes: file-source ingestion parallelism = files × partitions;
  * `maxFilesPerTrigger` bounds micro-batch size so 100 TB backfills proceed
  * in bounded memory; the silver transform is narrow (scan-speed).
  */
object Ingest {

  /** Raw IoT event schema at the landing zone. Timestamps arrive as strings
    * (JSON inference would do the same) and are cast at silver — the
    * reference's exact bronze/silver split (SURVEY.md §7.4 hazard 4).
    */
  val rawEventSchema: StructType = StructType(Seq(
    StructField("device_id", StringType),
    StructField("location_id", StringType),
    StructField("timestamp", StringType),
    StructField("sensor_type", StringType),
    StructField("quality_flag", StringType),
    StructField("unit", StringType),
    StructField("value", DoubleType),
  ))

  /** Bronze: streaming JSON file source, schema supplied (OSS streaming
    * requires one), `SELECT *` passthrough (A7).
    */
  def bronzeStream(spark: SparkSession, landingDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(rawEventSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.json(landingDir)
  }

  /** Batch twin of bronze for stream≡batch equivalence tests. */
  def bronzeBatch(spark: SparkSession, landingDir: String): DataFrame =
    spark.read.schema(rawEventSchema).json(landingDir)

  /** Streaming RAW MEDIA ingestion — the continuous form of
    * [[graft.sources.Lake.readBinaryFiles]]: files landing in `dir` flow
    * as one row each (FileStreamSource tracks seen files in the
    * checkpoint, so re-drains are exactly-once like the JSON bronze), are
    * adapted to the mediaSchema contract by the same narrow
    * [[graft.ext.Multimodal.fromBinaryFiles]] projection, and append to a
    * parquet media table. Glob pruning happens at LISTING time —
    * non-media files never even enter the source's seen-files log.
    * `maxFilesPerTrigger` is the media-pipeline backpressure lever: blobs
    * dominate row size, so triggers are sized by FILES, not rows.
    */
  def mediaStream(spark: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // streaming sources require an explicit schema; binaryFile's is fixed
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("modificationTime", TimestampType, nullable = false),
      StructField("length", LongType, nullable = false),
      StructField("content", BinaryType, nullable = true)))
    val r = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema).option("pathGlobFilter", glob)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    graft.ext.Multimodal.fromBinaryFiles(r.load(dir))
  }

  /** Drain all currently-landed media files into the parquet media table
    * (Trigger.AvailableNow + checkpoint: triggered-mode parity with the
    * event ingestion; a re-drain with no new files appends nothing).
    * `statsCols` makes the sink a first-class Lake table (see
    * [[publishStreamStats]]) — media tables typically track `n_bytes` or
    * the content key so downstream decode jobs prune before touching blobs.
    */
  def runMediaPipeline(spark: SparkSession, landingDir: String, glob: String,
      tableDir: String, checkpointDir: String,
      statsCols: Seq[String] = Seq.empty,
      versioned: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val q = mediaStream(spark, landingDir, glob, maxFilesPerTrigger)
      .writeStream
      .format("parquet")
      .option("path", tableDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // VERSION before STATS: on a versioned table appendStats diffs
    // against the current manifest, so the commit must adopt the drain's
    // files first or they gain no stats rows until the NEXT drain (and
    // the stale-manifest guard refuses every skip read in the gap)
    if (versioned) publishStreamVersion(spark, tableDir)
    if (statsCols.nonEmpty) publishStreamStats(spark, tableDir, statsCols)
    ()
  }

  /** Make a stream-written parquet dir a FIRST-CLASS Lake table: append
    * `_graft_stats` manifest rows for exactly the data files the manifest
    * does not cover yet — the micro-batch files the last drain added.
    * O(new files) per drain (the first call covers the whole table, which
    * at that point IS the streamed backlog), IDEMPOTENT on a no-op
    * re-drain, and it leaves `_spark_metadata` alone (log-trusting
    * readers keep working; Lake's skipping readers list files directly).
    * Without this, a stream-written table `require`-fails every
    * readSkipping/readLookup until someone pays a corpus-scan writeStats —
    * correct but unusable. Triggered pipelines call it post-drain;
    * a continuous deployment would call it from foreachBatch after each
    * commit (same cost shape: stats for that batch's files only).
    */
  def publishStreamStats(spark: SparkSession, tableDir: String,
      statsCols: Seq[String]): Long =
    graft.sources.Lake.appendStats(spark, tableDir, statsCols)

  /** Make a stream-written table VERSIONED: publish the drain's new files
    * as one metadata-only delta commit ([[graft.sources.Lake
    * .commitStreamVersion]]) — the streamed twin of `appendVersioned`,
    * giving the table time travel and file-granular `deleteWhere`/
    * `mergeInto` with no bootstrap step. Idempotent by file diff: a
    * re-drain that appended nothing publishes nothing. Triggered
    * pipelines call it post-drain (one version per drain — the Delta
    * streaming-table shape, `bronze_iot_events.sql:1-6`); a continuous
    * deployment calls it from foreachBatch after each commit (one version
    * per micro-batch, same O(new files) cost).
    */
  def publishStreamVersion(spark: SparkSession, tableDir: String): Option[Long] =
    graft.sources.Lake.commitStreamVersion(spark, tableDir)

  /** CONTINUOUS-mode versioned silver: one version PER MICRO-BATCH from
    * inside `foreachBatch` — the shape a 24/7 deployment runs (the
    * triggered pipelines commit once per drain instead). Each batch goes
    * through `Lake.appendVersioned` with its `batchId`: the data lands in
    * a claimed dir invisible until the manifest publishes, the batch id
    * rides in the manifest, and a REPLAYED batch (crash after the data
    * write, before the checkpoint commit) is detected and skipped BEFORE
    * writing a byte — exactly-once at the version level with no
    * partition-dir tricks; a crashed attempt's unpublished files are
    * reclaimed by vacuum's grace window. Every versioned-Lake operation
    * (travel, delete, merge, optimize, asOf) works from the first batch.
    */
  /** `drainAndStop = true` (default) drains the current backlog and
    * returns a terminated query — the test/triggered shape; `false` runs
    * LIVE on a ProcessingTime trigger and returns the RUNNING query (the
    * caller owns its lifecycle) — the actual 24/7 deployment.
    */
  def runContinuousSilverPipeline(spark: SparkSession, landingDir: String,
      silverDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      drainAndStop: Boolean = true,
      processingInterval: String = "10 seconds"): StreamingQuery = {
    val writer = silverTransform(
        bronzeStream(spark, landingDir, maxFilesPerTrigger))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Lake.appendVersioned(spark, batch, silverDir,
          streamBatchId = Some(batchId))
        ()
      }
      .option("checkpointLocation", checkpointDir)
    val q = (if (drainAndStop) writer.trigger(Trigger.AvailableNow())
             else writer.trigger(Trigger.ProcessingTime(processingInterval)))
      .start()
    if (drainAndStop) q.awaitTermination()
    q
  }

  /** CONTINUOUS bronze→silver→GOLD: the silver micro-batch commit plus an
    * INCREMENTALLY MAINTAINED gold aggregate in the same foreachBatch —
    * the reference's triggered-DLT chain with "automatic incremental
    * refresh" on the gold layer (README_DBT.md:32,102-103). Each batch:
    *   1. `appendVersioned(silver, batchId)` — exactly-once silver commit;
    *   2. `Lake.refreshIncremental(silver → gold)` — folds exactly the
    *      versions the commit just published through the change feed into
    *      one file-granular merge on the gold table (watermark rides the
    *      gold commit; a replayed batch no-ops at BOTH layers).
    * Gold is per (location_id, sensor_type): event count + value sum.
    * Each fold reads the batch's silver files, reads the small gold table
    * once on the driver and rewrites only the gold files holding touched
    * keys — never the accumulated silver table, which is what lets the
    * chain run 24/7 against an unbounded table. A steady micro-batch
    * starts three Spark jobs: the silver write, the delta collect and
    * the gold rewrite (see [[graft.sources.Lake.refreshIncremental]]).
    */
  def runContinuousSilverGoldPipeline(spark: SparkSession,
      landingDir: String, silverDir: String, goldDir: String,
      checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val q = silverTransform(
        bronzeStream(spark, landingDir, maxFilesPerTrigger))
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.sources.Lake.appendVersioned(spark, batch, silverDir,
          streamBatchId = Some(batchId))
        graft.sources.Lake.refreshIncremental(spark, silverDir, goldDir,
          keys = Seq("location_id", "sensor_type"),
          sumCols = Seq("value"), countCol = "n_events")
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** STREAMING incremental-view maintenance: follow a versioned Lake
    * table's COMMITS as a stream and fold each into a downstream
    * aggregate view — the Delta `readStream` + aggregation shape, built
    * from two existing exactly-once mechanisms instead of a custom
    * Source:
    *   - TRIGGERING: Spark's file stream watches the table's
    *     `_graft_versions` manifest dir (manifests are append-only files,
    *     so commit discovery inherits the file source's checkpointed
    *     exactly-once delivery — no polling loop, no custom offsets);
    *   - FOLDING: each trigger calls [[graft.sources.Lake
    *     .refreshIncremental]], whose own watermark (in the view's
    *     commit) makes the fold idempotent — a replayed trigger, or five
    *     manifests arriving in one batch, fold each change exactly once.
    * `drainAndStop = true` drains the backlog and returns (triggered
    * shape); `false` runs live on a ProcessingTime trigger and returns
    * the running query.
    */
  def runIncrementalViewPipeline(spark: SparkSession, sourceTable: String,
      viewPath: String, keys: Seq[String], sumCols: Seq[String],
      countCol: String, checkpointDir: String,
      drainAndStop: Boolean = true,
      processingInterval: String = "10 seconds"): StreamingQuery = {
    val manifests = spark.readStream
      .schema("value STRING")
      .text(s"$sourceTable/_graft_versions")
    val writer = manifests.writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        graft.sources.Lake.refreshIncremental(spark, sourceTable, viewPath,
          keys = keys, sumCols = sumCols, countCol = countCol)
        ()
      }
      .option("checkpointLocation", checkpointDir)
    val q = (if (drainAndStop) writer.trigger(Trigger.AvailableNow())
             else writer.trigger(Trigger.ProcessingTime(processingInterval)))
      .start()
    if (drainAndStop) q.awaitTermination()
    q
  }

  /** Schema inference for the streaming edge — the OSS twin of Auto
    * Loader's inferred-schema mode (bronze_iot_events.sql:12-15 infers;
    * OSS FileStreamSource refuses to): sample the landing dir with a
    * bounded BATCH read, then open the stream with the inferred schema.
    * `primitivesAsString=true` reproduces the reference bronze contract
    * (everything lands as string, silver casts — SURVEY §7.4 hazard 4);
    * pass false to let Spark's JSON inference type numerics.
    *
    * Inference cost is one pass over `sampleFiles` files at pipeline
    * START only — the returned stream itself never re-infers. At 100 TB
    * the landing dir holds uniform machine-written JSON, so a small
    * sample pins the schema; a schema CHANGE mid-stream surfaces as
    * nulls in new columns at silver DQ, the same failure mode the
    * reference documents for Auto Loader without schema evolution.
    *
    * MALFORMED records are never dropped: the stream reads in PERMISSIVE
    * mode with `columnNameOfCorruptRecord` = [[RescuedCol]], so a line
    * that fails to parse lands as one row with every data column null and
    * the RAW text preserved in the rescue column — Auto Loader's
    * `_rescued_data` envelope (bronze_iot_events.sql:12-15). Route the
    * frame through [[runQuarantinedSilverPipeline]] (or filter on the
    * rescue column yourself) to quarantine instead of lose them.
    */
  def bronzeStreamInferred(spark: SparkSession, landingDir: String,
      sampleFiles: Int = 8, primitivesAsString: Boolean = true,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    // bound the inference scan to the first sampleFiles paths (sorted for
    // determinism) — inference reads only O(sample), not the backlog
    val fs = new org.apache.hadoop.fs.Path(landingDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hidden-file check on the BASENAME only: matching "/_" or "/."
    // anywhere in the qualified path would empty the sample whenever any
    // ANCESTOR dir is underscore/dot-prefixed (/data/_landing, ~/.cache)
    val paths = fs.listStatus(new org.apache.hadoop.fs.Path(landingDir))
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString)
      .sorted.take(sampleFiles)
    require(paths.nonEmpty, s"no files to infer a schema from in $landingDir")
    val sample = spark.read
      .option("primitivesAsString", primitivesAsString.toString)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", RescuedCol)
      .json(paths.toIndexedSeq: _*)
    // a malformed line in the sample already adds the rescue column to the
    // inferred schema — dedupe by name, then pin it as the LAST field
    val inferred = StructType(
      sample.schema.fields.filterNot(_.name == RescuedCol).sortBy(_.name) :+
        StructField(RescuedCol, StringType))
    val r = spark.readStream.schema(inferred)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", RescuedCol)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.json(landingDir)
  }

  /** Rescue-column name, mirroring Auto Loader's `_rescued_data`. */
  val RescuedCol = "_rescued_data"

  /** Bronze→silver with a QUARANTINE side-output: every micro-batch is
    * routed through [[graft.dq.Expectations]] with a DROP expectation on
    * the rescue column — clean rows take the silver transform and land in
    * `silverDir`, malformed rows land UNTOUCHED (raw text preserved) in
    * `quarantineDir`, and nothing is silently lost. Runs inside
    * `foreachBatch` because expectation violation COUNTS are a batch
    * action.
    *
    * Effectively-once, not just at-least-once: the checkpoint skips
    * COMMITTED batches on re-drain, but a crash after a write and before
    * the checkpoint commit replays that batch — so every write is
    * IDEMPOTENT BY batchId, landing in its own `batch=<id>` partition dir
    * with overwrite semantics (the standard foreachBatch recipe: a replay
    * rewrites its own subdir byte-for-byte instead of appending a
    * duplicate). Readers therefore see each input row exactly once in the
    * final table state; the `batch` partition column is the audit trail.
    * The micro-batch is cached first: filtering a JSON scan on ONLY the
    * corrupt-record column is disallowed by Spark, and the expectation
    * predicate is exactly that.
    */
  def runQuarantinedSilverPipeline(spark: SparkSession, landingDir: String,
      silverDir: String, quarantineDir: String, checkpointDir: String,
      statsCols: Seq[String] = Seq.empty): StreamingQuery = {
    import graft.dq.Expectations
    val bronze = bronzeStreamInferred(spark, landingDir)
    val inferredCols = bronze.schema.fieldNames.toSet
    // align to the DECLARED contract, null-filling any declared field the
    // bounded inference sample happened not to see: a field absent from
    // the first sampleFiles files but present later must surface as nulls
    // at silver DQ (the documented degradation), not crash the stream
    // with an unresolvable column
    def declared(f: org.apache.spark.sql.types.StructField) =
      (if (inferredCols(f.name)) col(f.name)
       else lit(null)).cast(f.dataType).as(f.name)
    val q = bronze.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          val r = Expectations(b, Seq(Expectations.Expectation(
            "no_rescued_data", col(RescuedCol).isNull, Expectations.Drop)))
          val aligned = r.retained
            .select(rawEventSchema.fields.map(declared): _*)
          silverTransform(aligned)
            .write.mode("overwrite").parquet(s"$silverDir/batch=$batchId")
          if (r.violationCounts("no_rescued_data") > 0) {
            // quarantine schema is PINNED to the declared fields (raw
            // string fidelity) + the rescue column, so every batch= dir
            // is uniform — per-drain inference drift must not make the
            // audit trail's dirs disagree on columns (a later plain read
            // would bind one footer's schema and silently drop the rest)
            r.quarantined
              .select(rawEventSchema.fields.map(f =>
                (if (inferredCols(f.name)) col(f.name)
                 else lit(null)).cast("string").as(f.name)) :+
                col(RescuedCol): _*)
              .write.mode("overwrite").parquet(s"$quarantineDir/batch=$batchId")
          }
        } finally { batch.unpersist(); () }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    if (statsCols.nonEmpty) publishStreamStats(spark, silverDir, statsCols)
    q
  }

  /** Silver transform, usable on both the streaming and batch bronze frame:
    * projection (A8), timestamp cast (A9), normalized IN-list quality filter
    * that PROJECTS THE RAW flag (A10 + hazard 3: ' Good ' passes the filter
    * but keeps its raw spelling).
    */
  def silverTransform(bronze: DataFrame): DataFrame =
    bronze
      .select(
        col("device_id"), col("location_id"),
        col("timestamp").cast("timestamp").as("timestamp"),
        col("sensor_type"), col("quality_flag"), col("unit"), col("value"))
      .filter(lower(trim(col("quality_flag"))).isin("good", "suspect"))

  /** Run bronze→silver as a triggered streaming pipeline: drain all
    * available input (Trigger.AvailableNow ≙ the reference's triggered DLT
    * mode), append silver rows as parquet with a checkpoint for
    * exactly-once, and block until drained.
    */
  def runSilverPipeline(spark: SparkSession, landingDir: String,
      silverDir: String, checkpointDir: String,
      statsCols: Seq[String] = Seq.empty,
      versioned: Boolean = false,
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    val q = silverTransform(bronzeStream(spark, landingDir, maxFilesPerTrigger))
      .writeStream
      .format("parquet")
      .option("path", silverDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // VERSION before STATS — see runMediaPipeline's note: appendStats on
    // a versioned table diffs against the current manifest, so the
    // drain's files must be adopted first
    if (versioned) publishStreamVersion(spark, silverDir)
    if (statsCols.nonEmpty) publishStreamStats(spark, silverDir, statsCols)
    q
  }

  /** Gold refresh after a streaming drain (A30): batch recompute over the
    * silver table — materialized-view semantics.
    */
  def refreshGold(spark: SparkSession, silverDir: String): Map[String, DataFrame] = {
    // persisted: all three returned frames scan silver, and the fact join
    // consumes dimDate twice — without the cache a caller materializing
    // the whole map pays 4 silver scans and 2 distinct aggregations
    // (session-scoped cache; Spark's LRU reclaims it)
    val silver = spark.read.parquet(silverDir).persist()
    val dimLocations = silver.select("location_id").distinct()
    val dimDate = silver
      .select(to_date(col("timestamp")).as("date"),
        year(col("timestamp")).as("year"),
        month(col("timestamp")).as("month"),
        dayofmonth(col("timestamp")).as("day"))
      .distinct()
      .persist() // consumed standalone AND twice inside the fact join
    val fact = silver
      .join(broadcast(dimDate.select("date", "year", "month")),
        to_date(silver("timestamp")) === dimDate("date"), "left_outer")
      .groupBy("location_id", "sensor_type", "quality_flag", "year", "month")
      .agg(avg("value").as("avg_value"), count(lit(1)).as("n_events"))
    Map("dim_locations" -> dimLocations, "dim_date" -> dimDate, "fact_iot_events" -> fact)
  }
}
