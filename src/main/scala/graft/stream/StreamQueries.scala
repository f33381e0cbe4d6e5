package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryDef, Tables}
import graft.pipeline.Scratch

/** Driver-oracled CORRECTNESS rows for the STREAMING path (SURVEY §2
  * A1/A2/A4/A29–A32) — the reference's defining abstraction is the
  * streaming table (`bronze_iot_events.sql:1-6,12-15`,
  * `silver_iot_events.sql:11`), and through round 12 its evidence was
  * ScalaTest-only. These rows make stream≡batch a DIFFERENTIAL the
  * driver's DuckDB gate checks hash-exactly:
  *
  *  - a deterministic landing dir is DERIVED from the `events` fixture
  *    (pure column mapping, written once per scale factor), so the
  *    oracle can recompute the expected silver/gold rows from `events`
  *    with plain batch SQL — if the streaming drain drops, duplicates,
  *    or mangles anything, the hash mismatches;
  *  - the drain runs `Trigger.AvailableNow` with `maxFilesPerTrigger`
  *    forcing MULTIPLE micro-batches (incremental-read evidence, A2),
  *    then a SECOND drain over the same checkpoint must append nothing
  *    (exactly-once / re-drain no-op, A4+A32) — a violation shows up as
  *    duplicated rows in the compare, not as a spec assertion;
  *  - the gold row additionally folds each micro-batch through
  *    [[graft.sources.Lake.refreshIncremental]] (A30: per-batch
  *    incremental view maintenance), so incremental-fold ≡ batch-GROUP-BY
  *    is also driver-checked.
  */
object StreamQueries {

  /** Deterministic IoT landing mapping over the events fixture. The
    * quality flag cycles through the reference's normalization hazard
    * cases (`silver_iot_events.sql` hazard 3): ' Good ' passes the
    * normalized filter but keeps its raw spelling; 'bad' is dropped.
    */
  private def landingSelect(ev: DataFrame): DataFrame =
    ev.select(
      concat(lit("dev-"), col("user_id").cast("string")).as("device_id"),
      concat(lit("loc-"), (col("user_id") % 5).cast("string"))
        .as("location_id"),
      date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("timestamp"),
      col("event_type").as("sensor_type"),
      when(col("event_id") % 4 === 0, "Good")
        .when(col("event_id") % 4 === 1, " Good ")
        .when(col("event_id") % 4 === 2, "SUSPECT")
        .otherwise("bad").as("quality_flag"),
      lit("C").as("unit"),
      col("value"))

  /** The landing dir is built ONCE per scale factor and reused across
    * calls (bench warmup pays the JSON write; timed iterations measure
    * the DRAIN, not fixture construction — r12 verdict "what's wrong" #2
    * applied from the start). Four range-partitioned files so
    * maxFilesPerTrigger can split the drain into several micro-batches.
    */
  private val landings = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def landingFor(spark: SparkSession, dir: String): String =
    landings.computeIfAbsent(dir, _ => {
      val l = Scratch.dir("stream_landing")
      landingSelect(Tables.events(spark, dir)
          .repartitionByRange(4, col("event_id")))
        .write.json(l)
      l
    })

  /** Bench prebuild hook: pay the landing-dir JSON write in the warmup
    * lane so the timed rows measure the DRAIN only.
    */
  def prebuildLanding(spark: SparkSession, dir: String): String =
    landingFor(spark, dir)

  /** The same CASE expression on both sides; shared so the Spark mapping
    * and the DuckDB oracle cannot drift apart silently.
    */
  private val qualityCaseSql =
    "CASE WHEN event_id % 4 = 0 THEN 'Good' " +
      "WHEN event_id % 4 = 1 THEN ' Good ' " +
      "WHEN event_id % 4 = 2 THEN 'SUSPECT' ELSE 'bad' END"

  /** Expectations-gated streaming ingestion through the WAP commit
    * protocol: each micro-batch is STAGED into the versioned curated
    * table (invisible), AUDITED against the silver quality expectation
    * on the staged read, quarantined-and-restaged when dirty, then
    * published — `EXPECT … ON VIOLATION DROP ROW` as a commit-protocol
    * property instead of an inline filter, so no reader can observe an
    * unaudited row AT ANY VERSION (StreamingOpsSpec walks the history to
    * pin that). Batch 0 bootstraps the table with the same audit via a
    * snapshot commit; every later batch goes stage→audit→publish. The
    * oracle is the same batch SQL as stream_silver_equiv: if the gate
    * drops a good row, double-publishes a stage, or leaks a bad one, the
    * hash fails.
    */
  private def streamWapEquiv(spark: SparkSession, dir: String): DataFrame =
    runWapGatedDrain(spark, landingFor(spark, dir), Scratch.dir("stream_wap"))

  /** The WAP-gated drain itself, rooted explicitly so StreamingOpsSpec
    * can walk the resulting table's version history and quarantine.
    * Returns the ordered curated rows; the table lands at
    * `<root>/curated`, violations at `<root>/quarantine`.
    */
  def runWapGatedDrain(spark: SparkSession, landing: String,
      root: String): DataFrame = {
    import graft.sources.Lake
    val table = s"$root/curated"
    val quarantine = s"$root/quarantine"
    val ckpt = s"$root/ckpt"
    val ok = lower(trim(col("quality_flag"))).isin("good", "suspect")
    val q = Ingest.bronzeStream(spark, landing, Some(2))
      .writeStream
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        // orphan sweep: a crash between a dirty batch's stageAppend and
        // its abortStaged leaves a stage no replay would reclaim (the
        // replay derives a FRESH stage id), so it would stay a vacuum
        // live-root forever. This sink is the table's only writer and a
        // clean batch always ends published-or-aborted, so ANY staged
        // entry seen at micro-batch start is a pre-crash leftover —
        // abort it before (re)doing the batch's work.
        if (fs.exists(new org.apache.hadoop.fs.Path(table, "_graft_versions")))
          Lake.listStaged(spark, table).foreach(Lake.abortStaged(spark, table, _))
        // crash-replay gate (exactly-once): a micro-batch whose id is
        // already in a manifest re-runs only if its sink commit was
        // lost — skip before writing a byte, like appendVersioned's gate
        if (fs.exists(new org.apache.hadoop.fs.Path(table, "_graft_versions"))
            && Lake.streamBatchCommitted(spark, table, bid)) ()
        else {
          val projected = batch.select(col("device_id"), col("location_id"),
            col("timestamp").cast("timestamp").as("timestamp"),
            col("sensor_type"), col("quality_flag"), col("unit"), col("value"))
          // quarantine writes land in a PER-BATCH subdir with overwrite
          // semantics: a crash between the quarantine write and the
          // table commit replays the batch, and an append-mode write
          // would double its violation rows — overwrite replays
          // byte-identically instead
          val qDir = s"$quarantine/batch=$bid"
          if (!fs.exists(new org.apache.hadoop.fs.Path(table, "_graft_versions"))) {
            // batch 0: same audit, snapshot commit (no table to stage into yet)
            projected.filter(!ok).write.mode("overwrite").parquet(qDir)
            Lake.writeVersioned(spark, projected.filter(ok), table,
              streamBatchId = Some(bid))
            ()
          } else {
            val sid = Lake.stageAppend(spark, projected, table)
            val staged = Lake.readStagedBatch(spark, table, sid)
            if (staged.filter(!ok).limit(1).count() > 0L) {
              // audit failed: quarantine the violations, abort the dirty
              // stage, restage the clean subset — the published table
              // never held a bad row at any point
              staged.filter(!ok).write.mode("overwrite").parquet(qDir)
              Lake.abortStaged(spark, table, sid)
              val clean = Lake.stageAppend(spark, projected.filter(ok), table)
              Lake.publishStaged(spark, table, clean,
                streamBatchId = Some(bid))
            } else Lake.publishStaged(spark, table, sid,
              streamBatchId = Some(bid))
            ()
          }
        }
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    Lake.readVersioned(spark, table)
      .orderBy("device_id", "location_id", "timestamp", "sensor_type",
        "quality_flag", "unit", "value")
  }

  private def wapOracle =
    s"""SELECT concat('dev-', user_id) AS device_id,
       |       concat('loc-', user_id % 5) AS location_id,
       |       ts AS "timestamp",
       |       event_type AS sensor_type,
       |       $qualityCaseSql AS quality_flag,
       |       'C' AS unit,
       |       value
       |FROM events
       |WHERE lower(trim($qualityCaseSql)) IN ('good', 'suspect')
       |ORDER BY device_id, location_id, "timestamp", sensor_type,
       |         quality_flag, unit, value""".stripMargin

  private def streamSilverEquiv(spark: SparkSession, dir: String): DataFrame = {
    val landing = landingFor(spark, dir)
    val root = Scratch.dir("stream_silver")
    val silver = s"$root/silver"
    val ckpt = s"$root/ckpt"
    // two micro-batches minimum (4 files / 2 per trigger): the second
    // trigger reads INCREMENTALLY from the checkpointed offset (A2)
    Ingest.runSilverPipeline(spark, landing, silver, ckpt,
      maxFilesPerTrigger = Some(2))
    // re-drain over the SAME checkpoint: exactly-once means zero new rows
    // — a duplicate would break the row-count and hash compare below
    Ingest.runSilverPipeline(spark, landing, silver, ckpt)
    spark.read.parquet(silver)
      .orderBy("device_id", "location_id", "timestamp", "sensor_type",
        "quality_flag", "unit", "value")
  }

  private val silverOracle =
    s"""SELECT concat('dev-', user_id) AS device_id,
       |       concat('loc-', user_id % 5) AS location_id,
       |       ts AS "timestamp",
       |       event_type AS sensor_type,
       |       $qualityCaseSql AS quality_flag,
       |       'C' AS unit,
       |       value
       |FROM events
       |WHERE lower(trim($qualityCaseSql)) IN ('good', 'suspect')
       |ORDER BY device_id, location_id, "timestamp", sensor_type,
       |         quality_flag, unit, value""".stripMargin

  private def streamGoldIncremental(spark: SparkSession, dir: String): DataFrame = {
    val landing = landingFor(spark, dir)
    val root = Scratch.dir("stream_gold")
    val silver = s"$root/silver"
    val gold = s"$root/gold"
    val ckpt = s"$root/ckpt"
    // two files per trigger → 2 micro-batches, each committing silver
    // (appendVersioned, exactly-once by batch id) and folding the gold
    // aggregate incrementally through the change feed (A29+A30) — the
    // second fold rides a non-trivial watermark, which is the incremental
    // evidence; more batches would only re-measure the same path
    Ingest.runContinuousSilverGoldPipeline(spark, landing, silver, gold,
      ckpt, maxFilesPerTrigger = Some(2))
    graft.sources.Lake.readVersioned(spark, gold)
      .select(col("location_id"), col("sensor_type"), col("n_events"),
        // exact-cents BIGINT: the fold accumulates doubles, so compare the
        // sum in integer cents (values carry 2 decimals; accumulated FP
        // error ≪ half a cent) instead of racing DuckDB to the last ulp
        round(col("value") * 100).cast("bigint").as("value_cents"))
      .orderBy("location_id", "sensor_type")
  }

  private val goldOracle =
    s"""SELECT concat('loc-', user_id % 5) AS location_id,
       |       event_type AS sensor_type,
       |       CAST(count(*) AS BIGINT) AS n_events,
       |       CAST(round(sum(value) * 100) AS BIGINT) AS value_cents
       |FROM events
       |WHERE lower(trim($qualityCaseSql)) IN ('good', 'suspect')
       |GROUP BY 1, 2
       |ORDER BY location_id, sensor_type""".stripMargin

  // ---------------------------------------------------------------------
  // STATEFUL streaming differentials (round 13 second wave). The three
  // rows below give the stateful operators — dropDuplicatesWithinWatermark,
  // stream-stream interval join, session windows — the same driver-oracle
  // treatment the stateless silver path got: a deterministic landing
  // derived from `events`, a multi-batch AvailableNow drain, and a DuckDB
  // batch oracle that recomputes the expected answer from `events` alone.
  // Determinism rules each row leans on:
  //  - dedup: duplicate copies are IDENTICAL rows, so the drained set is
  //    order-insensitive (first-occurrence vs any-occurrence is the same
  //    row); a generous horizon keeps the bounded drain from evicting
  //    state mid-run (eviction itself is spec-pinned, StreamingOpsSpec);
  //  - join: INNER matches emit as soon as both sides are buffered —
  //    emission never waits on the watermark, so batch split points
  //    can't change the result (outer-null timing, which IS
  //    watermark-dependent, stays spec-pinned);
  //  - sessions: emission DOES wait on the watermark, so the landing ends
  //    with two sentinel files written strictly later (mod-time + path
  //    order) — sentinel 1 advances the watermark past every real
  //    session's end, sentinel 2 runs a batch under that watermark and
  //    flushes them all. One-batch watermark lag is exactly why there
  //    are two.
  // ---------------------------------------------------------------------

  private val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  private def jsonStream(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val r = spark.readStream.schema(schema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.json(dir)
  }

  private def drainToParquet(df: DataFrame, sink: String,
      ckpt: String, shards: Int = 8): Unit = {
    // stateful operators shard their state store BY SHUFFLE PARTITION,
    // and every micro-batch commits every shard: at the bench's 32
    // partitions a 3-batch drain pays ~100 store commits of pure
    // overhead for KB of state. 8 shards keeps the differential rows'
    // cost in the operator, not the store; stream-stream JOINS commit
    // FOUR stores per shard (keyToNumValues + keyWithIndexToValue per
    // side), so the join rows drop to 2. (Production sizing is the
    // opposite knob — shards ∝ state volume; StreamingOpsSpec covers
    // semantics at the session default.)
    val spark = df.sparkSession
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", shards.toString)
    try {
      val q = df.writeStream.format("parquet")
        .option("path", sink).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // ---- stream_dedup_equiv: dropDuplicatesWithinWatermark ----------------

  private val dedupLandings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def dedupLandingFor(spark: SparkSession, dir: String): String =
    dedupLandings.computeIfAbsent(dir, _ => {
      val l = Scratch.dir("stream_dedup_landing")
      val base = Tables.events(spark, dir).select(
        col("event_id"),
        date_format(col("ts"), tsFmt).as("ts"),
        col("user_id"), col("value"))
      // originals first (3 files), duplicate copies of every third event
      // in a SECOND write job (later mod-time files): the duplicates land
      // in later micro-batches than their originals, so suppressing them
      // requires the dedup state to survive across batches
      base.repartitionByRange(3, col("event_id")).write.json(l)
      base.filter(col("event_id") % 3 === 0).repartition(2)
        .write.mode("append").json(l)
      l
    })

  private val dedupSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType)))

  private def streamDedupEquiv(spark: SparkSession, dir: String): DataFrame = {
    val landing = dedupLandingFor(spark, dir)
    val root = Scratch.dir("stream_dedup")
    val typed = jsonStream(spark, landing, dedupSchema, Some(2))
      .withColumn("ts", col("ts").cast("timestamp"))
    // horizon far beyond the fixture's one-month span: nothing is evicted
    // or late-dropped during the bounded drain, so the output is exactly
    // one row per event_id no matter how the files split into batches
    drainToParquet(
      StreamAggs.dedupWithinWatermark(typed, horizon = "8760 hours"),
      s"$root/sink", s"$root/ckpt", shards = 4)
    spark.read.parquet(s"$root/sink")
      .orderBy("event_id", "ts", "user_id", "value")
  }

  private val dedupOracle =
    """SELECT event_id, ts, user_id, value FROM events
      |ORDER BY event_id, ts, user_id, value""".stripMargin

  // ---- stream_join_equiv: stream-stream interval join (inner) -----------

  private val joinLandings =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def joinLandingsFor(spark: SparkSession,
      dir: String): (String, String) =
    joinLandings.computeIfAbsent(dir, _ => {
      val ev = Tables.events(spark, dir)
      val vDir = Scratch.dir("stream_join_views")
      val pDir = Scratch.dir("stream_join_purch")
      ev.select(col("user_id"), date_format(col("ts"), tsFmt).as("view_ts"))
        .repartitionByRange(2, col("user_id")).write.json(vDir)
      // every 29th event becomes a purchase half an hour after its view,
      // so each purchase window [ts-30m, ts+30m] holds at least one view
      ev.filter(col("event_id") % 29 === 0)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          date_format(col("ts") + expr("INTERVAL 30 MINUTES"), tsFmt)
            .as("purchase_ts"))
        .repartitionByRange(2, col("purchase_id")).write.json(pDir)
      (vDir, pDir)
    })

  private val viewSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("view_ts",
      org.apache.spark.sql.types.StringType)))

  private val purchaseSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("purchase_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("purchase_ts",
      org.apache.spark.sql.types.StringType)))

  private def streamJoinEquiv(spark: SparkSession, dir: String): DataFrame = {
    val (vDir, pDir) = joinLandingsFor(spark, dir)
    val root = Scratch.dir("stream_join")
    // multi-batch evidence rides the VIEWS side (2 files, 1/trigger);
    // the purchase side drains whole — fewer triggers, same cross-batch
    // buffered-state join
    val views = jsonStream(spark, vDir, viewSchema, Some(1))
      .withColumn("view_ts", col("view_ts").cast("timestamp"))
    val purchases = jsonStream(spark, pDir, purchaseSchema, None)
      .withColumn("purchase_ts", col("purchase_ts").cast("timestamp"))
    // inner join: every matched pair emits exactly once as soon as both
    // rows are buffered, independent of watermark progress; the 10-year
    // lateness keeps the bounded drain from evicting either side's state
    // (eviction under tight lateness is StreamingOpsSpec's job)
    drainToParquet(
      StreamAggs.purchaseViewJoin(views, purchases, joinType = "inner",
        viewLateness = "87600 hours", purchaseLateness = "87600 hours"),
      s"$root/sink", s"$root/ckpt", shards = 2)
    spark.read.parquet(s"$root/sink")
      .orderBy("purchase_id", "view_ts")
  }

  private val joinOracle =
    """SELECT p.event_id AS purchase_id, p.user_id,
      |       p.ts + INTERVAL 30 MINUTE AS purchase_ts,
      |       v.ts AS view_ts
      |FROM events p
      |JOIN events v
      |  ON p.user_id = v.user_id
      | AND v.ts >= p.ts - INTERVAL 30 MINUTE
      | AND v.ts <= p.ts + INTERVAL 30 MINUTE
      |WHERE p.event_id % 29 = 0
      |ORDER BY purchase_id, view_ts""".stripMargin

  // ---- stream_outer_join_equiv: stream-stream LEFT OUTER join ------------
  //
  // The outer variant is a genuinely different state machine from the
  // inner row above: an unmatched left (purchase) row can only emit its
  // NULL-padded result when the WATERMARK proves no matching view can
  // still arrive — so this drain needs the sessions row's two-sentinel
  // protocol (advance, then one more batch to evict-and-emit), where the
  // inner join needed none. Half the purchases are rewritten to a user id
  // that exists in no view (+1e6 — below the ×10 replica's 1e10 key
  // offsets, so never a real user at any replication), giving a
  // deterministic matched/unmatched mix. The views stream is the %3
  // event sample, not the full table: the outer join must buffer EVERY
  // view until the watermark passes it (the equivalence fixture spans
  // days, so state = the whole stream) and the sample keeps that bounded
  // — though profiling showed the drain's cost is per-MICRO-BATCH fixed
  // overhead, not state volume (a 1-row batch still costs ~0.75 s:
  // ~0.5 s addBatch incl. the full-state eviction scan + sink commit,
  // plus planning/offset-log writes), so the wall-clock levers are batch
  // COUNT (2 files/trigger: (d,d)(s1,s2)(evict) instead of five) and
  // store-commit fan-out (2 shards × 4 join stores, not 8 × 4). The
  // unmatched (NULL-padded) class also gets RICHER under the sample,
  // since purchases whose views all fall outside it now evict unmatched.

  private val outerJoinLandings =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def outerJoinLandingsFor(spark: SparkSession,
      dir: String): (String, String) =
    outerJoinLandings.computeIfAbsent(dir, _ => {
      val ev = Tables.events(spark, dir)
      val vDir = Scratch.dir("stream_ojoin_views")
      val pDir = Scratch.dir("stream_ojoin_purch")
      ev.filter(col("event_id") % 3 === 0)
        .select(col("user_id"), date_format(col("ts"), tsFmt).as("view_ts"))
        .repartitionByRange(2, col("user_id")).write.json(vDir)
      ev.filter(col("event_id") % 29 === 0)
        .select(col("event_id").as("purchase_id"),
          when(col("event_id") % 58 === 0, col("user_id") + 1000000L)
            .otherwise(col("user_id")).as("user_id"),
          date_format(col("ts") + expr("INTERVAL 30 MINUTES"), tsFmt)
            .as("purchase_ts"))
        .repartitionByRange(2, col("purchase_id")).write.json(pDir)
      Thread.sleep(1100)
      // sentinels on BOTH streams: the query watermark is the MIN across
      // sources, so a lagging side would hold every outer row hostage.
      // Fixed calendar sentinels are replica-safe here (the ×10 replica
      // offsets event_id/user_id, never ts — the sessions row's proven
      // regime), unlike the CDC rows whose commit-ts derives from event_id.
      def sentinel(d: String, name: String, json: String): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(d, name), json.getBytes("UTF-8"))
      sentinel(vDir, "zz-sentinel-1.json",
        """{"user_id":-1,"view_ts":"2030-01-01 00:00:00.000000"}""")
      sentinel(pDir, "zz-sentinel-1.json",
        """{"purchase_id":-1,"user_id":-2,"purchase_ts":"2030-01-01 00:00:00.000000"}""")
      Thread.sleep(20)
      sentinel(vDir, "zz-sentinel-2.json",
        """{"user_id":-1,"view_ts":"2031-01-01 00:00:00.000000"}""")
      sentinel(pDir, "zz-sentinel-2.json",
        """{"purchase_id":-2,"user_id":-2,"purchase_ts":"2031-01-01 00:00:00.000000"}""")
      (vDir, pDir)
    })

  private def streamOuterJoinEquiv(spark: SparkSession, dir: String): DataFrame = {
    val (vDir, pDir) = outerJoinLandingsFor(spark, dir)
    val root = Scratch.dir("stream_ojoin")
    // views at 2 files/trigger → (d,d)(s1,s2)(evict): the sentinel batch
    // advances the watermark past every real ts + the 1 h join window by
    // years (720 h lateness), and the engine's required follow-up batch
    // (lastExecutionRequiresAnotherBatch — AvailableNow keeps running
    // until watermark-dependent state is flushed) is where expired
    // unmatched purchases evict and emit their NULL rows; purchases drain
    // whole in batch 0. Three batches, not five — per-batch fixed
    // overhead is this drain's real cost (see the header comment).
    val views = jsonStream(spark, vDir, viewSchema, Some(2))
      .withColumn("view_ts", col("view_ts").cast("timestamp"))
    val purchases = jsonStream(spark, pDir, purchaseSchema, None)
      .withColumn("purchase_ts", col("purchase_ts").cast("timestamp"))
    drainToParquet(
      StreamAggs.purchaseViewJoin(views, purchases, joinType = "leftOuter",
        viewLateness = "720 hours", purchaseLateness = "720 hours"),
      s"$root/sink", s"$root/ckpt", shards = 2)
    spark.read.parquet(s"$root/sink")
      .filter(col("purchase_id") >= 0)
      .orderBy(col("purchase_id"), col("view_ts").asc_nulls_last)
  }

  private val outerJoinOracle =
    """WITH p AS (
      |  SELECT event_id AS purchase_id,
      |         CASE WHEN event_id % 58 = 0 THEN user_id + 1000000
      |              ELSE user_id END AS user_id,
      |         ts + INTERVAL 30 MINUTE AS purchase_ts
      |  FROM events WHERE event_id % 29 = 0)
      |SELECT p.purchase_id, p.user_id, p.purchase_ts, v.ts AS view_ts
      |FROM p
      |LEFT JOIN events v
      |  ON v.user_id = p.user_id
      | AND v.event_id % 3 = 0
      | AND v.ts >= p.purchase_ts - INTERVAL 1 HOUR
      | AND v.ts <= p.purchase_ts
      |ORDER BY purchase_id, view_ts NULLS LAST""".stripMargin

  // ---- stream_full_outer_join_equiv: stream-stream FULL OUTER join ------
  //
  // The symmetric state machine: BOTH buffers evict-and-emit on watermark
  // — unmatched purchases pad the view side with NULLs (as in leftOuter)
  // AND unmatched views pad the purchase side, so the output carries
  // three row classes at once. Same landing, drain shape (3 batches,
  // 2 shards), and sentinel protocol as the left-outer row; the sentinel
  // rows surface as unmatched-view/-purchase emissions here and are
  // excluded by their negative user ids (every real or rewritten user id
  // is >= 0). Output volume is views-sized (every unmatched view emits),
  // which is the honest cost of fullOuter at any scale — the row's time
  // is sink-write-proportional, not state-proportional.

  private def streamFullOuterJoinEquiv(spark: SparkSession,
      dir: String): DataFrame = {
    val (vDir, pDir) = outerJoinLandingsFor(spark, dir)
    val root = Scratch.dir("stream_fojoin")
    val views = jsonStream(spark, vDir, viewSchema, Some(2))
      .withColumn("view_ts", col("view_ts").cast("timestamp"))
    val purchases = jsonStream(spark, pDir, purchaseSchema, None)
      .withColumn("purchase_ts", col("purchase_ts").cast("timestamp"))
    drainToParquet(
      StreamAggs.purchaseViewJoin(views, purchases, joinType = "fullOuter",
        viewLateness = "720 hours", purchaseLateness = "720 hours"),
      s"$root/sink", s"$root/ckpt", shards = 2)
    spark.read.parquet(s"$root/sink")
      .filter(col("user_id") >= 0)
      .orderBy(col("purchase_id").asc_nulls_last, col("user_id"),
        col("view_ts").asc_nulls_last)
  }

  private val fullOuterJoinOracle =
    """WITH p AS (
      |  SELECT event_id AS purchase_id,
      |         CASE WHEN event_id % 58 = 0 THEN user_id + 1000000
      |              ELSE user_id END AS user_id,
      |         ts + INTERVAL 30 MINUTE AS purchase_ts
      |  FROM events WHERE event_id % 29 = 0),
      |v AS (
      |  SELECT user_id, ts AS view_ts FROM events WHERE event_id % 3 = 0)
      |SELECT p.purchase_id,
      |       COALESCE(p.user_id, v.user_id) AS user_id,
      |       p.purchase_ts, v.view_ts
      |FROM p
      |FULL JOIN v
      |  ON v.user_id = p.user_id
      | AND v.view_ts >= p.purchase_ts - INTERVAL 1 HOUR
      | AND v.view_ts <= p.purchase_ts
      |ORDER BY purchase_id NULLS LAST, user_id, view_ts NULLS LAST""".stripMargin

  // ---- stream_semi_join_equiv: stream-stream LEFT SEMI join -------------
  //
  // The join-as-FILTER state machine: a purchase passes iff at least one
  // view lands in its window, and it is emitted ONCE however many views
  // match — so unlike inner (one row per match) or the outer variants
  // (NULL padding), the output is a SUBSET of the left stream. Emission
  // happens at the first match, which makes the output SET independent
  // of batch split points (no watermark dependence for the positive
  // class); the sentinel protocol is still needed so the drain's state
  // doesn't hold the run open. Same landing + drain shape as the other
  // join rows; half the purchases are keyed to a user no view can match
  // (the +1e6 rewrite), giving the filter a real reject class.

  private def streamSemiJoinEquiv(spark: SparkSession, dir: String): DataFrame = {
    val (vDir, pDir) = outerJoinLandingsFor(spark, dir)
    val root = Scratch.dir("stream_sjoin")
    val views = jsonStream(spark, vDir, viewSchema, Some(2))
      .withColumn("view_ts", col("view_ts").cast("timestamp"))
    val purchases = jsonStream(spark, pDir, purchaseSchema, None)
      .withColumn("purchase_ts", col("purchase_ts").cast("timestamp"))
    drainToParquet(
      StreamAggs.purchaseViewJoin(views, purchases, joinType = "leftSemi",
        viewLateness = "720 hours", purchaseLateness = "720 hours"),
      s"$root/sink", s"$root/ckpt", shards = 2)
    spark.read.parquet(s"$root/sink")
      .filter(col("purchase_id") >= 0)
      .orderBy("purchase_id")
  }

  private val semiJoinOracle =
    """WITH p AS (
      |  SELECT event_id AS purchase_id,
      |         CASE WHEN event_id % 58 = 0 THEN user_id + 1000000
      |              ELSE user_id END AS user_id,
      |         ts + INTERVAL 30 MINUTE AS purchase_ts
      |  FROM events WHERE event_id % 29 = 0)
      |SELECT p.purchase_id, p.user_id, p.purchase_ts
      |FROM p
      |WHERE EXISTS (
      |  SELECT 1 FROM events v
      |  WHERE v.event_id % 3 = 0
      |    AND v.user_id = p.user_id
      |    AND v.ts >= p.purchase_ts - INTERVAL 1 HOUR
      |    AND v.ts <= p.purchase_ts)
      |ORDER BY purchase_id""".stripMargin

  // ---- stream_anti_join_equiv: stream-stream LEFT ANTI join -------------
  //
  // The decontamination shape — purchases with NO view in the window —
  // and the semi row's complement: together they partition the left
  // stream. Spark has no native stream-stream leftAnti (the planner
  // rejects it), so the row is the watermark-correct COMPOSITION:
  // leftOuter join, then a stateless IS NULL filter on the padded side.
  // Semantically exact, not an approximation — an unmatched purchase's
  // NULL-padded row emits only when the watermark proves no matching
  // view can still arrive, which is precisely anti-join eviction; the
  // filter then passes exactly those rows. A purchase with >= 1 match
  // emits only matched (non-NULL) rows, all dropped by the filter. Same
  // landing, sentinels, 3-batch/2-shard drain as the rest of the family.

  private def streamAntiJoinEquiv(spark: SparkSession, dir: String): DataFrame = {
    val (vDir, pDir) = outerJoinLandingsFor(spark, dir)
    val root = Scratch.dir("stream_ajoin")
    val views = jsonStream(spark, vDir, viewSchema, Some(2))
      .withColumn("view_ts", col("view_ts").cast("timestamp"))
    val purchases = jsonStream(spark, pDir, purchaseSchema, None)
      .withColumn("purchase_ts", col("purchase_ts").cast("timestamp"))
    val anti = StreamAggs.purchaseViewJoin(views, purchases,
      joinType = "leftOuter",
      viewLateness = "720 hours", purchaseLateness = "720 hours")
      .filter(col("view_ts").isNull)
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"))
    drainToParquet(anti, s"$root/sink", s"$root/ckpt", shards = 2)
    spark.read.parquet(s"$root/sink")
      .filter(col("purchase_id") >= 0)
      .orderBy("purchase_id")
  }

  private val antiJoinOracle =
    """WITH p AS (
      |  SELECT event_id AS purchase_id,
      |         CASE WHEN event_id % 58 = 0 THEN user_id + 1000000
      |              ELSE user_id END AS user_id,
      |         ts + INTERVAL 30 MINUTE AS purchase_ts
      |  FROM events WHERE event_id % 29 = 0)
      |SELECT p.purchase_id, p.user_id, p.purchase_ts
      |FROM p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM events v
      |  WHERE v.event_id % 3 = 0
      |    AND v.user_id = p.user_id
      |    AND v.ts >= p.purchase_ts - INTERVAL 1 HOUR
      |    AND v.ts <= p.purchase_ts)
      |ORDER BY purchase_id""".stripMargin

  // ---- stream_right_outer_join_equiv: stream-stream RIGHT OUTER join ----
  //
  // The left-outer row's mirror: unmatched VIEWS (the right/build side)
  // emit purchase-NULL-padded rows on watermark eviction, while every
  // matched pair emits as in inner — fullOuter minus the unmatched-
  // purchase class. Output is views-sized (every unmatched view emits),
  // the same honest sink-write cost as fullOuter. The coalesce in
  // purchaseViewJoin keeps the view's user identity on padded rows, and
  // the sentinel emissions are excluded by their negative user ids.

  private def streamRightOuterJoinEquiv(spark: SparkSession,
      dir: String): DataFrame = {
    val (vDir, pDir) = outerJoinLandingsFor(spark, dir)
    val root = Scratch.dir("stream_rojoin")
    val views = jsonStream(spark, vDir, viewSchema, Some(2))
      .withColumn("view_ts", col("view_ts").cast("timestamp"))
    val purchases = jsonStream(spark, pDir, purchaseSchema, None)
      .withColumn("purchase_ts", col("purchase_ts").cast("timestamp"))
    drainToParquet(
      StreamAggs.purchaseViewJoin(views, purchases, joinType = "rightOuter",
        viewLateness = "720 hours", purchaseLateness = "720 hours"),
      s"$root/sink", s"$root/ckpt", shards = 2)
    spark.read.parquet(s"$root/sink")
      .filter(col("user_id") >= 0)
      .orderBy(col("purchase_id").asc_nulls_last, col("user_id"),
        col("view_ts"))
  }

  private val rightOuterJoinOracle =
    """WITH p AS (
      |  SELECT event_id AS purchase_id,
      |         CASE WHEN event_id % 58 = 0 THEN user_id + 1000000
      |              ELSE user_id END AS user_id,
      |         ts + INTERVAL 30 MINUTE AS purchase_ts
      |  FROM events WHERE event_id % 29 = 0),
      |v AS (
      |  SELECT user_id, ts AS view_ts FROM events WHERE event_id % 3 = 0)
      |SELECT p.purchase_id,
      |       COALESCE(p.user_id, v.user_id) AS user_id,
      |       p.purchase_ts, v.view_ts
      |FROM p
      |RIGHT JOIN v
      |  ON v.user_id = p.user_id
      | AND v.view_ts >= p.purchase_ts - INTERVAL 1 HOUR
      | AND v.view_ts <= p.purchase_ts
      |ORDER BY purchase_id NULLS LAST, user_id, view_ts""".stripMargin

  // ---- stream_static_join_equiv: stream-static broadcast enrichment -----
  //
  // The most common production streaming shape: a fact stream enriched
  // against a STATIC dimension table (stream-static joins are STATELESS —
  // each micro-batch joins against the dim snapshot independently, no
  // state store, no watermark). The static side is small-dim-sized, so it
  // must BROADCAST inside every micro-batch plan (BroadcastHashJoin, not a
  // per-batch shuffle of the dim) — at 100 TB/day of events the dim
  // broadcast is what keeps enrichment a map-only pipeline. Two
  // micro-batches (maxFilesPerTrigger=2 over 3 landing files) prove the
  // enrichment is incremental; statelessness means the split points
  // cannot change the result.

  private val staticJoinLandings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def staticJoinLandingFor(spark: SparkSession, dir: String): String =
    staticJoinLandings.computeIfAbsent(dir, _ => {
      val l = Scratch.dir("stream_sjoin_landing")
      Tables.events(spark, dir).select(
        col("event_id"),
        date_format(col("ts"), tsFmt).as("ts"),
        col("user_id"), col("event_type"), col("value"))
        .repartitionByRange(3, col("event_id")).write.json(l)
      l
    })

  private def streamStaticJoinEquiv(spark: SparkSession,
      dir: String): DataFrame = {
    val landing = staticJoinLandingFor(spark, dir)
    val root = Scratch.dir("stream_sjoin")
    val customers = broadcast(Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey")))
    val enriched = jsonStream(spark, landing, staticJoinSchema, Some(2))
      .withColumn("ts", col("ts").cast("timestamp"))
      .filter(col("event_type").isin("click", "view", "purchase"))
      .join(customers, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"),
        col("c_mktsegment").as("segment"),
        col("c_nationkey").cast("long").as("nation_key"))
    drainToParquet(enriched, s"$root/sink", s"$root/ckpt")
    spark.read.parquet(s"$root/sink").orderBy("event_id")
  }

  private val staticJoinSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType)))

  private val staticJoinOracle =
    """SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
      |       c.c_mktsegment AS segment,
      |       CAST(c.c_nationkey AS BIGINT) AS nation_key
      |FROM events e
      |JOIN customer c ON e.user_id = c.c_custkey
      |WHERE e.event_type IN ('click', 'view', 'purchase')
      |ORDER BY event_id""".stripMargin

  // ---- stream_sessions_equiv: session windows under the watermark -------

  private val sessionLandings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def sessionLandingFor(spark: SparkSession, dir: String): String =
    sessionLandings.computeIfAbsent(dir, _ => {
      val l = Scratch.dir("stream_session_landing")
      Tables.events(spark, dir)
        .select(date_format(col("ts"), tsFmt).as("ts"), col("user_id"),
          col("value"))
        .repartitionByRange(3, col("ts")).write.json(l)
      // sentinels strictly AFTER the data files in both mod-time (the
      // sleep clears coarse-mtime filesystems) and path order: if one ran
      // first, its watermark would late-drop every real event
      Thread.sleep(1100)
      def sentinel(name: String, ts: String): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(l, name),
          s"""{"ts":"$ts","user_id":-1,"value":0.0}""".getBytes("UTF-8"))
      sentinel("zz-sentinel-1.json", "2030-01-01 00:00:00.000000")
      Thread.sleep(20)
      sentinel("zz-sentinel-2.json", "2031-01-01 00:00:00.000000")
      l
    })

  private val sessionSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType)))

  private def streamSessionsEquiv(spark: SparkSession, dir: String): DataFrame = {
    val landing = sessionLandingFor(spark, dir)
    val root = Scratch.dir("stream_sessions")
    // 3 data files + 2 sentinels at 2 files/trigger → 3 micro-batches
    // (d,d)(d,s1)(s2): still multi-batch session merging, still a batch
    // AFTER the watermark-advancing sentinel, half the trigger overhead
    val typed = jsonStream(spark, landing, sessionSchema, Some(2))
      .withColumn("ts", col("ts").cast("timestamp"))
    // generous lateness so no real event is ever late during the drain;
    // sentinel 1 (2030) still lands the watermark years past every real
    // session end, and sentinel 2's batch flushes them all (append-mode
    // session_window emits only windows the watermark has closed)
    drainToParquet(
      StreamAggs.sessionize(typed, gap = "30 minutes", lateness = "720 hours"),
      s"$root/sink", s"$root/ckpt", shards = 4)
    spark.read.parquet(s"$root/sink")
      .filter(col("user_id") >= 0)
      .orderBy("user_id", "session_start")
  }

  private val sessionsOracle =
    """WITH flags AS (
      |  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents,
      |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
      |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
      |              THEN 1 ELSE 0 END AS is_break
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |sessions AS (
      |  SELECT *, sum(is_break) OVER (PARTITION BY user_id ORDER BY ts
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flags)
      |SELECT user_id, min(ts) AS session_start,
      |       max(ts) + INTERVAL 30 MINUTE AS session_end,
      |       count(*) AS n_events,
      |       CAST(sum(cents) AS BIGINT) AS session_cents
      |FROM sessions GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // ---- stream_sliding_window_equiv: overlapping event-time windows ------
  //
  // The plain windowed aggregation the family was missing: session_window
  // (data-driven bounds) and the incremental gold fold are covered, but
  // not `window(ts, length, slide)` — the fixed-grid shape with OVERLAP
  // fan-out (1 h / 15 min: every event belongs to exactly 4 windows) and
  // append-mode emission gated on watermark closure. State is one
  // aggregate row per OPEN window (bounded by length/slide × the live
  // horizon, never the corpus); the fan-out happens map-side before the
  // shuffle, so the shuffle carries 4× pre-aggregated partials, not raw
  // events. Reuses the sessions landing (events + the two watermark
  // sentinels); sentinel windows land in 2030/2031 and are excluded by a
  // post-sink calendar filter — their ONLY job is advancing the
  // watermark so every real window closes and emits.

  private def streamSlidingWindowEquiv(spark: SparkSession,
      dir: String): DataFrame = {
    val landing = sessionLandingFor(spark, dir)
    val root = Scratch.dir("stream_swin")
    val typed = jsonStream(spark, landing, sessionSchema, Some(2))
      .withColumn("ts", col("ts").cast("timestamp"))
    val agg = typed
      .withWatermark("ts", "720 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100).cast("long")).as("win_cents"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("n_events"), col("win_cents"))
    drainToParquet(agg, s"$root/sink", s"$root/ckpt", shards = 4)
    spark.read.parquet(s"$root/sink")
      .filter(col("window_start") < lit("2029-01-01").cast("timestamp"))
      .orderBy("window_start")
  }

  // Window grid replay: Spark's window() aligns to the epoch, so an
  // event at ts belongs to the 4 slide-aligned starts in (ts-1h, ts] —
  // derived in exact INTEGER micros (epoch_us // slide), never float
  // seconds. Sentinels (user_id = -1, ts in 2030/2031) are counted into
  // their own far-future windows only, which the calendar filter drops
  // on both engines.
  private val slidingWindowOracle =
    """WITH e AS (
      |  SELECT ts, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |w AS (
      |  SELECT make_timestamp((epoch_us(ts) // 900000000 - k.k)
      |           * 900000000) AS window_start,
      |         cents
      |  FROM e, (VALUES (0), (1), (2), (3)) k(k))
      |SELECT window_start,
      |       window_start + INTERVAL 1 HOUR AS window_end,
      |       count(*) AS n_events,
      |       CAST(sum(cents) AS BIGINT) AS win_cents
      |FROM w
      |WHERE window_start < TIMESTAMP '2029-01-01'
      |GROUP BY window_start
      |ORDER BY window_start""".stripMargin

  // ---- stream_chained_equiv: two stateful operators in ONE query --------
  //
  // Spark-4 multi-stateful support: a time-interval stream-stream JOIN
  // feeding a tumbling-window AGGREGATE inside a single streaming query —
  // the first shape a real pipeline composes, and the one every current
  // stream row avoids (each has exactly one stateful operator).
  //
  // Watermark-delay algebra across the two operators: with lateness L on
  // both inputs and join condition view_ts ∈ [purchase_ts − 1h,
  // purchase_ts], the join's OUTPUT watermark is min(input watermarks)
  // minus the 1h condition range — Spark's propagation (SPARK-42376)
  // delays the downstream aggregate's late threshold by exactly that
  // range, so a pair emitted late by the join (its view arrived last) is
  // never late FOR THE AGGREGATE. The aggregate then finalizes window W
  // when that propagated watermark passes W.end. The landing makes both
  // ends deterministic the sessions-row way: L = 720h swallows the whole
  // 2024 data span (no real row is ever late, no join state evicts
  // mid-drain), per-side sentinels (2030/2031, mtime-AFTER the data, 3
  // data files + 2 sentinels at 2/trigger → the 2031 sentinel's batch
  // runs with watermark 2030−720h≈2029) land every real window behind
  // the watermark, and the calendar filter drops the sentinels' own
  // windows on both engines. Sentinel users (−1 views, −2 purchases)
  // can never join — they move watermarks only.

  private val chainedLandings =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def chainedLandingsFor(spark: SparkSession,
      dir: String): (String, String) =
    chainedLandings.computeIfAbsent(dir, _ => {
      val ev = Tables.events(spark, dir)
      val vDir = Scratch.dir("stream_chained_views")
      val pDir = Scratch.dir("stream_chained_purch")
      ev.select(col("user_id"), date_format(col("ts"), tsFmt).as("view_ts"))
        .repartitionByRange(3, col("user_id")).write.json(vDir)
      ev.filter(col("event_id") % 29 === 0)
        .select(col("event_id").as("purchase_id"), col("user_id"),
          date_format(col("ts") + expr("INTERVAL 30 MINUTES"), tsFmt)
            .as("purchase_ts"))
        .repartitionByRange(3, col("purchase_id")).write.json(pDir)
      Thread.sleep(1100)
      def sentinel(d: String, name: String, body: String): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(d, name),
          body.getBytes("UTF-8"))
      sentinel(vDir, "zz-sentinel-1.json",
        """{"user_id":-1,"view_ts":"2030-01-01 00:00:00.000000"}""")
      sentinel(pDir, "zz-sentinel-1.json",
        """{"purchase_id":-1,"user_id":-2,"purchase_ts":"2030-01-01 00:00:00.000000"}""")
      Thread.sleep(20)
      sentinel(vDir, "zz-sentinel-2.json",
        """{"user_id":-1,"view_ts":"2031-01-01 00:00:00.000000"}""")
      sentinel(pDir, "zz-sentinel-2.json",
        """{"purchase_id":-2,"user_id":-2,"purchase_ts":"2031-01-01 00:00:00.000000"}""")
      (vDir, pDir)
    })

  private def streamChainedEquiv(spark: SparkSession, dir: String): DataFrame = {
    val (vDir, pDir) = chainedLandingsFor(spark, dir)
    val root = Scratch.dir("stream_chained")
    val views = jsonStream(spark, vDir, viewSchema, Some(2))
      .withColumn("view_ts", col("view_ts").cast("timestamp"))
    val purchases = jsonStream(spark, pDir, purchaseSchema, Some(2))
      .withColumn("purchase_ts", col("purchase_ts").cast("timestamp"))
    val joined = StreamAggs.purchaseViewJoin(views, purchases,
      joinType = "inner",
      viewLateness = "720 hours", purchaseLateness = "720 hours")
    // SECOND stateful operator, same query: attribution pairs per
    // purchase hour, finalized by the join's propagated watermark
    val agg = joined
      .groupBy(window(col("purchase_ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("user_id")).as("sum_uid"))
      .select(col("w.start").as("window_start"),
        col("w.end").as("window_end"), col("n_pairs"), col("sum_uid"))
    drainToParquet(agg, s"$root/sink", s"$root/ckpt", shards = 2)
    spark.read.parquet(s"$root/sink")
      .filter(col("window_start") < lit("2029-01-01").cast("timestamp"))
      .orderBy("window_start")
  }

  // The join replay is the inner-join oracle's; the window replay floors
  // purchase_ts to the epoch-aligned hour in exact integer micros.
  private val chainedOracle =
    """WITH p AS (
      |  SELECT event_id AS purchase_id, user_id,
      |         ts + INTERVAL 30 MINUTE AS purchase_ts
      |  FROM events WHERE event_id % 29 = 0),
      |j AS (
      |  SELECT p.user_id, p.purchase_ts
      |  FROM p JOIN events v
      |    ON p.user_id = v.user_id
      |   AND v.ts >= p.purchase_ts - INTERVAL 1 HOUR
      |   AND v.ts <= p.purchase_ts),
      |w AS (
      |  SELECT make_timestamp((epoch_us(purchase_ts) // 3600000000)
      |           * 3600000000) AS window_start,
      |         user_id
      |  FROM j)
      |SELECT window_start,
      |       window_start + INTERVAL 1 HOUR AS window_end,
      |       count(*) AS n_pairs,
      |       CAST(sum(user_id) AS BIGINT) AS sum_uid
      |FROM w
      |WHERE window_start < TIMESTAMP '2029-01-01'
      |GROUP BY window_start
      |ORDER BY window_start""".stripMargin

  // ---- stream_tws_equiv: transformWithState device health ---------------
  //
  // The Spark-4 arbitrary-state API (StatefulProcessor + typed ValueState
  // handles over the RocksDB store) registered as a driver-oracled row —
  // until now transformWithState had spec coverage only, while its
  // predecessor (flatMapGroupsWithState) carries the CDC rows. The
  // processor is the per-device health fold (suspect counts + trailing
  // streak + score). Determinism by construction: reading timestamps are
  // derived from event_id at MILLISECOND grain (unique per device — the
  // fold sorts each batch by ts.getTime, so a ms-grain tie would make
  // the streak arrival-order-dependent), the landing is range-laid on ts
  // so micro-batches deliver ts-contiguous slices in order, and Update
  // mode emits each device's state per batch — the LAST emission (max
  // batch id) is the final state the oracle recomputes from scratch:
  // trailing streak = suspect readings after the device's last good one.
  // No watermark, no sentinels (TimeMode.None): state lives for the
  // drain and the checkpoint ends with AvailableNow.

  private val twsLandings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def twsLandingFor(spark: SparkSession, dir: String): String =
    twsLandings.computeIfAbsent(dir, _ => {
      val l = Scratch.dir("stream_tws_landing")
      val frame = Tables.events(spark, dir).select(
        concat(lit("dev-"), (col("user_id") % 64).cast("string"))
          .as("device_id"),
        date_format(timestamp_millis(lit(1704067200000L) + col("event_id")),
          tsFmt).as("ts"),
        expr(qualityCaseSql).as("quality_flag"),
        col("value"), col("event_id"))
      // The streak fold is ORDER-DEPENDENT across batches, and
      // FileStreamSource orders files by MODIFICATION TIME — a single
      // range-partitioned write gives all files one mtime and the tie
      // order is listing order, not ts order (bit us at sf0.01: one
      // shuffled batch flips every trailing streak). Write the three
      // ts-contiguous slices SEQUENTIALLY with the sentinel rows'
      // mtime-separation sleeps, so micro-batches always deliver the
      // stream in event-time order. Slice bounds come from the event_id
      // range (ts is a monotone function of event_id by construction).
      val mm = frame.agg(min("event_id"), max("event_id")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val (c1, c2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
      def slice(pred: org.apache.spark.sql.Column): Unit = {
        frame.filter(pred).drop("event_id")
          .coalesce(1).write.mode("append").json(l)
        Thread.sleep(1100)
      }
      slice(col("event_id") <= c1)
      slice(col("event_id") > c1 && col("event_id") <= c2)
      slice(col("event_id") > c2)
      l
    })

  private val twsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("device_id",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("quality_flag",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType)))

  private def streamTwsEquiv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val landing = twsLandingFor(spark, dir)
    val root = Scratch.dir("stream_tws")
    val sink = s"$root/sink"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val savedProvider = spark.conf.getOption(providerKey)
    val shardKey = "spark.sql.shuffle.partitions"
    val savedShards = spark.conf.get(shardKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(shardKey, "4") // one state store per shard (agg-row sizing)
    try {
      val readings = jsonStream(spark, landing, twsSchema, Some(2))
        .select(col("device_id"), col("ts").cast("timestamp").as("timestamp"),
          col("quality_flag"), col("value"))
        .as[StreamAggs.DeviceReading]
      val q = StreamAggs.deviceHealthTws(readings)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamAggs.DeviceHealth],
            bid: Long) =>
          batch.toDF().withColumn("_bid", lit(bid))
            .write.mode("append").parquet(sink)
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      spark.conf.set(shardKey, savedShards)
      savedProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("device_id").orderBy(col("_bid").desc)
    spark.read.parquet(sink)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("device_id"), col("n_total"), col("n_suspect"),
        col("suspect_streak"),
        graft.functions.Canon.roundCanon(col("health_score"), 4)
          .as("health_score"))
      .orderBy("device_id")
  }

  // ---- stream_tws_timer_equiv: event-time timers + idle timeout ----------
  //
  // The transformWithState feature its plain row leaves unexercised:
  // EVENT-TIME TIMERS. Per device the processor re-arms one timer at
  // last-reading + timeout; a device silent past the timeout emits a
  // final DEGRADED record when the watermark passes the timer
  // (StreamAggs.DeviceIdleProcessor). Determinism discipline:
  //  - readings are the event_id % 8 == 0 sample over user_id % 256
  //    devices (sparse per device, so the last-reading spread straddles
  //    the cut and BOTH verdicts appear at both SFs);
  //  - timeout T = span/4 and the sentinel watermark sits at
  //    quantize(base + hi + span/8) + 30s: a device is DEGRADED iff its
  //    timer (minute-quantized) < that watermark — and because timers
  //    land on minute boundaries while the watermark sits MID-minute,
  //    Spark's <-vs-<= eviction boundary is unobservable;
  //  - TWO sentinel slices: sentinel A carries the watermark value,
  //    sentinel B forms the batch DURING which (wm = A's ts) the timers
  //    fire — AvailableNow needs a batch after the watermark advances;
  //  - a premature mid-stream fire (device idle across early batches) is
  //    superseded by the device's later ACTIVE emission: the answer is
  //    the last emission per (device, _bid) with ACTIVE winning a
  //    same-batch tie, which equals the oracle's pure end-state replay.

  private val twsTimerLandings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val twsTimerBase = 1704067200000L

  /** (lo, hi) of the sampled reading ids — the constants both the landing
    * and the oracle derive the timeout/watermark from.
    */
  private def twsTimerBounds(spark: SparkSession, dir: String): (Long, Long) = {
    val mm = Tables.events(spark, dir).filter(col("event_id") % 8 === 0)
      .agg(min("event_id"), max("event_id")).head()
    (mm.getLong(0), mm.getLong(1))
  }

  private def twsTimerLandingFor(spark: SparkSession, dir: String): String =
    twsTimerLandings.computeIfAbsent(dir, _ => {
      val l = Scratch.dir("stream_tws_timer_landing")
      val frame = Tables.events(spark, dir)
        .filter(col("event_id") % 8 === 0)
        .select(
          concat(lit("dev-"), (col("user_id") % 256).cast("string"))
            .as("device_id"),
          date_format(timestamp_millis(lit(twsTimerBase)
            + col("event_id") * 60000L), tsFmt).as("ts"),
          expr(qualityCaseSql).as("quality_flag"),
          col("value"), col("event_id"))
      val (lo, hi) = twsTimerBounds(spark, dir)
      // one reading-slot per MINUTE: the idle spans must dwarf the timer
      // quantization grain (at sf0.001 a ms-per-id clock spans under one
      // minute and every timer would quantize past the watermark)
      val span = (hi - lo) * 60000L
      val sentA =
        ((twsTimerBase + hi * 60000L + span / 8) / 60000L) * 60000L + 30000L
      // B re-uses A's timestamp ON PURPOSE: its batch is what fires the
      // timers (watermark = A's ts), and any trailing no-data batch then
      // sees the SAME watermark — a later B would advance it and fire an
      // extra hour of timers past the oracle's cut (observed at sf0.001)
      val sentB = sentA
      val (c1, c2) = (lo + span / 3, lo + 2 * (span / 3))
      def slice(df: DataFrame): Unit = {
        df.coalesce(1).write.mode("append").json(l)
        Thread.sleep(1100)
      }
      slice(frame.filter(col("event_id") <= c1).drop("event_id"))
      slice(frame.filter(col("event_id") > c1 && col("event_id") <= c2)
        .drop("event_id"))
      slice(frame.filter(col("event_id") > c2).drop("event_id"))
      def sentinel(name: String, ts: Long): DataFrame =
        spark.range(1).select(lit(name).as("device_id"),
          date_format(timestamp_millis(lit(ts)), tsFmt).as("ts"),
          lit("Good").as("quality_flag"), lit(0.0).as("value"))
      slice(sentinel("sentinel-a", sentA))
      slice(sentinel("sentinel-b", sentB))
      l
    })

  private def streamTwsTimerEquiv(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val landing = twsTimerLandingFor(spark, dir)
    val (lo, hi) = twsTimerBounds(spark, dir)
    val timeoutMs = (hi - lo) * 60000L / 4
    val root = Scratch.dir("stream_tws_timer")
    val sink = s"$root/sink"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val savedProvider = spark.conf.getOption(providerKey)
    val shardKey = "spark.sql.shuffle.partitions"
    val savedShards = spark.conf.get(shardKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // 2 shards: one ValueState + timer store per shard, and every batch
    // commits every shard — the fixed-overhead knob (the drainToParquet
    // doc's sizing note)
    spark.conf.set(shardKey, "2")
    try {
      val readings = jsonStream(spark, landing, twsSchema, Some(2))
        .select(col("device_id"), col("ts").cast("timestamp").as("timestamp"),
          col("quality_flag"), col("value"))
        .withWatermark("timestamp", "0 seconds")
        .as[StreamAggs.DeviceReading]
      val q = StreamAggs.deviceIdleTws(readings, timeoutMs)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[StreamAggs.DeviceStatus],
            bid: Long) =>
          batch.toDF().withColumn("_bid", lit(bid))
            .write.mode("append").parquet(sink)
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      spark.conf.set(shardKey, savedShards)
      savedProvider match {
        case Some(v) => spark.conf.set(providerKey, v)
        case None => spark.conf.unset(providerKey)
      }
    }
    // last emission per device; on a same-batch tie (stale timer fired in
    // the batch that also delivered new readings) the ACTIVE emission wins
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("device_id").orderBy(col("_bid").desc, col("status").asc)
    spark.read.parquet(sink)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .filter(!col("device_id").startsWith("sentinel"))
      .select(col("device_id"), col("n_total"), col("last_ms"), col("status"))
      .orderBy("device_id")
  }

  private val twsTimerOracle =
    """WITH p AS (
      |  SELECT CAST(min(event_id) AS BIGINT) AS lo,
      |         CAST(max(event_id) AS BIGINT) AS hi
      |  FROM events WHERE event_id % 8 = 0),
      |r AS (
      |  SELECT 'dev-' || CAST(user_id % 256 AS VARCHAR) AS device_id,
      |         CAST(1704067200000 + event_id * 60000 AS BIGINT) AS ts_ms
      |  FROM events WHERE event_id % 8 = 0),
      |c AS (
      |  SELECT ((hi - lo) * 60000) // 4 AS t_ms,
      |         ((1704067200000 + hi * 60000 + ((hi - lo) * 60000) // 8)
      |           // 60000) * 60000 + 30000 AS wm_ms
      |  FROM p),
      |l AS (
      |  SELECT device_id, CAST(count(*) AS BIGINT) AS n_total,
      |         CAST(max(ts_ms) AS BIGINT) AS last_ms
      |  FROM r GROUP BY 1)
      |SELECT device_id, n_total, last_ms,
      |       CASE WHEN ((last_ms + t_ms + 59999) // 60000) * 60000 < wm_ms
      |            THEN 'DEGRADED' ELSE 'ACTIVE' END AS status
      |FROM l CROSS JOIN c
      |ORDER BY device_id""".stripMargin

  // The score's float ops are written identically on both sides (one
  // exact-integer division, one 0.1 scale forced to DOUBLE — DuckDB's
  // bare 0.1 is DECIMAL and would multiply exactly where the JVM fold
  // multiplies in binary), then round(4)+canon defends the last ulp.
  private val twsOracle =
    """WITH r AS (
      |  SELECT 'dev-' || CAST(user_id % 64 AS VARCHAR) AS device_id,
      |         make_timestamp((1704067200000 + event_id) * 1000) AS ts,
      |         CASE WHEN event_id % 4 = 0 THEN 'Good'
      |              WHEN event_id % 4 = 1 THEN ' Good '
      |              WHEN event_id % 4 = 2 THEN 'SUSPECT'
      |              ELSE 'bad' END AS q
      |  FROM events),
      |f AS (SELECT device_id, ts,
      |             (lower(trim(q)) = 'suspect') AS is_s FROM r),
      |agg AS (
      |  SELECT device_id,
      |         CAST(count(*) AS BIGINT) AS n_total,
      |         CAST(sum(CASE WHEN is_s THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_suspect,
      |         max(CASE WHEN NOT is_s THEN ts END) AS last_ok
      |  FROM f GROUP BY 1),
      |st AS (
      |  SELECT a.device_id, a.n_total, a.n_suspect,
      |         CAST(count(*) FILTER (WHERE f.is_s AND
      |           (a.last_ok IS NULL OR f.ts > a.last_ok)) AS BIGINT)
      |           AS suspect_streak
      |  FROM agg a JOIN f ON f.device_id = a.device_id
      |  GROUP BY 1, 2, 3)
      |SELECT device_id, n_total, n_suspect, suspect_streak,
      |       round(greatest(CAST(0.0 AS DOUBLE),
      |         CAST(1.0 AS DOUBLE) - n_suspect / n_total
      |           - least(CAST(0.5 AS DOUBLE),
      |                   suspect_streak * CAST(0.1 AS DOUBLE))), 4) + 0.0
      |         AS health_score
      |FROM st ORDER BY device_id""".stripMargin

  // ---- stream_cdc_equiv: continuous CDC latest-record-wins ---------------
  //
  // cdcLatestExplicit is the custom-state path (flatMapGroupsWithState +
  // event-time timeouts) — the one operator family with no declarative
  // twin, so its differential matters most. Commit timestamps derive from
  // event_id (strictly unique per key), so the scd1 tie order
  // (commit_ts desc, op desc) picks ONE winner deterministically; the
  // sentinel pair flushes every key's state via the timeout path.

  private val cdcLandings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cdcLandingFor(spark: SparkSession, dir: String): String =
    cdcLandings.computeIfAbsent(dir, _ => {
      val l = Scratch.dir("stream_cdc_landing")
      Tables.events(spark, dir).select(
        concat(lit("u"), (col("user_id") % 256).cast("string")).as("k"),
        round(col("value") * 100).cast("long").as("v"),
        when(col("event_id") % 11 === 0, "d").otherwise("u").as("op"),
        // MICROsecond-granular commit ts (r14, was seconds): still
        // strictly unique per event, but the span stays ~1 day even on a
        // x10 key-offset replica instead of ~3000 years - second
        // granularity pushed replica commits past the range pandas (the
        // driver compare) can represent in ns, and made the span dwarf
        // any fixed lateness
        date_format(
          timestamp_micros(lit(1704067200000000L) + col("event_id")), tsFmt)
          .as("cts"))
        // range-partition on the COMMIT TS (r14, was v): ts-ordered files
        // keep the mid-drain watermark below every not-yet-read commit at
        // ANY span — value-ordered files fed late-ts data early, which
        // late-drops once the span exceeds the lateness (the ×10 replica's
        // event_id offsets stretch the span to ~3000 years)
        .repartitionByRange(3, col("cts")).write.json(l)
      Thread.sleep(1100)
      // sentinels DERIVED from the fixture's own commit span: the flush
      // needs watermark = sentinel − lateness to clear every real commit,
      // and fixed calendar sentinels (2030/2031 pre-r14) silently stop
      // flushing once max(event_id) pushes commits past them (the ×10
      // key-offset replica does exactly that)
      val maxId = Tables.events(spark, dir)
        .agg(max(col("event_id"))).head.getLong(0)
      val latenessSec = 26280L * 3600 // keep in step with the drain's value
      val utc = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
      def sentinel(name: String, tsSec: Long): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(l, name),
          (s"""{"k":"zz-sentinel","v":0,"op":"u",""" +
            s""""cts":"${utc.format(java.time.Instant.ofEpochSecond(tsSec))}"}""")
            .getBytes("UTF-8"))
      sentinel("zz-sentinel-1.json",
        1704067200L + maxId / 1000000 + latenessSec + 86400)
      Thread.sleep(20)
      sentinel("zz-sentinel-2.json",
        1704067200L + maxId / 1000000 + latenessSec + 2 * 86400)
      l
    })

  private val cdcSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("op",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("cts",
      org.apache.spark.sql.types.StringType)))

  private def streamCdcEquiv(spark: SparkSession, dir: String): DataFrame = {
    val landing = cdcLandingFor(spark, dir)
    val root = Scratch.dir("stream_cdc")
    // (d,d)(d,s1)(s2) batching — see streamSessionsEquiv
    val typed = jsonStream(spark, landing, cdcSchema, Some(2))
      .select(col("k"), col("v"), col("op").as("_op"),
        col("cts").cast("timestamp").as("_commit_ts"))
    // lateness sizing: commit-ts grows 1 s per event_id, so the span
    // scales with the fixture — 3 years of lateness keeps the mid-drain
    // watermark below every real commit for any fixture up to ~94M
    // events (720 h broke at ~2.6M events: mid-drain late-drops +
    // premature flushes). The timeout-flush sentinels are DERIVED from
    // the span (max event_id + lateness + 1/2 days — see cdcLandingFor),
    // so they land past every real commit at ANY fixture size; the fixed
    // 2030/2031 calendar sentinels they replaced broke on the ×10 replica.
    drainToParquet(
      StreamAggs.cdcLatestExplicit(typed, lateness = "26280 hours").toDF(),
      s"$root/sink", s"$root/ckpt", shards = 4)
    spark.read.parquet(s"$root/sink")
      .filter(col("k") =!= "zz-sentinel")
      .select(col("k"), col("v"), col("_commit_ts").as("commit_ts"))
      .orderBy("k")
  }

  private val cdcOracle =
    """WITH c AS (
      |  SELECT 'u' || CAST(user_id % 256 AS VARCHAR) AS k,
      |         CAST(round(value * 100) AS BIGINT) AS v,
      |         CASE WHEN event_id % 11 = 0 THEN 'd' ELSE 'u' END AS op,
      |         make_timestamp(1704067200000000 + event_id) AS cts
      |  FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY k
      |                                   ORDER BY cts DESC, op DESC) AS rn
      |      FROM c)
      |SELECT k, v, cts AS commit_ts FROM r
      |WHERE rn = 1 AND op <> 'd' ORDER BY k""".stripMargin

  // ---- stream_debezium_equiv: Debezium envelopes → continuous SCD1 -------
  //
  // The reference README's core aspirational surface is streaming CDC
  // tables in Debezium format (reference README_DBT.md:158-206): the
  // landing dir carries nested {before, after, op, ts_ms} JSON envelopes,
  // the drain FLATTENS each envelope with the same pick-by-op logic as
  // the batch cdc_debezium_parse row (before for deletes, after
  // otherwise), and cdcLatestExplicit folds the flattened change rows
  // into the continuously-maintained current state — envelope parse and
  // stateful fold proven together against one batch SQL replay. ts_ms
  // derives from event_id (globally unique), so latest-wins has no ties.

  private val debeziumLandings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def debeziumLandingFor(spark: SparkSession, dir: String): String =
    debeziumLandings.computeIfAbsent(dir, _ => {
      val l = Scratch.dir("stream_dbz_landing")
      val cents = round(col("value") * 100).cast("long")
      val op = when(col("event_id") % 11 === 0, "d")
        .when(col("event_id") % 7 === 0, "c").otherwise("u")
      Tables.events(spark, dir).select(
        when(op.isin("u", "d"),
          struct(concat(lit("u"), (col("user_id") % 256).cast("string")).as("k"),
            (cents - 100).as("cents"))).as("before"),
        when(op.isin("c", "u"),
          struct(concat(lit("u"), (col("user_id") % 256).cast("string")).as("k"),
            cents.as("cents"))).as("after"),
        op.as("op"),
        // MILLIsecond-granular ts_ms (r14, was seconds x1000): unique per
        // event with a replica-safe span - see cdcLandingFor
        (lit(1704067200000L) + col("event_id")).as("ts_ms"))
        .repartitionByRange(3, col("ts_ms")).write.json(l)
      Thread.sleep(1100)
      // sentinels derived from the commit span (see cdcLandingFor): the
      // flush watermark must clear max(commit) even on key-offset replicas
      val maxId = Tables.events(spark, dir)
        .agg(max(col("event_id"))).head.getLong(0)
      val latenessSec = 26280L * 3600
      def sentinel(name: String, tsMs: Long): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(l, name),
          (s"""{"after":{"k":"zz-sentinel","cents":0},"op":"u",""" +
            s""""ts_ms":$tsMs}""").getBytes("UTF-8"))
      sentinel("zz-sentinel-1.json",
        1704067200000L + maxId + (latenessSec + 86400) * 1000)
      Thread.sleep(20)
      sentinel("zz-sentinel-2.json",
        1704067200000L + maxId + (latenessSec + 2 * 86400) * 1000)
      l
    })

  private val debeziumSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "before STRUCT<k: STRING, cents: BIGINT>, " +
      "after STRUCT<k: STRING, cents: BIGINT>, " +
      "op STRING, ts_ms BIGINT")

  private def streamDebeziumEquiv(spark: SparkSession, dir: String): DataFrame = {
    val landing = debeziumLandingFor(spark, dir)
    val root = Scratch.dir("stream_dbz")
    // (d,d)(d,s1)(s2) batching — see streamSessionsEquiv
    val env = jsonStream(spark, landing, debeziumSchema, Some(2))
    // envelope flatten INSIDE the drain: key from whichever image exists,
    // payload picked by op (before for deletes), Debezium c/u/r all fold
    // as upserts — the cdc_debezium_parse logic feeding the stateful path
    val parsed = env.select(
      coalesce(col("after.k"), col("before.k")).as("k"),
      when(col("op") === "d", col("before.cents"))
        .otherwise(col("after.cents")).as("v"),
      when(col("op") === "d", "d").otherwise("u").as("_op"),
      timestamp_millis(col("ts_ms")).as("_commit_ts"))
    // lateness sizing: same span as stream_cdc_equiv (1 s per event_id)
    drainToParquet(
      StreamAggs.cdcLatestExplicit(parsed, lateness = "26280 hours").toDF(),
      s"$root/sink", s"$root/ckpt", shards = 4)
    spark.read.parquet(s"$root/sink")
      .filter(col("k") =!= "zz-sentinel")
      .select(col("k"), col("v"), col("_commit_ts").as("commit_ts"))
      .orderBy("k")
  }

  private val debeziumOracle =
    """WITH c AS (
      |  SELECT 'u' || CAST(user_id % 256 AS VARCHAR) AS k,
      |         CASE WHEN event_id % 11 = 0
      |              THEN CAST(round(value * 100) AS BIGINT) - 100
      |              ELSE CAST(round(value * 100) AS BIGINT) END AS v,
      |         CASE WHEN event_id % 11 = 0 THEN 'd' ELSE 'u' END AS op,
      |         make_timestamp((1704067200000 + event_id) * 1000) AS cts
      |  FROM events),
      |r AS (SELECT *, row_number() OVER (PARTITION BY k
      |                                   ORDER BY cts DESC, op DESC) AS rn
      |      FROM c)
      |SELECT k, v, cts AS commit_ts FROM r
      |WHERE rn = 1 AND op <> 'd' ORDER BY k""".stripMargin

  // ---- stream_cdf_equiv: the Lake change feed as a STREAMING source -----
  //
  // The composition every production incremental pipeline runs, and the
  // one the engine had both halves of without joining them: a versioned
  // table takes three commits (v1 snapshot of days ≤ Jan-15, v2 append of
  // (Jan-15, Jan-25], v3 COW delete of the Jan-08..14 week),
  // [[graft.sources.Lake.exportChangeFeedLanding]] bridges the change
  // feed into an immutable JSON landing in commit order, and a STATEFUL
  // windowed aggregate consumes it as a stream — inserts weigh +1,
  // deletes −1, so the v3 micro-batch RETRACTS v1 state in place (the
  // COW rewrite's surviving rows cancel exactly: −1 from each removed
  // file's row, +1 from its rewrite). Nothing emits until the sentinels
  // close the window, so the single flush is the NET state — hash-equal
  // to a batch recompute of the final table iff the feed carried exactly
  // the changed rows across the stream's state boundary. One 8760 h
  // window holds the whole span (day ≤ Jan-25 is fixture-fixed, so
  // fixed-calendar sentinels are replica-safe — the sessions regime).

  private val cdfStreamLandings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cdfStreamLandingFor(spark: SparkSession, dir: String): String =
    cdfStreamLandings.computeIfAbsent(dir, _ => {
      val root = Scratch.dir("stream_cdf_src")
      val table = s"$root/t"
      val base = Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.sources.Lake.writeVersioned(spark,
        base.filter(col("day") <= lit("2024-01-15").cast("date"))
          .repartitionByRange(2, col("day")), table)
      graft.sources.Lake.appendVersioned(spark,
        base.filter(col("day") > lit("2024-01-15").cast("date") &&
          col("day") <= lit("2024-01-25").cast("date"))
          .repartitionByRange(2, col("day")), table)
      graft.sources.Lake.deleteWhere(spark, table,
        col("day").between(lit("2024-01-08"), lit("2024-01-14")))
      val landing = s"$root/landing"
      graft.sources.Lake.exportChangeFeedLanding(spark, table, landing)
      Thread.sleep(1100)
      def sentinel(name: String, day: String): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(landing, name),
          (s"""{"user_id":-1,"day":"$day","cents":0,""" +
            """"_change_type":"insert","_commit_version":999}""")
            .getBytes("UTF-8"))
      sentinel("zz-sentinel-1.json", "2030-01-01")
      Thread.sleep(20)
      sentinel("zz-sentinel-2.json", "2031-01-01")
      landing
    })

  private val cdfFeedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("day",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("cents",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("_change_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("_commit_version",
      org.apache.spark.sql.types.LongType)))

  private def streamCdfEquiv(spark: SparkSession, dir: String): DataFrame = {
    val landing = cdfStreamLandingFor(spark, dir)
    val root = Scratch.dir("stream_cdf_feed")
    // ~7 landing files at 2/trigger → (v1,v1)(v2,v2)(v3,s1)(s2): the
    // replay arrives in commit order across micro-batches; the sentinel
    // batches close the window last
    val typed = jsonStream(spark, landing, cdfFeedSchema, Some(2))
      .select(col("user_id"), col("cents"),
        col("day").cast("timestamp").as("ts"),
        when(col("_change_type") === "insert", lit(1L))
          .otherwise(lit(-1L)).as("w"))
    val agg = typed
      .withWatermark("ts", "720 hours")
      .groupBy(window(col("ts"), "8760 hours").as("wnd"), col("user_id"))
      .agg(sum(col("w")).as("n_events"),
        sum(col("cents") * col("w")).as("total_cents"))
      .select(col("wnd.start").as("window_start"), col("user_id"),
        col("n_events"), col("total_cents"))
    drainToParquet(agg, s"$root/sink", s"$root/ckpt", shards = 4)
    spark.read.parquet(s"$root/sink")
      .filter(col("user_id") >= 0 && col("n_events") > 0 &&
        col("window_start") < lit("2029-01-01").cast("timestamp"))
      .select("user_id", "n_events", "total_cents")
      .orderBy("user_id")
  }

  private val cdfFeedOracle =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM events
      |WHERE CAST(ts AS DATE) <= DATE '2024-01-25'
      |  AND CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- stream_cdf_scd1: KEYED change feed -> streaming SCD1 fold --------
  //
  // The key-driven half of the CDF-as-stream composition: a MERGE- and
  // DELETE-maintained keyed table exports its feed through
  // exportChangeFeedLanding(keys = k) — update pre/post classification,
  // carried file-rewrite pairs dropped — and the stream drops preimages
  // and folds post-images/inserts as upserts and deletes as deletes
  // through cdcLatestExplicit (the custom-state SCD1 operator). Event
  // time derives from _commit_version (one day per commit — strictly
  // increasing, deterministic), so latest-wins lands on the table's
  // exact final state: a leaked preimage, a carried rewrite pair
  // surviving the keyed filter, or a delete folded as upsert all break
  // the hash. Versions are bounded (4 incl. sentinels' 900/999), so
  // fixed sentinel versions are replica-safe.

  private val cdfScd1Landings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cdfScd1LandingFor(spark: SparkSession, dir: String): String =
    cdfScd1Landings.computeIfAbsent(dir, _ => {
      val root = Scratch.dir("stream_cdfk_src")
      val table = s"$root/t"
      val base = Tables.events(spark, dir).select(
        concat(lit("u"), (col("user_id") % 256).cast("string")).as("k"),
        to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      val s1 = base.filter(col("day") <= lit("2024-01-10").cast("date"))
        .groupBy("k").agg(sum(col("cents")).as("v"))
      graft.sources.Lake.writeVersioned(spark,
        s1.repartitionByRange(2, col("k")), table)
      val s2 = base.filter(col("day") > lit("2024-01-10").cast("date") &&
        col("day") <= lit("2024-01-20").cast("date"))
        .groupBy("k").agg(sum(col("cents")).as("v"))
      graft.sources.Lake.mergeInto(spark, table, s2, Seq("k"))
      // modulus 7, NOT 5: the x10 replica folds all ten copies of a key
      // onto the same k (1e10 user-id offsets are 0 mod 256) so v scales
      // by 10 — a %5 predicate then deletes EVERY key (10v % 5 = 0) and
      // the replica row degenerates to 0 rows; 10v % 7 = 3v % 7 keeps
      // the kept/deleted mix live at every replication
      graft.sources.Lake.deleteWhere(spark, table, col("v") % 7 === 0)
      val landing = s"$root/landing"
      // 1 file/version -> 3 data files + 2 sentinels at 2/trigger:
      // (d,d)(d,s1)(s2), the proven cdc batching
      graft.sources.Lake.exportChangeFeedLanding(spark, table, landing,
        filesPerVersion = 1, keys = Seq("k"))
      Thread.sleep(1100)
      def sentinel(name: String, cv: Long): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(landing, name),
          (s"""{"k":"zz-sentinel","v":0,"_change_type":"insert",""" +
            s""""_commit_version":$cv}""").getBytes("UTF-8"))
      sentinel("zz-sentinel-1.json", 900L)
      Thread.sleep(20)
      sentinel("zz-sentinel-2.json", 999L)
      landing
    })

  private val cdfKeyedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("k",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("v",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("_change_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("_commit_version",
      org.apache.spark.sql.types.LongType)))

  private def streamCdfScd1(spark: SparkSession, dir: String): DataFrame = {
    val landing = cdfScd1LandingFor(spark, dir)
    val root = Scratch.dir("stream_cdfk")
    val typed = jsonStream(spark, landing, cdfKeyedSchema, Some(2))
      .filter(col("_change_type") =!= "update_preimage")
      .select(col("k"), col("v"),
        when(col("_change_type") === "delete", "d").otherwise("u").as("_op"),
        timestamp_millis(lit(1704067200000L) +
          col("_commit_version") * lit(86400000L)).as("_commit_ts"))
    // lateness 720 h: sentinel versions 900/999 put the flush watermark
    // ~2.4 years past the 3 real commit days
    drainToParquet(
      StreamAggs.cdcLatestExplicit(typed, lateness = "720 hours").toDF(),
      s"$root/sink", s"$root/ckpt", shards = 4)
    spark.read.parquet(s"$root/sink")
      .filter(col("k") =!= "zz-sentinel")
      .select(col("k"), col("v"))
      .orderBy("k")
  }

  private val cdfScd1Oracle =
    """WITH b AS (
      |  SELECT 'u' || CAST(user_id % 256 AS VARCHAR) AS k,
      |         CAST(ts AS DATE) AS day,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |s1 AS (SELECT k, CAST(sum(cents) AS BIGINT) AS v FROM b
      |       WHERE day <= DATE '2024-01-10' GROUP BY k),
      |s2 AS (SELECT k, CAST(sum(cents) AS BIGINT) AS v FROM b
      |       WHERE day > DATE '2024-01-10' AND day <= DATE '2024-01-20'
      |       GROUP BY k),
      |m AS (SELECT coalesce(s2.k, s1.k) AS k, coalesce(s2.v, s1.v) AS v
      |      FROM s1 FULL JOIN s2 ON s1.k = s2.k)
      |SELECT k, v FROM m WHERE v % 7 <> 0 ORDER BY k""".stripMargin

  // ---- stream_mv_refresh: CDF stream → foreachBatch → merge-fold MV -----
  //
  // The continuous form of the reference's "automatic incremental
  // refresh" (README_DBT.md:32,102-103) and the composition r18's verdict
  // named as the engine's last unjoined halves: the versioned table's
  // change feed arrives as a STREAM (the exportChangeFeedLanding bridge —
  // the same three-commit landing stream_cdf_equiv consumes) and every
  // micro-batch folds its retraction-weighted per-key delta into a
  // versioned VIEW with one mergeCdc commit
  // (Lake.foldFeedBatchIntoAggView). No watermark, no sentinels — the
  // fold is the state, and the view is exact after EVERY batch, not just
  // at a window flush. Exactly-once rides the commit stamp: a replayed
  // foreachBatch (the documented crash window) sees stamp >= batchId and
  // no-ops. The COW-delete batch must shrink n_events via the ≤0 delete
  // rule — a lost retraction, a double fold, or a replay that re-folds
  // all break the hash vs the batch recompute.

  private def streamMvRefresh(spark: SparkSession, dir: String): DataFrame = {
    val landing = cdfStreamLandingFor(spark, dir)
    val root = Scratch.dir("stream_mv")
    val view = s"$root/view"
    runMvFoldDrain(spark, landing, view, s"$root/ckpt")
    graft.sources.Lake.readVersioned(spark, view)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("n_events"),
        col("cents").as("total_cents"))
      .orderBy("user_id")
  }

  /** The foreachBatch MV-fold drain (shared by stream_mv_refresh and
    * stream_cdf_retention): each micro-batch of the landing feed folds
    * into the versioned aggregate view at `view`, stamped with its batch
    * id for idempotent replay.
    */
  private def runMvFoldDrain(spark: SparkSession, landing: String,
      view: String, ckpt: String,
      retainNonPositive: Boolean = false): Unit = {
    val typed = jsonStream(spark, landing, cdfFeedSchema, Some(2))
      .select(col("user_id"), col("cents"), col("_change_type"))
    val fold: (DataFrame, Long) => Unit = (batch, bid) => {
      graft.sources.Lake.foldFeedBatchIntoAggView(batch, view, bid,
        keys = Seq("user_id"), sumCols = Seq("cents"),
        countCol = "n_events", retainNonPositive = retainNonPositive)
      ()
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = typed.writeStream
        .foreachBatch(fold)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // ---- stream_mv_join_refresh: CDF stream → dim-enrich → join-view fold --
  //
  // The streaming sibling of lake_mv_join_refresh's FACT side: the fact
  // table's change feed streams in (the shared three-commit landing) and
  // every micro-batch is ENRICHED with the broadcast dimension before
  // folding into the (user, segment)-grain join view — the star-schema
  // MV maintained continuously. Retraction weights survive the join
  // (an enriched delete row retracts its (user, segment) group exactly),
  // and the same batch-id stamp makes replays no-op. Dim changes are the
  // batch row's territory (refreshJoinIncremental retracts moved
  // groups); this row's claim is the continuous fact-side fold a
  // production star schema runs between dim refreshes.

  private def streamMvJoinRefresh(spark: SparkSession, dir: String): DataFrame = {
    val landing = cdfStreamLandingFor(spark, dir)
    val root = Scratch.dir("stream_mvj")
    val view = s"$root/view"
    val dim = Tables.events(spark, dir).select(col("user_id")).distinct()
      .withColumn("segment",
        concat(lit("S"), (col("user_id") % 3).cast("string")))
    val typed = jsonStream(spark, landing, cdfFeedSchema, Some(2))
      .select(col("user_id"), col("cents"), col("_change_type"))
    val fold: (DataFrame, Long) => Unit = (batch, bid) => {
      val enriched = batch.join(broadcast(dim), "user_id")
      graft.sources.Lake.foldFeedBatchIntoAggView(enriched, view, bid,
        keys = Seq("user_id", "segment"), sumCols = Seq("cents"),
        countCol = "n_events")
      ()
    }
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = typed.writeStream
        .foreachBatch(fold)
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    graft.sources.Lake.readVersioned(spark, view)
      .select(col("user_id"), col("segment"), col("n_events"),
        col("cents").as("total_cents"))
      .orderBy("user_id", "segment")
  }

  private val mvJoinStreamOracle =
    """WITH f AS (
      |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |  WHERE CAST(ts AS DATE) <= DATE '2024-01-25'
      |    AND CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-08'
      |                                 AND DATE '2024-01-14'),
      |d AS (SELECT DISTINCT user_id,
      |             'S' || CAST(user_id % 3 AS VARCHAR) AS segment
      |      FROM events)
      |SELECT f.user_id, d.segment,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(f.cents) AS BIGINT) AS total_cents
      |FROM f JOIN d USING (user_id)
      |GROUP BY 1, 2 ORDER BY user_id, segment""".stripMargin

  // ---- stream_mv_dim_refresh: DIM-side streaming join-view maintenance ---
  //
  // The hard half of incremental star-schema maintenance: the DIMENSION
  // changes, and the view must move rows BETWEEN groups without touching
  // the fact table. The dim's KEYED change feed streams in (one version
  // per micro-batch — filesPerVersion=1 + maxFilesPerTrigger=1, so a
  // move and a later retirement of the same user can never collide
  // inside one mergeCdc source) and each batch folds as:
  //   - update pre/post pairs (segment moves): the view's (user, old)
  //     rows re-key to (user, new) — counts come from the VIEW ITSELF,
  //     never a fact scan (cost ∝ moved users' view rows);
  //   - deletes (user retired from the dim): the view's rows for that
  //     user drop (inner-join semantics);
  //   - plain inserts no-op in THIS row (no `backfillFrom`): the v1
  //     snapshot batch must not double-fold, and attribute changes +
  //     retirements dominate a slowly-changing dimension. The completed
  //     contract lives in stream_mv_dim_backfill: pass the fact table as
  //     `backfillFrom` and post-snapshot inserts reconcile against fact
  //     history (cost ∝ the new users' fact rows).
  // Idempotent replay rides a PER-CHANNEL stamp compare: dim folds stamp
  // 1e6+bid and check only dim-channel stamps, fact folds stamp the raw
  // bid and check only fact-channel stamps (Lake.DimStampBase), so the
  // two drains can interleave into one view without either guard
  // mistaking the other's head commit for its own replay. The final view
  // must equal the batch recompute against the MOVED dim — a move that
  // lost its counts, a retirement that left rows, or an insert that
  // double-folded all break the hash.

  private val dimFeedLandings =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** @return (dim table path, keyed-feed landing path) */
  private def dimFeedLandingFor(spark: SparkSession,
      dir: String): (String, String) =
    dimFeedLandings.computeIfAbsent(dir, _ => {
      val root = Scratch.dir("stream_dimfeed")
      val dimT = s"$root/dim"
      val users = Tables.events(spark, dir).select(col("user_id")).distinct()
      graft.sources.Lake.writeVersioned(spark,
        users.withColumn("segment",
          concat(lit("S"), (col("user_id") % 3).cast("string")))
          .repartitionByRange(2, col("user_id")), dimT)
      // v2: every %5 user re-segments to S9 (the lake_mv_join_refresh
      // move class); carried rewrite pairs drop in the keyed feed
      graft.sources.Lake.mergeCdc(spark, dimT,
        users.filter(col("user_id") % 5 === 0)
          .withColumn("segment", lit("S9"))
          .withColumn("_is_deleted", lit(false)),
        Seq("user_id"), col("_is_deleted"))
      // v3: %7==3 users retire from the dim entirely
      graft.sources.Lake.deleteWhere(spark, dimT, col("user_id") % 7 === 3)
      val landing = s"$root/landing"
      graft.sources.Lake.exportChangeFeedLanding(spark, dimT, landing,
        filesPerVersion = 1, keys = Seq("user_id"))
      (dimT, landing)
    })

  private val dimFeedSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("segment",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("_change_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("_commit_version",
      org.apache.spark.sql.types.LongType)))

  /** One dim-feed micro-batch folded into the join view: moves re-key
    * view rows, retirements drop them, inserts no-op (contract above) —
    * UNLESS `backfillFrom` supplies the fact table, in which case insert
    * rows PAST the v1 snapshot (`_commit_version > 1`, i.e. genuinely
    * new dim members, not the bootstrap) RECONCILE against fact history:
    * one broadcast-semi-join of the fact frame against the new members'
    * keys + a per-(user, segment) aggregate — cost ∝ the new users' fact
    * rows, never a full fact scan joined to a full dim. All three change
    * classes land in ONE mergeCdc source, so a batch mixing moves,
    * retirements, and inserts commits atomically under one stamp and
    * replays as one no-op. Package-visible so StreamingOpsSpec can pin
    * the replay no-op.
    */
  private[graft] def dimFoldBatch(batch: DataFrame, view: String,
      bid: Long, backfillFrom: Option[DataFrame] = None): Unit = {
    val spark = batch.sparkSession
    val tag = graft.sources.Lake.DimStampBase + bid
    // replay guard against the DIM channel's latest stamp only: the head
    // commit may be a fact-side fold (small stamp), and a head-only
    // compare would miss a dim replay that a fact fold followed —
    // double-applying the move (the mirror of the fact-side channel bug)
    if (graft.sources.Lake.lastStreamBatchStampInChannel(spark, view,
        _ >= graft.sources.Lake.DimStampBase).exists(_ >= tag)) return
    val pre = batch.filter(col("_change_type") === "update_preimage")
      .select(col("user_id"), col("segment").as("old_seg"))
    val post = batch.filter(col("_change_type") === "update_postimage")
      .select(col("user_id"), col("segment").as("new_seg"))
    val dels = batch.filter(col("_change_type") === "delete")
      .select(col("user_id"), col("segment").as("old_seg"))
    val moved = pre.join(post, "user_id")
    val cur = graft.sources.Lake.readVersioned(spark, view)
    def viewRowsAt(keys: DataFrame) = cur.as("v")
      .join(broadcast(keys.as("k")),
        col("v.user_id") === col("k.user_id") &&
          col("v.segment") === col("k.old_seg"))
    val inserts = viewRowsAt(moved)
      .select(col("v.user_id").as("user_id"),
        col("k.new_seg").as("segment"),
        col("v.n_events").as("n_events"), col("v.cents").as("cents"),
        lit(false).as("_del"))
    val deletes = viewRowsAt(moved.select("user_id", "old_seg")
        .unionByName(dels))
      .select(col("v.user_id").as("user_id"),
        col("v.segment").as("segment"),
        lit(0L).as("n_events"), lit(0L).as("cents"),
        lit(true).as("_del"))
    val backfill = backfillFrom.map { fact =>
      val newMembers = batch.filter(col("_change_type") === "insert" &&
        col("_commit_version") > 1L)
        .select(col("user_id"), col("segment"))
      fact.join(broadcast(newMembers), "user_id")
        .groupBy(col("user_id"), col("segment"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
        .select(col("user_id"), col("segment"), col("n_events"),
          col("cents"), lit(false).as("_del"))
    }
    val moveRetire = inserts.unionByName(deletes)
    val source = backfill.fold(moveRetire)(moveRetire.unionByName(_))
    // no explicit emptiness probe: mergeCdc persists the source itself
    // (one grouped pass feeds its guard + probe) and an all-empty batch
    // short-circuits after that single aggregate without committing —
    // behaviorally the documented no-op, one action cheaper per batch
    graft.sources.Lake.mergeCdc(spark, view, source,
      Seq("user_id", "segment"), deleteWhen = col("_del"),
      streamBatchId = Some(tag))
    ()
  }

  private def streamMvDimRefresh(spark: SparkSession, dir: String): DataFrame = {
    val factLanding = cdfStreamLandingFor(spark, dir)
    val (dimT, dimLanding) = dimFeedLandingFor(spark, dir)
    val root = Scratch.dir("stream_mvdim")
    val view = s"$root/view"
    // phase 1: fact feed folds against the dim AS OF v1 — the move and
    // the retirement arrive ONLY through the dim feed in phase 2
    val dimV1 = graft.sources.Lake.readVersioned(spark, dimT, Some(1L))
      .select("user_id", "segment")
    val typed = jsonStream(spark, factLanding, cdfFeedSchema, Some(2))
      .select(col("user_id"), col("cents"), col("_change_type"))
    val factFold: (DataFrame, Long) => Unit = (batch, bid) => {
      graft.sources.Lake.foldFeedBatchIntoAggView(
        batch.join(broadcast(dimV1), "user_id"), view, bid,
        keys = Seq("user_id", "segment"), sumCols = Seq("cents"),
        countCol = "n_events")
      ()
    }
    val dimTyped = jsonStream(spark, dimLanding, dimFeedSchema, Some(1))
    val dimFold: (DataFrame, Long) => Unit =
      (batch, bid) => dimFoldBatch(batch, view, bid)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q1 = typed.writeStream.foreachBatch(factFold)
        .option("checkpointLocation", s"$root/ckpt_fact")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q1.awaitTermination()
      val q2 = dimTyped.writeStream.foreachBatch(dimFold)
        .option("checkpointLocation", s"$root/ckpt_dim")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    graft.sources.Lake.readVersioned(spark, view)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("segment"), col("n_events"),
        col("cents").as("total_cents"))
      .orderBy("user_id", "segment")
  }

  // ---- stream_mv_dim_backfill: dim-INSERT reconciliation (r19 #6) --------
  //
  // The half of dim-side maintenance streamMvDimRefresh scoped out: a NEW
  // dim member arrives mid-stream, and the view must adopt the member's
  // ENTIRE fact history — rows the fact-side fold already dropped because
  // the inner join excluded the user. The fold (dimFoldBatch with
  // `backfillFrom`) reconciles post-snapshot insert rows against the fact
  // table: broadcast the new members' keys into a semi-join + aggregate,
  // cost ∝ the new users' fact rows — never a full fact×dim recompute —
  // folded in the SAME single mergeCdc commit (and stamp) as any moves or
  // retirements sharing the batch. In-query requires pin the mechanics:
  // the late cohort is ABSENT after the fact drain and complete after the
  // dim drain; the v1 snapshot batch no-ops by the _commit_version > 1
  // rule. The final view must equal the batch recompute over ALL users.

  private val dimInsertFeeds =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** @return (dim table path, keyed-feed landing path): v1 = the dim
    * WITHOUT the late cohort (user_id % 4 == 1), v2 = the cohort joins.
    */
  private def dimInsertFeedFor(spark: SparkSession,
      dir: String): (String, String) =
    dimInsertFeeds.computeIfAbsent(dir, _ => {
      val root = Scratch.dir("stream_dimins")
      val dimT = s"$root/dim"
      val users = Tables.events(spark, dir).select(col("user_id")).distinct()
        .withColumn("segment",
          concat(lit("S"), (col("user_id") % 3).cast("string")))
      graft.sources.Lake.writeVersioned(spark,
        users.filter(col("user_id") % 4 =!= 1)
          .repartitionByRange(2, col("user_id")), dimT)
      graft.sources.Lake.mergeCdc(spark, dimT,
        users.filter(col("user_id") % 4 === 1)
          .withColumn("_is_deleted", lit(false)),
        Seq("user_id"), col("_is_deleted"))
      val landing = s"$root/landing"
      // sleepless: batch order is immaterial here — the v1 batch no-ops
      // whatever position it drains in (_commit_version == 1), and the
      // v2 insert batch reconciles the same history either way
      graft.sources.Lake.exportChangeFeedLanding(spark, dimT, landing,
        filesPerVersion = 1, keys = Seq("user_id"), mtimeOrder = false)
      (dimT, landing)
    })

  private def streamMvDimBackfill(spark: SparkSession, dir: String): DataFrame = {
    val factLanding = cdfStreamLandingFor(spark, dir)
    // fixture-internal layout: the landing's sibling `t` is the table it
    // was exported from (cdfStreamLandingFor writes root/t + root/landing)
    val factTable = factLanding.stripSuffix("/landing") + "/t"
    val (dimT, dimLanding) = dimInsertFeedFor(spark, dir)
    val root = Scratch.dir("stream_mvbf")
    val view = s"$root/view"
    val dimV1 = graft.sources.Lake.readVersioned(spark, dimT, Some(1L))
      .select("user_id", "segment")
    val typed = jsonStream(spark, factLanding, cdfFeedSchema, Some(2))
      .select(col("user_id"), col("cents"), col("_change_type"))
    val factFold: (DataFrame, Long) => Unit = (batch, bid) => {
      graft.sources.Lake.foldFeedBatchIntoAggView(
        batch.join(broadcast(dimV1), "user_id"), view, bid,
        keys = Seq("user_id", "segment"), sumCols = Seq("cents"),
        countCol = "n_events")
      ()
    }
    val factHead = graft.sources.Lake.readVersioned(spark, factTable)
      .select(col("user_id"), col("cents"))
    val dimTyped = jsonStream(spark, dimLanding, dimFeedSchema, Some(1))
    val dimFold: (DataFrame, Long) => Unit = (batch, bid) =>
      dimFoldBatch(batch, view, bid, backfillFrom = Some(factHead))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q1 = typed.writeStream.foreachBatch(factFold)
        .option("checkpointLocation", s"$root/ckpt_fact")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q1.awaitTermination()
      // the late cohort must be MISSING here — its facts were dropped by
      // the inner join against the v1 dim; only the backfill can add it
      require(graft.sources.Lake.readVersioned(spark, view)
        .filter(col("user_id") >= 0 && col("user_id") % 4 === 1)
        .isEmpty, "late cohort present before the dim-insert backfill")
      val q2 = dimTyped.writeStream.foreachBatch(dimFold)
        .option("checkpointLocation", s"$root/ckpt_dim")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    graft.sources.Lake.readVersioned(spark, view)
      .filter(col("user_id") >= 0)
      .select(col("user_id"), col("segment"), col("n_events"),
        col("cents").as("total_cents"))
      .orderBy("user_id", "segment")
  }

  private val mvDimStreamOracle =
    """WITH f AS (
      |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events
      |  WHERE CAST(ts AS DATE) <= DATE '2024-01-25'
      |    AND CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-08'
      |                                 AND DATE '2024-01-14'),
      |d AS (SELECT DISTINCT user_id,
      |             CASE WHEN user_id % 5 = 0 THEN 'S9'
      |                  ELSE 'S' || CAST(user_id % 3 AS VARCHAR) END AS segment
      |      FROM events
      |      WHERE user_id % 7 <> 3)
      |SELECT f.user_id, d.segment,
      |       CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(f.cents) AS BIGINT) AS total_cents
      |FROM f JOIN d USING (user_id)
      |GROUP BY 1, 2 ORDER BY user_id, segment""".stripMargin

  // ---- stream_cdf_unordered: the NO-SLEEP export lane ---------------------
  //
  // exportChangeFeedLanding(mtimeOrder = false) skips the 1.1 s/version
  // mtime separation (an 18-minute pure-sleep tax on a 1,000-commit
  // backfill), so the three commits' files may share an mtime and the
  // file source is free to interleave versions across micro-batches
  // (maxFilesPerTrigger = 1 maximizes the interleaving surface AND
  // guarantees each sentinel its own batch). The consumer is the
  // retraction-weighted windowed aggregate — commutative over commits,
  // so ANY arrival order lands on the same net state; the watermark
  // cannot drop data under interleaving either (max event time Jan-25 −
  // 720 h lag < every event). Sentinels alone stay mtime-separated from
  // the data: they must close the window LAST. Same oracle as
  // stream_cdf_equiv — the fast-export lane must be indistinguishable.

  private val cdfUnorderedLandings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cdfUnorderedLandingFor(spark: SparkSession, dir: String): String =
    cdfUnorderedLandings.computeIfAbsent(dir, _ => {
      val root = Scratch.dir("stream_cdfu_src")
      val table = s"$root/t"
      val base = Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.sources.Lake.writeVersioned(spark,
        base.filter(col("day") <= lit("2024-01-15").cast("date"))
          .repartitionByRange(2, col("day")), table)
      graft.sources.Lake.appendVersioned(spark,
        base.filter(col("day") > lit("2024-01-15").cast("date") &&
          col("day") <= lit("2024-01-25").cast("date"))
          .repartitionByRange(2, col("day")), table)
      graft.sources.Lake.deleteWhere(spark, table,
        col("day").between(lit("2024-01-08"), lit("2024-01-14")))
      val landing = s"$root/landing"
      graft.sources.Lake.exportChangeFeedLanding(spark, table, landing,
        mtimeOrder = false)
      Thread.sleep(1100) // sentinels only: they must sort after all data
      def sentinel(name: String, day: String): Unit =
        java.nio.file.Files.write(
          java.nio.file.Paths.get(landing, name),
          (s"""{"user_id":-1,"day":"$day","cents":0,""" +
            """"_change_type":"insert","_commit_version":999}""")
            .getBytes("UTF-8"))
      sentinel("zz-sentinel-1.json", "2030-01-01")
      Thread.sleep(20)
      sentinel("zz-sentinel-2.json", "2031-01-01")
      landing
    })

  private def streamCdfUnordered(spark: SparkSession, dir: String): DataFrame = {
    val landing = cdfUnorderedLandingFor(spark, dir)
    val root = Scratch.dir("stream_cdfu")
    val typed = jsonStream(spark, landing, cdfFeedSchema, Some(1))
      .select(col("user_id"), col("cents"),
        col("day").cast("timestamp").as("ts"),
        when(col("_change_type") === "insert", lit(1L))
          .otherwise(lit(-1L)).as("w"))
    val agg = typed
      .withWatermark("ts", "720 hours")
      .groupBy(window(col("ts"), "8760 hours").as("wnd"), col("user_id"))
      .agg(sum(col("w")).as("n_events"),
        sum(col("cents") * col("w")).as("total_cents"))
      .select(col("wnd.start").as("window_start"), col("user_id"),
        col("n_events"), col("total_cents"))
    drainToParquet(agg, s"$root/sink", s"$root/ckpt", shards = 4)
    spark.read.parquet(s"$root/sink")
      .filter(col("user_id") >= 0 && col("n_events") > 0 &&
        col("window_start") < lit("2029-01-01").cast("timestamp"))
      .select("user_id", "n_events", "total_cents")
      .orderBy("user_id")
  }

  // ---- stream_cdf_parquet: the PARQUET landing as a stream ---------------
  //
  // The byte-efficiency lane proven end-to-end: exportChangeFeedLanding's
  // parquet mode (the 100 TB choice — ~3× fewer bytes, column pruning at
  // the consumer's scan) was batch-verified only; this row drives it
  // through the STREAMING consumer. Same three commits, same retraction-
  // weighted stateful aggregate, same oracle as stream_cdf_equiv — the
  // landing format must be invisible to the fold. Sentinels are parquet
  // too (a one-row DataFrame write; a landing is ONE format for its
  // lifetime, and the file stream's schema contract covers every file).

  private val cdfParquetLandings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cdfParquetLandingFor(spark: SparkSession, dir: String): String =
    cdfParquetLandings.computeIfAbsent(dir, _ => {
      val root = Scratch.dir("stream_cdfpq_src")
      val table = s"$root/t"
      val base = Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      graft.sources.Lake.writeVersioned(spark,
        base.filter(col("day") <= lit("2024-01-15").cast("date"))
          .repartitionByRange(2, col("day")), table)
      graft.sources.Lake.appendVersioned(spark,
        base.filter(col("day") > lit("2024-01-15").cast("date") &&
          col("day") <= lit("2024-01-25").cast("date"))
          .repartitionByRange(2, col("day")), table)
      graft.sources.Lake.deleteWhere(spark, table,
        col("day").between(lit("2024-01-08"), lit("2024-01-14")))
      val landing = s"$root/landing"
      graft.sources.Lake.exportChangeFeedLanding(spark, table, landing,
        format = "parquet")
      Thread.sleep(1100)
      def sentinel(name: String, day: String): Unit = {
        import spark.implicits._
        val stage = s"$root/stage-$name"
        // `day` is a DATE in the parquet landing (the table's own type
        // rides through the feed) — the sentinel must match it
        Seq((-1L, day, 0L, "insert", 999L))
          .toDF("user_id", "day", "cents", "_change_type", "_commit_version")
          .withColumn("day", col("day").cast("date"))
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val src = new java.io.File(stage).listFiles()
          .filter(f => f.isFile && f.getName.startsWith("part-")).head
        java.nio.file.Files.move(src.toPath,
          java.nio.file.Paths.get(landing, s"$name.parquet"))
      }
      sentinel("zz-sentinel-1", "2030-01-01")
      Thread.sleep(20)
      sentinel("zz-sentinel-2", "2031-01-01")
      landing
    })

  private val cdfParquetSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("day",
      org.apache.spark.sql.types.DateType), // the table's own type
    org.apache.spark.sql.types.StructField("cents",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("_change_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("_commit_version",
      org.apache.spark.sql.types.LongType)))

  private def streamCdfParquet(spark: SparkSession, dir: String): DataFrame = {
    val landing = cdfParquetLandingFor(spark, dir)
    val root = Scratch.dir("stream_cdfpq")
    val typed = spark.readStream.schema(cdfParquetSchema)
      .option("maxFilesPerTrigger", 2).parquet(landing)
      .select(col("user_id"), col("cents"),
        col("day").cast("timestamp").as("ts"),
        when(col("_change_type") === "insert", lit(1L))
          .otherwise(lit(-1L)).as("w"))
    val agg = typed
      .withWatermark("ts", "720 hours")
      .groupBy(window(col("ts"), "8760 hours").as("wnd"), col("user_id"))
      .agg(sum(col("w")).as("n_events"),
        sum(col("cents") * col("w")).as("total_cents"))
      .select(col("wnd.start").as("window_start"), col("user_id"),
        col("n_events"), col("total_cents"))
    drainToParquet(agg, s"$root/sink", s"$root/ckpt", shards = 4)
    spark.read.parquet(s"$root/sink")
      .filter(col("user_id") >= 0 && col("n_events") > 0 &&
        col("window_start") < lit("2029-01-01").cast("timestamp"))
      .select("user_id", "n_events", "total_cents")
      .orderBy("user_id")
  }

  // ---- stream_cdf_retention: prune the landing, keep exactly-once -------
  //
  // The lifecycle that bounds a landing (r18's verdict: "the landing
  // appends forever"), end to end IN the driver-hashed row: a snapshot
  // and a COW delete export → the MV-fold drain consumes them (the
  // delete batch RETRACTS through the fold) → the landing is PRUNED
  // against the consumer's checkpoint (Lake.pruneChangeFeedLanding:
  // only sealed versions whose every part a committed batch names;
  // markers stay as the producer's resume watermark) → the producer
  // appends commit 3 and the resume export publishes ONLY v3 (a
  // re-export of a pruned version would hand the consumer duplicate
  // rows) → the SAME checkpoint drains the new file and folds it.
  // In-query requires pin the mechanics (both consumed versions pruned,
  // post-prune landing holds only v3 data files); the final view must
  // equal the three-commit batch recompute — a re-exported pruned
  // version, an over-eager prune, or a fold replay all break it.

  private def streamCdfRetention(spark: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("stream_cdfret")
    val table = s"$root/t"
    val landing = s"$root/landing"
    val view = s"$root/view"
    val ckpt = s"$root/ckpt"
    val base = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    graft.sources.Lake.writeVersioned(spark,
      base.filter(col("day") <= lit("2024-01-25").cast("date"))
        .repartitionByRange(2, col("day")), table)
    graft.sources.Lake.deleteWhere(spark, table,
      col("day").between(lit("2024-01-08"), lit("2024-01-14")))
    // the ZERO-SLEEP export lane (no 1.1 s/version mtime separation):
    // versions may interleave across micro-batches, so the fold runs
    // order-insensitive (retainNonPositive — per-key addition commutes;
    // the ≤0-delete fold would LOSE a retraction that arrived before its
    // insert) and the read filters the zeros a final compaction would drop
    graft.sources.Lake.exportChangeFeedLanding(spark, table, landing,
      mtimeOrder = false)
    runMvFoldDrain(spark, landing, view, ckpt, retainNonPositive = true)
    val (nv, nf) = graft.sources.Lake.pruneChangeFeedLanding(
      spark, landing, ckpt)
    require(nv == 2L && nf >= 2L,
      s"retention pruned nv=$nv versions / nf=$nf files; expected both " +
        "consumed versions reclaimed")
    graft.sources.Lake.appendVersioned(spark,
      base.filter(col("day") > lit("2024-01-25").cast("date") &&
        col("day") <= lit("2024-01-31").cast("date"))
        .repartitionByRange(2, col("day")), table)
    val head = graft.sources.Lake.exportChangeFeedLanding(
      spark, table, landing, mtimeOrder = false)
    require(head == 3L, s"resume exported to v$head, expected v3")
    val dataFiles = new java.io.File(landing).listFiles()
      .map(_.getName).filter(_.startsWith("cdf-")).toSeq
    require(dataFiles.nonEmpty && dataFiles.forall(_.startsWith("cdf-v00003")),
      s"resume after retention re-exported pruned versions: $dataFiles")
    runMvFoldDrain(spark, landing, view, ckpt, retainNonPositive = true)
    graft.sources.Lake.readVersioned(spark, view)
      .filter(col("user_id") >= 0 && col("n_events") > 0)
      .select(col("user_id"), col("n_events"),
        col("cents").as("total_cents"))
      .orderBy("user_id")
  }

  // ---- lake_vacuum_cdf: vacuum × change feed, the production data-loss
  // window driven end to end (r18 #8 / r19 #3) -----------------------------
  //
  // Retention deleting what the feed still needs is the classic lakehouse
  // hazard. The composed proof, all inside the driver-hashed row:
  //   1. snapshot + COW delete export to a landing; the consumer drains
  //      and folds both versions;
  //   2. the producer appends v3, then VACUUMS to keepLast=2 — v1's
  //      unshared files are gone and v2 becomes the materialized horizon
  //      (its delta feed is uncomputable: the predecessor vanished);
  //   3. the RESUMED export is exact anyway — markers say v1..v2 already
  //      published, so it exports ONLY v3's delta (never touching the
  //      vacuumed range), and the same checkpoint folds it;
  //   4. a FRESH export over the vacuumed range REFUSES loudly (in-query
  //      intercept): silently skipping v1..v2 would hand a new consumer
  //      a table-sized hole. The recovery path for a late consumer is a
  //      snapshot + the surviving feed tail, never a partial feed.
  // The final view must equal the three-commit batch recompute — an
  // over-eager vacuum, a resume that re-fed the horizon as inserts, or a
  // fresh export that "succeeded" all break the hash or the requires.

  private def lakeVacuumCdf(spark: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("lake_vac_cdf")
    val table = s"$root/t"
    val landing = s"$root/landing"
    val view = s"$root/view"
    val ckpt = s"$root/ckpt"
    val base = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    graft.sources.Lake.writeVersioned(spark,
      base.filter(col("day") <= lit("2024-01-15").cast("date"))
        .repartitionByRange(2, col("day")), table)
    graft.sources.Lake.deleteWhere(spark, table,
      col("day").between(lit("2024-01-08"), lit("2024-01-14")))
    graft.sources.Lake.exportChangeFeedLanding(spark, table, landing,
      mtimeOrder = false)
    runMvFoldDrain(spark, landing, view, ckpt, retainNonPositive = true)
    graft.sources.Lake.appendVersioned(spark,
      base.filter(col("day") > lit("2024-01-15").cast("date") &&
        col("day") <= lit("2024-01-25").cast("date"))
        .repartitionByRange(2, col("day")), table)
    // vacuum past the exported range: v1 drops, v2 is the materialized
    // horizon — the feed for 1..2 is now uncomputable from the table
    val dropped = graft.sources.Lake.vacuum(spark, table, keepLast = 2,
      orphanGraceMs = 0L)
    require(dropped == Seq(1L), s"vacuum dropped $dropped, expected v1")
    // the landing already COVERS the vacuumed versions: the resume export
    // consults the markers, exports only v3's delta, and the consumer's
    // checkpoint folds exactly the new file
    val head = graft.sources.Lake.exportChangeFeedLanding(spark, table,
      landing, mtimeOrder = false)
    require(head == 3L, s"resume exported to v$head, expected v3")
    val post = new java.io.File(landing).listFiles().map(_.getName)
      .filter(n => n.startsWith("cdf-") && !n.startsWith("cdf-v00001") &&
        !n.startsWith("cdf-v00002"))
    require(post.nonEmpty && post.forall(_.startsWith("cdf-v00003")),
      s"resume after vacuum exported unexpected versions: ${post.toSeq}")
    runMvFoldDrain(spark, landing, view, ckpt, retainNonPositive = true)
    // a FRESH landing over the vacuumed range must refuse, not fabricate
    val refusal =
      try { graft.sources.Lake.exportChangeFeedLanding(spark, table,
        s"$root/fresh", mtimeOrder = false); None }
      catch { case e: Throwable => Some(e) }
    require(refusal.isDefined,
      "fresh change-feed export over a vacuumed range must refuse")
    graft.sources.Lake.readVersioned(spark, view)
      .filter(col("user_id") >= 0 && col("n_events") > 0)
      .select(col("user_id"), col("n_events"),
        col("cents").as("total_cents"))
      .orderBy("user_id")
  }

  // ---- stream_cdf_multiconsumer: intersection retention, driver-hashed --
  //
  // Two consumers at DIFFERENT offsets share one landing — the shape the
  // r19 advisor flagged: pruning per-consumer is a union and loses the
  // laggard's data. The row drives the whole contract:
  //   1. v1 exports; consumers A and B both drain and fold it;
  //   2. v2 exports; only A drains it — B now lags a full version;
  //   3. prune(Seq(A, B)) reclaims ONLY v1 (both proved it) and must
  //      leave v2's files for B (in-query require — deleting them here
  //      is exactly the advisor's data-loss scenario);
  //   4. B catches up from the SAME checkpoint, folds v2;
  //   5. a second intersection prune now reclaims v2;
  //   6. a consumer ADDED after the prunes is refused by the intact gate
  //      (in-query intercept — a fresh checkpoint would fold a partial
  //      history).
  // The returned view is B's — the LAGGARD's fold must equal the batch
  // recompute; a premature prune surfaces as missing v2 rows (hash), an
  // over-retentive prune as the in-query requires failing.

  private def streamCdfMultiConsumer(spark: SparkSession, dir: String): DataFrame = {
    val root = Scratch.dir("stream_cdfmc")
    val table = s"$root/t"
    val landing = s"$root/landing"
    val base = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
    graft.sources.Lake.writeVersioned(spark,
      base.filter(col("day") <= lit("2024-01-15").cast("date"))
        .repartitionByRange(2, col("day")), table)
    graft.sources.Lake.appendVersioned(spark,
      base.filter(col("day") > lit("2024-01-15").cast("date") &&
        col("day") <= lit("2024-01-25").cast("date"))
        .repartitionByRange(2, col("day")), table)
    // v1 publishes alone; both consumers fold it
    graft.sources.Lake.exportChangeFeedLanding(spark, table, landing,
      upTo = Some(1L), mtimeOrder = false)
    def drain(view: String, ckpt: String): Unit =
      runMvFoldDrain(spark, landing, view, ckpt, retainNonPositive = true)
    drain(s"$root/viewA", s"$root/ckptA"); drain(s"$root/viewB", s"$root/ckptB")
    // v2 publishes; only A drains — B lags
    graft.sources.Lake.exportChangeFeedLanding(spark, table, landing,
      mtimeOrder = false)
    drain(s"$root/viewA", s"$root/ckptA")
    val (nv1, _) = graft.sources.Lake.pruneChangeFeedLanding(spark, landing,
      Seq(s"$root/ckptA", s"$root/ckptB"))
    require(nv1 == 1L, s"intersection prune reclaimed $nv1 versions, want v1 only")
    val survivors = new java.io.File(landing).listFiles().map(_.getName)
      .filter(_.startsWith("cdf-")).toSeq
    require(survivors.nonEmpty && survivors.forall(_.startsWith("cdf-v00002")),
      s"prune must keep exactly the laggard's unread v2: $survivors")
    // B catches up from its own checkpoint; the second intersection
    // prune may now reclaim v2
    drain(s"$root/viewB", s"$root/ckptB")
    val (nv2, _) = graft.sources.Lake.pruneChangeFeedLanding(spark, landing,
      Seq(s"$root/ckptA", s"$root/ckptB"))
    require(nv2 == 1L, s"post-catch-up prune reclaimed $nv2 versions, want v2")
    // a consumer added NOW must refuse, not fold the gutted history
    val refusal =
      try { graft.sources.Lake.requireLandingIntact(spark, landing); None }
      catch { case e: Throwable => Some(e) }
    require(refusal.isDefined,
      "intact gate passed a landing whose sealed versions were pruned")
    graft.sources.Lake.readVersioned(spark, s"$root/viewB")
      .filter(col("user_id") >= 0 && col("n_events") > 0)
      .select(col("user_id"), col("n_events"),
        col("cents").as("total_cents"))
      .orderBy("user_id")
  }

  private val cdfMultiConsumerOracle =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM events
      |WHERE CAST(ts AS DATE) <= DATE '2024-01-25'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  private val cdfRetentionOracle =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM events
      |WHERE CAST(ts AS DATE) <= DATE '2024-01-31'
      |  AND CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---- stream_restart_equiv: crash-recovery exactly-once ----------------
  //
  // A32's strongest form: the stateful dedup drain is STOPPED mid-run
  // right after its first committed micro-batch — stop() interrupts
  // whatever batch is in flight, which is exactly the state a crashed
  // driver leaves behind (offsets logged, maybe sink files written, no
  // commit) — and a second start from the same checkpoint must land on
  // the batch answer with no dups or losses. Three replay mechanisms
  // compose under test: the file source re-reads the uncommitted batch
  // from its offset log, the state store resumes from the last COMMITTED
  // batch's version, and the parquet sink's _spark_metadata manifest
  // hides any orphan files the kill left (spark.read.parquet consults
  // it, so a replayed batch's second write wins and the first is
  // invisible). The output SET is stop-point-independent — duplicates
  // are identical rows and the horizon outlives the span, so
  // first-occurrence == any-occurrence — which is what makes the row
  // hash-exact wherever the stop lands; StreamingOpsSpec holds the
  // mid-drain evidence (stop strictly before the drain finishes).

  /** Start the dedup drain at 1 file/trigger, stop it after the first
    * progress event that committed rows, then resume from the same
    * checkpoint to completion. Public so StreamingOpsSpec can assert the
    * mid-drain case (committed > 0 and < total) reproduces. `landing`
    * must hold [[dedupSchema]]-shaped JSON.
    * @return sink rows visible at the stop point (what the kill left
    *         committed)
    */
  def runKilledThenResumedDedup(spark: SparkSession, landing: String,
      root: String): Long = {
    val sink = s"$root/sink"
    val ckpt = s"$root/ckpt"
    def dedup = StreamAggs.dedupWithinWatermark(
      jsonStream(spark, landing, dedupSchema, Some(1))
        .withColumn("ts", col("ts").cast("timestamp")),
      horizon = "8760 hours")
    def start() = dedup.writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = start()
      // stop as soon as one micro-batch committed: a ~25 ms poll against
      // ~500 ms batches lands the stop mid-drain with several of the 5+
      // single-file batches still unread (if the drain still wins the
      // race the resume is a no-op and the equivalence holds trivially —
      // the spec retries until the mid-drain case is the one proven)
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (q.isActive &&
          !q.recentProgress.exists(_.numInputRows > 0) &&
          System.nanoTime() < deadline) Thread.sleep(25)
      q.stop()
      q.awaitTermination()
      val committed =
        try spark.read.parquet(sink).count()
        catch { case _: Throwable => 0L } // stopped before any sink commit
      val q2 = start()
      q2.awaitTermination()
      committed
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def streamRestartEquiv(spark: SparkSession, dir: String): DataFrame = {
    val landing = dedupLandingFor(spark, dir)
    val root = Scratch.dir("stream_restart")
    runKilledThenResumedDedup(spark, landing, root)
    spark.read.parquet(s"$root/sink")
      .orderBy("event_id", "ts", "user_id", "value")
  }

  /** Bench prebuild hook for the stateful-row landings. */
  def prebuildStatefulLandings(spark: SparkSession, dir: String): Unit = {
    dedupLandingFor(spark, dir)
    joinLandingsFor(spark, dir)
    outerJoinLandingsFor(spark, dir)
    staticJoinLandingFor(spark, dir)
    sessionLandingFor(spark, dir)
    twsLandingFor(spark, dir)
    twsTimerLandingFor(spark, dir)
    chainedLandingsFor(spark, dir)
    cdcLandingFor(spark, dir)
    debeziumLandingFor(spark, dir)
    cdfStreamLandingFor(spark, dir)
    cdfScd1LandingFor(spark, dir)
    cdfUnorderedLandingFor(spark, dir)
    cdfParquetLandingFor(spark, dir)
    dimFeedLandingFor(spark, dir)
    dimInsertFeedFor(spark, dir)
  }

  def all: Seq[QueryDef] = Seq(
    QueryDef("stream_wap_equiv", streamWapEquiv, Some(wapOracle)),
    QueryDef("stream_silver_equiv", streamSilverEquiv, Some(silverOracle)),
    QueryDef("stream_gold_incremental", streamGoldIncremental, Some(goldOracle)),
    QueryDef("stream_dedup_equiv", streamDedupEquiv, Some(dedupOracle)),
    QueryDef("stream_join_equiv", streamJoinEquiv, Some(joinOracle)),
    QueryDef("stream_outer_join_equiv", streamOuterJoinEquiv,
      Some(outerJoinOracle)),
    QueryDef("stream_full_outer_join_equiv", streamFullOuterJoinEquiv,
      Some(fullOuterJoinOracle)),
    QueryDef("stream_semi_join_equiv", streamSemiJoinEquiv,
      Some(semiJoinOracle)),
    QueryDef("stream_anti_join_equiv", streamAntiJoinEquiv,
      Some(antiJoinOracle)),
    QueryDef("stream_right_outer_join_equiv", streamRightOuterJoinEquiv,
      Some(rightOuterJoinOracle)),
    QueryDef("stream_static_join_equiv", streamStaticJoinEquiv,
      Some(staticJoinOracle)),
    QueryDef("stream_sessions_equiv", streamSessionsEquiv, Some(sessionsOracle)),
    QueryDef("stream_sliding_window_equiv", streamSlidingWindowEquiv,
      Some(slidingWindowOracle)),
    QueryDef("stream_tws_equiv", streamTwsEquiv, Some(twsOracle)),
    QueryDef("stream_tws_timer_equiv", streamTwsTimerEquiv,
      Some(twsTimerOracle)),
    QueryDef("stream_chained_equiv", streamChainedEquiv,
      Some(chainedOracle)),
    QueryDef("stream_cdc_equiv", streamCdcEquiv, Some(cdcOracle)),
    QueryDef("stream_debezium_equiv", streamDebeziumEquiv, Some(debeziumOracle)),
    QueryDef("stream_cdf_equiv", streamCdfEquiv, Some(cdfFeedOracle)),
    QueryDef("stream_cdf_scd1", streamCdfScd1, Some(cdfScd1Oracle)),
    // same oracle as stream_cdf_equiv: the continuous MV fold and the
    // no-sleep export lane must land on the identical net state
    QueryDef("stream_mv_refresh", streamMvRefresh, Some(cdfFeedOracle)),
    QueryDef("stream_mv_join_refresh", streamMvJoinRefresh,
      Some(mvJoinStreamOracle)),
    QueryDef("stream_mv_dim_backfill", streamMvDimBackfill,
      Some(mvJoinStreamOracle)),
    QueryDef("stream_mv_dim_refresh", streamMvDimRefresh,
      Some(mvDimStreamOracle)),
    QueryDef("stream_cdf_unordered", streamCdfUnordered, Some(cdfFeedOracle)),
    QueryDef("stream_cdf_parquet", streamCdfParquet, Some(cdfFeedOracle)),
    QueryDef("lake_vacuum_cdf", lakeVacuumCdf, Some(cdfFeedOracle)),
    QueryDef("stream_cdf_multiconsumer", streamCdfMultiConsumer,
      Some(cdfMultiConsumerOracle)),
    QueryDef("stream_cdf_retention", streamCdfRetention,
      Some(cdfRetentionOracle)),
    // same oracle as stream_dedup_equiv: the restart protocol must land
    // on the identical distinct-event set
    QueryDef("stream_restart_equiv", streamRestartEquiv, Some(dedupOracle)),
  )
}
