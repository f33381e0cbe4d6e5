package graft

import graft.stream.Ingest
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._

/** Stream ≡ batch equivalence — the DLT semantics the reference relies on
  * (SURVEY.md §5.4): silver computed by incremental streaming over files
  * arriving in multiple batches equals the batch computation on the union.
  */
class StreamingSpec extends SparkSpec {

  private def writeFile(dir: Path, name: String, lines: Seq[String]): Unit =
    Files.write(dir.resolve(name), String.join("\n", lines: _*).getBytes)

  private def evt(id: String, loc: String, ts: String, st: String, qf: String, v: Double) =
    s"""{"device_id":"$id","location_id":"$loc","timestamp":"$ts","sensor_type":"$st","quality_flag":"$qf","unit":"C","value":$v}"""

  test("incremental silver over arriving files == batch silver over the union") {
    val root = Files.createTempDirectory("graft-stream")
    val landing = Files.createDirectory(root.resolve("landing"))
    val silverDir = root.resolve("silver").toString
    val ckpt = root.resolve("ckpt").toString

    // batch 1 arrives
    writeFile(landing, "b1.jsonl", Seq(
      evt("d1", "l1", "2024-01-01T00:00:00", "temperature", "good", 20.5),
      evt("d2", "l1", "2024-01-01T00:01:00", "pressure", "bad", 1.0),   // dropped
      evt("d3", "l2", "2024-01-01T00:02:00", "humidity", " Good ", 55.0), // kept raw (hazard 3)
    ))
    Ingest.runSilverPipeline(spark, landing.toString, silverDir, ckpt)

    // batch 2 arrives later; stream resumes from checkpoint
    writeFile(landing, "b2.jsonl", Seq(
      evt("d1", "l1", "2024-01-01T01:00:00", "temperature", "suspect", 21.0),
      evt("d4", "l3", "2024-01-01T01:01:00", "motion", "error", 0.0),   // dropped
    ))
    Ingest.runSilverPipeline(spark, landing.toString, silverDir, ckpt)

    val streamed = spark.read.parquet(silverDir)
    val batch = Ingest.silverTransform(Ingest.bronzeBatch(spark, landing.toString))

    assert(streamed.count() == 3)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // raw flag survives the normalized filter
    assert(streamed.filter(col("quality_flag") === " Good ").count() == 1)
  }

  test("streamed tables are first-class Lake tables: drain -> skip, re-drain appends") {
    val root = Files.createTempDirectory("graft-stream-lake")
    val landing = Files.createDirectory(root.resolve("landing"))
    val silverDir = root.resolve("silver").toString
    val ckpt = root.resolve("ckpt").toString
    writeFile(landing, "b1.jsonl", (0 until 50).map(i =>
      evt(f"d$i%03d", "l1", f"2024-01-01T00:${i % 60}%02d:00", "temperature",
        "good", i.toDouble)))
    Ingest.runSilverPipeline(spark, landing.toString, silverDir, ckpt,
      statsCols = Seq("device_id"))
    // the stream-written table skips/probes WITHOUT any corpus-scan
    // writeStats: the manifest is fresh (validatedManifest's stale guard
    // passes) and the sink log is untouched
    import graft.sources.Lake
    assert(new java.io.File(silverDir, "_spark_metadata").exists())
    assert(Lake.rowCountFromManifest(spark, silverDir).contains(50L))
    val skim = Lake.readSkipping(spark, silverDir,
      Lake.skipRange("device_id", lit("d000"), lit("d009")))
    assert(skim.filter(col("device_id") <= "d009").count() == 10)
    // a second drain appends a batch file; stats follow INCREMENTALLY
    // (appendStats covers just the new file) and stay fresh
    writeFile(landing, "b2.jsonl", (50 until 70).map(i =>
      evt(f"d$i%03d", "l2", f"2024-01-01T01:${i % 60}%02d:00", "temperature",
        "good", i.toDouble)))
    Ingest.runSilverPipeline(spark, landing.toString, silverDir, ckpt,
      statsCols = Seq("device_id"))
    assert(Lake.rowCountFromManifest(spark, silverDir).contains(70L))
    val skim2 = Lake.readSkipping(spark, silverDir,
      Lake.skipRange("device_id", lit("d060"), lit("d069")))
    assert(skim2.filter(col("device_id") >= "d060").count() == 10)
    // files really prune: the d060+ probe cannot need the batch-1 file
    assert(skim2.inputFiles.length <
      spark.read.parquet(silverDir).inputFiles.length)
    // idempotent: a no-op re-drain adds no stats rows
    assert(Ingest.publishStreamStats(spark, silverDir, Seq("device_id")) == 0L)
  }

  test("re-running the drained stream is a no-op (exactly-once)") {
    val root = Files.createTempDirectory("graft-stream2")
    val landing = Files.createDirectory(root.resolve("landing"))
    val silverDir = root.resolve("silver").toString
    val ckpt = root.resolve("ckpt").toString
    writeFile(landing, "b1.jsonl", Seq(
      evt("d1", "l1", "2024-01-01T00:00:00", "temperature", "good", 20.5)))
    Ingest.runSilverPipeline(spark, landing.toString, silverDir, ckpt)
    Ingest.runSilverPipeline(spark, landing.toString, silverDir, ckpt)
    assert(spark.read.parquet(silverDir).count() == 1)
  }

  test("streamed tables become VERSIONED: drain commits, travel, delete, merge") {
    import graft.sources.Lake
    val root = Files.createTempDirectory("graft-stream-ver")
    val landing = Files.createDirectory(root.resolve("landing"))
    val silverDir = root.resolve("silver").toString
    val ckpt = root.resolve("ckpt").toString
    writeFile(landing, "b1.jsonl", (0 until 40).map(i =>
      evt(f"d$i%03d", "l1", f"2024-01-01T00:${i % 60}%02d:00", "temperature",
        "good", i.toDouble)))
    // drain 1 → version 1 (the Delta streaming-table shape: every drain
    // lands as a time-travelable commit, no bootstrap step anywhere)
    Ingest.runSilverPipeline(spark, landing.toString, silverDir, ckpt,
      statsCols = Seq("device_id"), versioned = true)
    assert(Lake.listVersions(spark, silverDir) == Seq(1L))
    assert(Lake.readVersioned(spark, silverDir).count() == 40)
    // re-drain with nothing new: exactly-once carries to the VERSION level
    Ingest.runSilverPipeline(spark, landing.toString, silverDir, ckpt,
      statsCols = Seq("device_id"), versioned = true)
    assert(Lake.listVersions(spark, silverDir) == Seq(1L))
    // drain 2 → version 2, version 1 still shows the old state
    writeFile(landing, "b2.jsonl", (40 until 60).map(i =>
      evt(f"d$i%03d", "l2", f"2024-01-01T01:${i % 60}%02d:00", "temperature",
        "good", i.toDouble)))
    Ingest.runSilverPipeline(spark, landing.toString, silverDir, ckpt,
      statsCols = Seq("device_id"), versioned = true)
    assert(Lake.listVersions(spark, silverDir) == Seq(1L, 2L))
    assert(Lake.readVersioned(spark, silverDir).count() == 60)
    assert(Lake.readVersioned(spark, silverDir, Some(1L)).count() == 40)
    // version commits BEFORE stats (order is load-bearing): the stats
    // manifest must cover THIS drain's files immediately — a pre-commit
    // stats append would leave them uncovered and the stale-manifest
    // guard would refuse every skip read until the next drain
    val skipped = Lake.readSkipping(spark, silverDir,
      Lake.skipRange("device_id", lit("d040"), lit("d059")))
    assert(skipped.filter(col("device_id").between("d040", "d059"))
      .count() == 20)
    // file-granular DELETE on the stream-fed table, no bootstrap call
    val (v3, removed) = Lake.deleteWhere(spark, silverDir,
      col("device_id") === "d005")
    assert(v3 == 3L && removed == 1L)
    assert(Lake.readVersioned(spark, silverDir).count() == 59)
    // a later drain must NOT re-adopt files the delete retired (they are
    // still on disk for time travel): only genuinely new files commit
    writeFile(landing, "b3.jsonl", Seq(
      evt("d900", "l3", "2024-01-01T02:00:00", "temperature", "good", 1.0)))
    Ingest.runSilverPipeline(spark, landing.toString, silverDir, ckpt,
      statsCols = Seq("device_id"), versioned = true)
    val cur = Lake.readVersioned(spark, silverDir)
    assert(cur.count() == 60)
    assert(cur.filter(col("device_id") === "d005").isEmpty)
    // file-granular MERGE into the stream-fed table (a correction batch)
    val fix = cur.filter(col("device_id") === "d010")
      .withColumn("value", lit(999.0))
    val (_, (upd, ins)) = Lake.mergeInto(spark, silverDir, fix,
      Seq("device_id"))
    assert(upd == 1L && ins == 0L)
    assert(Lake.readVersioned(spark, silverDir)
      .filter(col("device_id") === "d010")
      .select("value").head().getDouble(0) == 999.0)
  }

  test("continuous mode: one version per micro-batch, batch replay no-ops") {
    import graft.sources.Lake
    val root = Files.createTempDirectory("graft-stream-cont")
    val landing = Files.createDirectory(root.resolve("landing"))
    val silverDir = root.resolve("silver").toString
    val ckpt = root.resolve("ckpt").toString
    writeFile(landing, "b1.jsonl", (0 until 10).map(i =>
      evt(f"d$i%03d", "l1", "2024-01-01T00:00:00", "temperature", "good", i.toDouble)))
    writeFile(landing, "b2.jsonl", (10 until 25).map(i =>
      evt(f"d$i%03d", "l1", "2024-01-01T01:00:00", "temperature", "good", i.toDouble)))
    // maxFilesPerTrigger(1): two landing files → two micro-batches → two
    // versions, each manifest carrying its batch id
    Ingest.runContinuousSilverPipeline(spark, landing.toString, silverDir,
      ckpt, maxFilesPerTrigger = Some(1))
    assert(Lake.listVersions(spark, silverDir) == Seq(1L, 2L))
    assert(Lake.readVersioned(spark, silverDir).count() == 25)
    assert(Lake.readVersioned(spark, silverDir, Some(1L)).count() == 10)
    // a re-drain replays nothing: checkpoint skips committed batches
    Ingest.runContinuousSilverPipeline(spark, landing.toString, silverDir,
      ckpt, maxFilesPerTrigger = Some(1))
    assert(Lake.listVersions(spark, silverDir) == Seq(1L, 2L))
    // simulated CRASH REPLAY of batch 0 (crash after write, before the
    // checkpoint commit): the manifest batch-id gate no-ops before any
    // write — no duplicate rows, no new version
    val replay = Lake.readVersioned(spark, silverDir, Some(1L))
    assert(Lake.appendVersioned(spark, replay, silverDir,
      streamBatchId = Some(0L)) == 2L) // current version, unchanged
    assert(Lake.listVersions(spark, silverDir) == Seq(1L, 2L))
    assert(Lake.readVersioned(spark, silverDir).count() == 25)
    // a NEW batch id appends normally
    assert(Lake.appendVersioned(spark, replay.limit(1), silverDir,
      streamBatchId = Some(2L)) == 3L)
    assert(Lake.readVersioned(spark, silverDir).count() == 26)
    // file-granular delete works on the continuous table too
    val (_, removed) = Lake.deleteWhere(spark, silverDir,
      col("device_id") === "d001")
    assert(removed == 1L)
  }

  test("continuous stream survives upstream column drift: drifted batch evolves the schema in-commit") {
    import graft.sources.Lake
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-evo").toString + "/t"
    val b0 = Seq(("d1", 1.0), ("d2", 2.0)).toDF("device_id", "value")
    val b1 = Seq(("d3", 3.0)).toDF("device_id", "value")
    // the 24/7 foreachBatch shape: appendVersioned per micro-batch id
    assert(Lake.appendVersioned(spark, b0, dir, streamBatchId = Some(0L)) == 1L)
    assert(Lake.appendVersioned(spark, b1, dir, streamBatchId = Some(1L)) == 2L)
    // upstream adds a firmware column mid-stream: the drifted batch
    // bootstraps the schema chain (v1 = old schema) and lands as schema
    // v2 in the SAME commit — the stream never stops
    val b2 = Seq(("d4", 4.0, "fw9")).toDF("device_id", "value", "firmware")
    assert(Lake.appendVersioned(spark, b2, dir, streamBatchId = Some(2L)) == 3L)
    val cur = Lake.readVersioned(spark, dir)
    assert(cur.columns.toSeq == Seq("device_id", "value", "firmware"))
    assert(cur.count() == 4)
    assert(cur.filter(col("firmware").isNull).count() == 3) // pre-drift eras
    // crash-replay of the DRIFTED batch no-ops: its id rode the
    // evolve-append manifest through the same gate as plain appends
    assert(Lake.appendVersioned(spark, b2, dir, streamBatchId = Some(2L)) == 3L)
    assert(Lake.readVersioned(spark, dir).count() == 4)
    // post-drift same-schema batches do NOT grow the schema chain (a
    // per-batch chain entry would pile thousands of identical versions)
    val b3 = Seq(("d5", 5.0, "fwA")).toDF("device_id", "value", "firmware")
    assert(Lake.appendVersioned(spark, b3, dir, streamBatchId = Some(3L)) == 4L)
    assert(Lake.schemaVersions(spark, dir).size == 2)
    // time travel still rewinds data across the schema boundary
    assert(Lake.readVersioned(spark, dir, Some(2L)).count() == 3)
    // invalid drift still refuses loudly: a batch DROPPING a column
    val bad = Seq(("d6", "fwB")).toDF("device_id", "firmware")
    val e = intercept[IllegalArgumentException](
      Lake.appendVersioned(spark, bad, dir, streamBatchId = Some(4L)))
    assert(e.getMessage.contains("missing from"), e.getMessage)
  }

  test("continuous silver→gold: the gold aggregate is feed-maintained per batch") {
    import graft.sources.Lake
    val root = Files.createTempDirectory("graft-stream-gold")
    val landing = Files.createDirectory(root.resolve("landing"))
    val silverDir = root.resolve("silver").toString
    val goldDir = root.resolve("gold").toString
    val ckpt = root.resolve("ckpt").toString
    writeFile(landing, "b1.jsonl", (0 until 10).map(i =>
      evt(f"d$i%03d", "l1", "2024-01-01T00:00:00", "temperature", "good", i.toDouble)))
    writeFile(landing, "b2.jsonl", (10 until 25).map(i =>
      evt(f"d$i%03d", if (i % 2 == 0) "l1" else "l2", "2024-01-01T01:00:00",
        "humidity", "good", i.toDouble)))
    Ingest.runContinuousSilverGoldPipeline(spark, landing.toString,
      silverDir, goldDir, ckpt, maxFilesPerTrigger = Some(1))
    // gold must equal a direct aggregate over the drained silver
    val gold = Lake.readVersioned(spark, goldDir)
      .orderBy("location_id", "sensor_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val direct = Lake.readVersioned(spark, silverDir)
      .groupBy("location_id", "sensor_type")
      .agg(count(lit(1)).as("n_events"), sum("value").as("value"))
      .orderBy("location_id", "sensor_type")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(gold.toSeq == direct.toSeq, s"${gold.toSeq} vs ${direct.toSeq}")
    // re-drain: no new batches → silver unchanged, gold refresh no-ops
    val goldVersions = Lake.listVersions(spark, goldDir)
    Ingest.runContinuousSilverGoldPipeline(spark, landing.toString,
      silverDir, goldDir, ckpt, maxFilesPerTrigger = Some(1))
    assert(Lake.listVersions(spark, goldDir) == goldVersions)
  }

  test("continuous silver→gold: a steady micro-batch stays within its job budget") {
    import java.util.concurrent.ConcurrentHashMap
    import java.util.concurrent.atomic.AtomicLong
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.GraftSqlShims
    val root = Files.createTempDirectory("graft-stream-jobs")
    val landing = Files.createDirectory(root.resolve("landing"))
    for (f <- 0 until 3)
      writeFile(landing, s"b$f.jsonl", (0 until 12).map(i =>
        evt(f"d$f$i%02d", s"l${i % 3}", "2024-01-01T00:00:00",
          if (i % 2 == 0) "temperature" else "humidity", "good", i.toDouble)))
    // Jobs per micro-batch. Spark stamps each job with the batch id of the
    // thread that submits it; a pooled helper thread can carry a stale id
    // from the batch that created it, and batches run one at a time, so a
    // job belongs to the newest batch id seen so far. The tag keeps other
    // suites' jobs out.
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val current = new AtomicLong(-1L)
    val perBatch = new ConcurrentHashMap[Long, AtomicLong]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("graft.spec.tag") == tag)
          .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach { b =>
            val batch = current.accumulateAndGet(b.toLong, math.max)
            perBatch.computeIfAbsent(batch, _ => new AtomicLong).incrementAndGet()
          }
    }
    GraftSqlShims.drainListeners(sc)
    sc.addSparkListener(l)
    sc.setLocalProperty("graft.spec.tag", tag)
    try {
      Ingest.runContinuousSilverGoldPipeline(spark, landing.toString,
        root.resolve("silver").toString, root.resolve("gold").toString,
        root.resolve("ckpt").toString, maxFilesPerTrigger = Some(1))
      GraftSqlShims.drainListeners(sc)
    } finally {
      sc.setLocalProperty("graft.spec.tag", null)
      sc.removeSparkListener(l)
    }
    val jobs = (0L until 3L).map(b => Option(perBatch.get(b)).fold(0L)(_.get))
    // a steady batch, the gold view being small enough to fold on the
    // driver and the batch's change feed small enough to aggregate in one
    // task (no exchange):
    //   1. the silver write;
    //   2. the delta collect;
    //   3. the view rewrite.
    // A fold that scanned the view through Spark started 6 (the feed
    // aggregate's map stage, view broadcast, merged-row collect and
    // matched-key broadcast on top); before the fold scanned its view
    // once and Lake reads took the manifest schema, the same batch
    // started 17.
    assert(jobs.forall(_ > 0) && jobs.tail.forall(_ <= 3L),
      s"jobs per micro-batch: $jobs")
  }

  test("manifest-stream view maintenance folds commits exactly once") {
    import graft.sources.Lake
    import spark.implicits._
    val root = Files.createTempDirectory("graft-stream-mv")
    val src = root.resolve("src").toString
    val view = root.resolve("view").toString
    val ckpt = root.resolve("ckpt").toString
    def mk(r: Range) = r.map(i => (i.toLong % 4, i.toLong)).toDF("k", "v")
    Lake.writeVersioned(spark, mk(1 to 30), src)
    Lake.appendVersioned(spark, mk(31 to 40), src)
    // drain: both commits' manifests arrive in one batch; the fold's own
    // watermark applies each change exactly once
    Ingest.runIncrementalViewPipeline(spark, src, view,
      keys = Seq("k"), sumCols = Seq("v"), countCol = "n",
      checkpointDir = ckpt)
    def viewRows() = Lake.readVersioned(spark, view).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    def directRows() = Lake.readVersioned(spark, src).groupBy("k")
      .agg(count(lit(1)).as("n"), sum("v").as("v")).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viewRows() == directRows())
    // new commits after the first drain fold incrementally on re-drain
    Lake.deleteWhere(spark, src, col("v") <= 5L)
    Lake.appendVersioned(spark, mk(41 to 44), src)
    Ingest.runIncrementalViewPipeline(spark, src, view,
      keys = Seq("k"), sumCols = Seq("v"), countCol = "n",
      checkpointDir = ckpt)
    assert(viewRows() == directRows())
    // an idle re-drain (no new manifests) leaves the view untouched
    val versions = Lake.listVersions(spark, view)
    Ingest.runIncrementalViewPipeline(spark, src, view,
      keys = Seq("k"), sumCols = Seq("v"), countCol = "n",
      checkpointDir = ckpt)
    assert(Lake.listVersions(spark, view) == versions)
  }

  test("gold refresh over streamed silver produces the reference star schema") {
    val root = Files.createTempDirectory("graft-stream3")
    val landing = Files.createDirectory(root.resolve("landing"))
    val silverDir = root.resolve("silver").toString
    writeFile(landing, "b1.jsonl", Seq(
      evt("d1", "l1", "2024-01-01T00:00:00", "temperature", "good", 20.0),
      evt("d1", "l1", "2024-01-15T00:00:00", "temperature", "good", 30.0),
      evt("d2", "l2", "2024-02-01T00:00:00", "pressure", "suspect", 990.0),
    ))
    Ingest.runSilverPipeline(spark, landing.toString, silverDir, root.resolve("ckpt").toString)
    val gold = Ingest.refreshGold(spark, silverDir)
    assert(gold("dim_locations").count() == 2)
    assert(gold("dim_date").count() == 3)
    val jan = gold("fact_iot_events")
      .filter(col("location_id") === "l1" && col("month") === 1).head()
    assert(jan.getAs[Double]("avg_value") == 25.0)
    assert(jan.getAs[Long]("n_events") == 2L)
  }

  test("inferred-schema stream drains the same silver as the explicit schema") {
    val root = Files.createTempDirectory("graft-stream-infer")
    val landing = Files.createDirectory(root.resolve("landing"))
    writeFile(landing, "b1.jsonl", Seq(
      evt("d1", "l1", "2024-01-01T00:00:00", "temperature", "good", 20.5),
      evt("d2", "l2", "2024-01-01T00:01:00", "humidity", "suspect", 50.0),
      evt("d3", "l2", "2024-01-01T00:02:00", "pressure", "bad", 1.0), // dropped
    ))
    // inference with primitivesAsString lands every field as string —
    // the reference bronze contract; columns sorted for determinism
    val stream = Ingest.bronzeStreamInferred(spark, landing.toString)
    assert(stream.isStreaming)
    assert(stream.schema.fields.forall(_.dataType ==
      org.apache.spark.sql.types.StringType))
    val outDir = root.resolve("silver").toString
    // align the all-string bronze with the typed contract: reorder to the
    // raw schema and cast value (exactly what silver casting is for)
    val aligned = stream.select(Ingest.rawEventSchema.fields.map(f =>
      col(f.name).cast(f.dataType)): _*)
    Ingest.silverTransform(aligned)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    val streamed = spark.read.parquet(outDir)
    val batch = Ingest.silverTransform(Ingest.bronzeBatch(spark, landing.toString))
    assert(streamed.count() == 2)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("malformed JSON is rescued to quarantine, never silently dropped") {
    val root = Files.createTempDirectory("graft-stream-rescue")
    val landing = Files.createDirectory(root.resolve("landing"))
    val silverDir = root.resolve("silver").toString
    val quarantineDir = root.resolve("quarantine").toString
    val ckpt = root.resolve("ckpt").toString
    writeFile(landing, "b1.jsonl", Seq(
      evt("d1", "l1", "2024-01-01T00:00:00", "temperature", "good", 20.5),
      """{"device_id":"d2","location_id":"l1","timestamp":"2024-01-01T00:01:00""", // truncated
      evt("d3", "l2", "2024-01-01T00:02:00", "humidity", "suspect", 55.0),
      """not json at all""",
    ))
    Ingest.runQuarantinedSilverPipeline(
      spark, landing.toString, silverDir, quarantineDir, ckpt)

    val silver = spark.read.parquet(silverDir)
    assert(silver.count() == 2) // both good rows, no rescue leakage
    // batch=<id> partition dirs make the writes idempotent on replay; the
    // derived `batch` column is the audit trail, the data schema is intact
    assert(silver.columns.toSet == Ingest.rawEventSchema.fieldNames.toSet + "batch")

    val quarantined = spark.read.parquet(quarantineDir)
    assert(quarantined.count() == 2)
    // the RAW malformed text is preserved byte-for-byte in the rescue column
    val raw = quarantined.select(Ingest.RescuedCol)
      .collect().map(_.getString(0)).toSet
    assert(raw.exists(_.startsWith("""{"device_id":"d2"""")))
    assert(raw.contains("not json at all"))

    // re-draining the same checkpoint reprocesses nothing
    Ingest.runQuarantinedSilverPipeline(
      spark, landing.toString, silverDir, quarantineDir, ckpt)
    assert(spark.read.parquet(silverDir).count() == 2)
    assert(spark.read.parquet(quarantineDir).count() == 2)

    // simulated replay after a lost commit: wiping the checkpoint re-runs
    // the same input under the same batch ids — the batch=<id> overwrite
    // must land on top of the previous write, never append a duplicate
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    Ingest.runQuarantinedSilverPipeline(
      spark, landing.toString, silverDir, quarantineDir, ckpt)
    assert(spark.read.parquet(silverDir).count() == 2)
    assert(spark.read.parquet(quarantineDir).count() == 2)
  }
}
