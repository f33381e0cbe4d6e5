package graft.pipeline

import graft.{QueryDef, Tables}
import graft.dq.Checks
import graft.model.Cdc
import org.apache.spark.sql.functions._

/** Driver-visible CORRECTNESS rows for the pipeline operators that were
  * previously proven only by ScalaTest (round-3/4 verdict item 1):
  * SCD2 snapshots ([[graft.model.Cdc.scd2]]), incremental materialization
  * ([[Dag.runIncremental]]) and source freshness
  * ([[graft.dq.Checks.freshness]]). Each query drives the REAL operator on
  * a deterministic derivation of the `events` table so DuckDB can oracle
  * the semantics with plain window SQL (reference: dbt snapshots,
  * `materialized='incremental'` in dbt_project.yml:11-19, and
  * `dbt source freshness` — README_DBT.md:163-169).
  */
object PipelineQueries {

  /** Versioned range-laid events table for `lake_delete_prune`, built once
    * per (session, SF dir) — the TABLE is the fixture (in production it
    * exists long before any takedown arrives; Bench prebuilds it in warmup
    * so the registered query times the DELETE, exactly as the signature
    * index is prebuilt for the screen). The query's deleteWhere mutates
    * the table once; re-invocations find the rows already gone, publish
    * nothing (no-match fast path), and read the same published version —
    * deterministic across repetitions.
    */
  private val deleteFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]

  def prebuildDeleteFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): String =
    deleteFixtureCache.computeIfAbsent((sp, dir), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val path = s"${Scratch.dir("del")}/events_versioned"
      graft.sources.Lake.writeVersioned(sp,
        base.repartitionByRange(8, col("day")), path)
      graft.sources.Lake.writeStats(sp, path, Seq("day"))
      path
    })

  /** Versioned range-laid events tables for the deletion-vector rows —
    * same shape as the COW-delete fixture, one per row so `only=` runs
    * and bench subsets never couple through shared mutation.
    */
  private val dvFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String, String), String]

  private def dvFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String, tag: String): String =
    dvFixtureCache.computeIfAbsent((sp, dir, tag), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val path = s"${Scratch.dir(tag)}/events_versioned"
      graft.sources.Lake.writeVersioned(sp,
        base.repartitionByRange(8, col("day")), path)
      graft.sources.Lake.writeStats(sp, path, Seq("day"))
      path
    })

  def prebuildDvFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): String = dvFixture(sp, dir, "dv")

  /** Source table for `lake_shallow_clone` — its own fixture because the
    * row's contract is that the SOURCE is never mutated (each invocation
    * clones to a fresh scratch dir and deletes on the clone only).
    */
  def prebuildCloneSrcFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): String = dvFixture(sp, dir, "clsrc")

  def prebuildDvPurgeFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): String = dvFixture(sp, dir, "dvp")

  /** Source table for `lake_column_mapping`: a versioned (user_id, day,
    * cents) slice (days ≤ Jan-20), built once per (session, SF dir) — the
    * row shallow-clones it per invocation and renames/drops on the clone,
    * so the source is never mutated and re-runs repeat identical work.
    * No stats manifest: rename refuses column-keyed maintenance artifacts
    * by design.
    */
  private val cmapSrcCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]

  def prebuildCmapSrcFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): String =
    cmapSrcCache.computeIfAbsent((sp, dir), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .filter(col("day") <= lit("2024-01-20").cast("date"))
      val path = s"${Scratch.dir("cmsrc")}/t"
      graft.sources.Lake.writeVersioned(sp,
        base.repartitionByRange(4, col("day")), path)
      path
    })

  def prebuildDvCountFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): String = dvFixture(sp, dir, "dvc")

  /** Source table for `lake_symlink_export`: versioned events slice with a
    * COW week-delete already applied, so the head manifest holds BOTH
    * carried-by-reference files and a delete rewrite while RETIRED files
    * still sit on disk — the export's live-files-only property is
    * load-bearing (listing a retired file resurrects the deleted week).
    */
  private val symlinkSrcCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]

  def prebuildSymlinkFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): String =
    symlinkSrcCache.computeIfAbsent((sp, dir), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val path = s"${Scratch.dir("slsrc")}/t"
      graft.sources.Lake.writeVersioned(sp,
        base.repartitionByRange(4, col("day")), path)
      graft.sources.Lake.deleteWhere(sp, path,
        col("day").between(lit("2024-01-08"), lit("2024-01-14")))
      path
    })

  /** Source table for `lake_generated_column`: (user_id, ts_ms, day,
    * cents) with days ≤ Jan-15 — `day` physically stored so the clone-
    * side addGeneratedColumn has existing data to VALIDATE. The row
    * clones per invocation (the cmap discipline), so the source is never
    * mutated.
    */
  private val genSrcCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]

  def prebuildGenSrcFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): String =
    genSrcCache.computeIfAbsent((sp, dir), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
          to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .filter(col("day") <= lit("2024-01-15").cast("date"))
      val path = s"${Scratch.dir("gensrc")}/t"
      graft.sources.Lake.writeVersioned(sp,
        base.repartitionByRange(4, col("day")), path)
      path
    })

  /** Versioned per-user-totals target for `lake_merge_upsert`, built once
    * per (session, SF dir) — in production the upsert TARGET long
    * predates any batch; Bench prebuilds it so the query times the MERGE.
    * Re-merging the same source is deterministic: matched keys are
    * replaced with identical rows, so every invocation reads one state.
    */
  private val mergeTargetCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]

  def prebuildMergeTarget(sp: org.apache.spark.sql.SparkSession,
      dir: String): String =
    mergeTargetCache.computeIfAbsent((sp, dir), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val path = s"${Scratch.dir("mrg")}/user_totals"
      graft.sources.Lake.writeVersioned(sp,
        base.filter(col("day") <= lit("2024-01-20").cast("date"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
          .repartitionByRange(4, col("user_id")),
        path)
      path
    })

  /** Versioned per-user-totals target for `lake_merge_cdc` — its own
    * fixture (lake_merge_upsert mutates the plain-merge target; sharing
    * would entangle the two queries' states). Re-applying the same CDC
    * batch is deterministic: updates replace rows with identical values,
    * deletes find the rows already gone, inserts become identical updates.
    */
  private val cdcTargetCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]

  def prebuildCdcTarget(sp: org.apache.spark.sql.SparkSession,
      dir: String): String =
    cdcTargetCache.computeIfAbsent((sp, dir), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val path = s"${Scratch.dir("cdc")}/user_totals"
      graft.sources.Lake.writeVersioned(sp,
        base.filter(col("day") <= lit("2024-01-20").cast("date"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
          .repartitionByRange(4, col("user_id")),
        path)
      path
    })

  /** STREAMED VERSIONED silver table for `lake_stream_versioned`: the
    * events table is re-shaped to the IoT landing contract, dumped as two
    * JSON batches, and drained through the REAL streaming pipeline
    * ([[graft.stream.Ingest.runSilverPipeline]], `versioned = true`) —
    * two drains, two versions, no bootstrap anywhere. Built once per
    * (session, SF dir); Bench prebuilds it so the registered query times
    * the CDC MERGE on the stream-fed table, not the one-time ingestion.
    */
  private val streamTableCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]

  def prebuildStreamTable(sp: org.apache.spark.sql.SparkSession,
      dir: String): String =
    streamTableCache.computeIfAbsent((sp, dir), { _ =>
      val root = Scratch.dir("strv")
      val landing = s"$root/landing"
      val silver = s"$root/silver"
      val ckpt = s"$root/ckpt"
      val iot = Tables.events(sp, dir).select(
        col("user_id").cast("string").as("device_id"),
        col("event_type").as("location_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("timestamp"),
        lit("temperature").as("sensor_type"),
        lit("good").as("quality_flag"),
        lit("C").as("unit"),
        col("value"))
      val cut = lit("2024-01-15").cast("date")
      def land(df: org.apache.spark.sql.DataFrame, stage: String): Unit = {
        val tmpd = s"$root/.stage_$stage"
        df.coalesce(1).write.mode("overwrite").json(tmpd)
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(sp.sparkContext.hadoopConfiguration)
        fs.mkdirs(new org.apache.hadoop.fs.Path(landing))
        fs.listStatus(new org.apache.hadoop.fs.Path(tmpd))
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
          .zipWithIndex.foreach { case (f, i) =>
            // a silently failed rename would drop a whole landing batch
            // and surface only as a distant oracle mismatch
            require(fs.rename(f.getPath,
              new org.apache.hadoop.fs.Path(landing, s"$stage-$i.json")),
              s"landing rename failed for stage $stage part $i")
          }
        fs.delete(new org.apache.hadoop.fs.Path(tmpd), true)
      }
      land(iot.filter(to_date(col("timestamp")) <= cut), "b1")
      graft.stream.Ingest.runSilverPipeline(sp, landing, silver, ckpt,
        versioned = true)
      land(iot.filter(to_date(col("timestamp")) > cut), "b2")
      graft.stream.Ingest.runSilverPipeline(sp, landing, silver, ckpt,
        versioned = true)
      silver
    })

  /** Versioned events table DEGRADED by domain-spanning appends, for
    * `lake_rerange`: base = days ≤ Jan 20 range-laid on day (tight
    * per-file bounds), then three unsorted single-file appends each
    * spanning the remaining days — the accretion pattern that makes every
    * appended file overlap every probe. The registered query then times
    * the CURE (rerangeVersioned) plus the restored pruned read.
    */
  private val rerangeFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]

  def prebuildRerangeFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): String =
    rerangeFixtureCache.computeIfAbsent((sp, dir), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val cut = lit("2024-01-20").cast("date")
      val path = s"${Scratch.dir("rrg")}/events_versioned"
      graft.sources.Lake.writeVersioned(sp,
        base.filter(col("day") <= cut).repartitionByRange(8, col("day")), path)
      graft.sources.Lake.writeStats(sp, path, Seq("day"))
      // three appends, UNSORTED single files spanning the tail days:
      // every appended file's [min_day, max_day] covers the whole tail
      for (b <- 0 until 3)
        graft.sources.Lake.appendVersioned(sp,
          base.filter(col("day") > cut &&
            pmod(col("user_id") + col("cents"), lit(3)) === lit(b))
            .coalesce(1), path)
      path
    })

  /** Constrained versioned table for `lake_check_constraint`: day-split
    * events with a `cents >= 0` CHECK added between the two valid
    * appends, so the fixture itself proves constrained commits pass.
    */
  private val constraintFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]

  def prebuildConstraintFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): String =
    constraintFixtureCache.computeIfAbsent((sp, dir), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val cut = lit("2024-01-15").cast("date")
      val path = s"${Scratch.dir("cons")}/events_constrained"
      graft.sources.Lake.writeVersioned(sp, base.filter(col("day") <= cut), path)
      graft.sources.Lake.addCheckConstraint(sp, path,
        "cents_nonneg", "cents >= 0")
      graft.sources.Lake.appendVersioned(sp, base.filter(col("day") > cut), path)
      path
    })

  /** Two-version fixture for `lake_restore` (v1 = day≤Jan-15, v2 adds the
    * tail) — built once per (session, SF dir); the query times the
    * RESTORE + rolled-back read, not the build.
    */
  private val restoreFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]

  def prebuildRestoreFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): String =
    restoreFixtureCache.computeIfAbsent((sp, dir), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val cut = lit("2024-01-15").cast("date")
      val path = s"${Scratch.dir("rst")}/events_restore"
      graft.sources.Lake.writeVersioned(sp, base.filter(col("day") <= cut), path)
      graft.sources.Lake.appendVersioned(sp, base.filter(col("day") > cut), path)
      path
    })

  /** Fixture for `lake_mv_refresh`: source at 3 commits (v1 = days ≤
    * Jan-15; v2 appends Jan-16..25; v3 deletes the Jan-08..14 week) plus
    * the view INITIALIZED from v1 (full compute, watermark = 1) — so the
    * timed query measures ONE incremental fold of commits 2..3, not the
    * table construction (r12 verdict "what's wrong" #2). The fold is
    * idempotent: a second call in the same session no-ops on the
    * advanced watermark and reads the same final view.
    */
  private val mvRefreshFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), (String, String)]

  /** Fixture for `lake_bloom_skip`: documents hash-clustered on doc_id
    * (16 files — min/max stats provably useless) + the per-file bloom
    * index, so the timed query measures the PROBE, not table+index
    * construction.
    */
  private val bloomFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]

  def prebuildBloomFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): String =
    bloomFixtureCache.computeIfAbsent((sp, dir), { _ =>
      val path = s"${Scratch.dir("bloom")}/docs_by_hash"
      Tables.documents(sp, dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .repartition(16, col("doc_id")).write.mode("overwrite").parquet(path)
      graft.sources.Lake.writeBloomIndex(sp, path, "doc_id",
        expectedPerFile = 10000L)
      // second per-column sidecar for the multi-column lookup row:
      // n_chars spreads widely, so its bloom discriminates on the
      // hash-on-doc_id layout too
      graft.sources.Lake.writeBloomIndex(sp, path, "n_chars",
        expectedPerFile = 10000L)
      path
    })

  /** Fixture for `lake_bucketed_join`: both sides bucketed on custkey
    * (the pay-the-shuffle-at-ingest posture), so the timed query measures
    * the co-located join, not two table writes.
    */
  private val bucketedFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), (String, String)]

  /** Returns the (orders, customer) bucketed table names. The sfDir's
    * hash is ENCODED IN THE NAMES: the cache key is (session, dir) but
    * managed tables are session-global, so dir-agnostic names would let a
    * second scale dir's prebuild overwrite the first dir's tables while
    * its cache entry still reported built — the first dir's join would
    * silently read the wrong scale's data.
    */
  def prebuildBucketedFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) =
    bucketedFixtureCache.computeIfAbsent((sp, dir), { _ =>
      val tag = Integer.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(dir) & 0x7fffffff)
      val (tOrders, tCustomer) =
        (s"graft_bkt_orders_$tag", s"graft_bkt_customer_$tag")
      // a fresh session's in-memory catalog doesn't know about last
      // run's MANAGED table location on disk — DROP alone leaves the
      // dir and saveAsTable then refuses (LOCATION_ALREADY_EXISTS);
      // clear both catalog entry and leftover location
      val wh = new java.net.URI(sp.conf.get("spark.sql.warehouse.dir")).getPath
      Seq(tOrders, tCustomer).foreach { t =>
        sp.sql(s"DROP TABLE IF EXISTS $t")
        val p = new org.apache.hadoop.fs.Path(wh, t)
        p.getFileSystem(sp.sparkContext.hadoopConfiguration).delete(p, true)
      }
      graft.sources.Lake.writeBucketed(
        Tables.orders(sp, dir)
          .select(col("o_custkey"),
            round(col("o_totalprice") * 100).cast("long").as("cents")),
        tOrders, "o_custkey", 8)
      graft.sources.Lake.writeBucketed(
        Tables.customer(sp, dir)
          .select(col("c_custkey"), col("c_mktsegment")),
        tCustomer, "c_custkey", 8)
      (tOrders, tCustomer)
    })

  /** Fixture for `lake_mv_rewrite`: its OWN source+view pair (sharing
    * lake_mv_refresh's fixture would let whichever query runs first steal
    * the other's timed fold). Source = per-user event rows at days ≤
    * Jan-20; view = the refresh-maintained (user_id → count, cents sum).
    */
  private val mvRewriteFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), (String, String)]

  def prebuildMvRewriteFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) =
    mvRewriteFixtureCache.computeIfAbsent((sp, dir), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"),
          round(col("value") * 100).cast("long").as("cents"),
          to_date(col("ts")).as("day"))
      val root = Scratch.dir("mvrw")
      val src = s"$root/src"
      val view = s"$root/view"
      graft.sources.Lake.writeVersioned(sp,
        base.filter(col("day") <= lit("2024-01-20").cast("date"))
          .drop("day").repartition(4), src)
      graft.sources.Lake.refreshIncremental(sp, src, view,
        keys = Seq("user_id"), sumCols = Seq("cents"),
        countCol = "n_events")
      (src, view)
    })

  def prebuildMvRefreshFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): (String, String) =
    mvRefreshFixtureCache.computeIfAbsent((sp, dir), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val root = Scratch.dir("mv")
      val src = s"$root/src"
      val view = s"$root/view"
      graft.sources.Lake.writeVersioned(sp,
        base.filter(col("day") <= lit("2024-01-15").cast("date"))
          .repartitionByRange(8, col("day")), src)
      graft.sources.Lake.refreshIncremental(sp, src, view,
        keys = Seq("user_id"), sumCols = Seq("cents"),
        countCol = "n_events")
      graft.sources.Lake.appendVersioned(sp,
        base.filter(col("day") > lit("2024-01-15").cast("date") &&
          col("day") <= lit("2024-01-25").cast("date"))
          .repartitionByRange(4, col("day")), src)
      graft.sources.Lake.deleteWhere(sp, src,
        col("day").between(lit("2024-01-08"), lit("2024-01-14")))
      (src, view)
    })

  /** Fixture for `lake_mv_join_refresh`: a versioned FACT (user-day
    * cents) and a versioned DIM (user → segment) plus the join view
    * initialized at (fact v1, dim v1). After the init, the fact gains an
    * append + a week takedown and the DIM gains a segment-move merge
    * (every user_id % 5 == 0 re-segments to 'S9') — so the timed fold
    * exercises all three delta classes: fact inserts, fact deletes, and
    * a dim attribute change that must RETRACT each moved user's old
    * (user, segment) group and insert the new one.
    */
  private val mvJoinFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), (String, String, String)]

  def prebuildMvJoinFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): (String, String, String) =
    mvJoinFixtureCache.computeIfAbsent((sp, dir), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      val root = Scratch.dir("mvj")
      val fact = s"$root/fact"
      val dimT = s"$root/dim"
      val view = s"$root/view"
      graft.sources.Lake.writeVersioned(sp,
        base.filter(col("day") <= lit("2024-01-15").cast("date"))
          .repartitionByRange(4, col("day")), fact)
      val users = base.select("user_id").distinct()
      graft.sources.Lake.writeVersioned(sp,
        users.withColumn("segment",
          concat(lit("S"), (col("user_id") % 3).cast("string")))
          .repartitionByRange(2, col("user_id")), dimT)
      graft.sources.Lake.refreshJoinIncremental(sp, fact, dimT, view,
        joinKeys = Seq("user_id"), groupKeys = Seq("user_id", "segment"),
        sumCols = Seq("cents"), countCol = "n_events")
      graft.sources.Lake.appendVersioned(sp,
        base.filter(col("day") > lit("2024-01-15").cast("date") &&
          col("day") <= lit("2024-01-25").cast("date"))
          .repartitionByRange(4, col("day")), fact)
      graft.sources.Lake.deleteWhere(sp, fact,
        col("day").between(lit("2024-01-08"), lit("2024-01-14")))
      graft.sources.Lake.mergeCdc(sp, dimT,
        users.filter(col("user_id") % 5 === 0)
          .withColumn("segment", lit("S9"))
          .withColumn("_is_deleted", lit(false)),
        Seq("user_id"), col("_is_deleted"))
      (fact, dimT, view)
    })

  /** Fixture for `lake_scd2_feed`: the merge-maintained user-totals table
    * at its three states (snapshot → full-source merge → week takedown via
    * mergeCdc). The timed query derives the SCD2 intervals from the feed —
    * a read-only, idempotent operation — instead of rebuilding the table.
    */
  private val scd2FeedFixtureCache =
    new java.util.concurrent.ConcurrentHashMap[
      (org.apache.spark.sql.SparkSession, String), String]

  def prebuildScd2FeedFixture(sp: org.apache.spark.sql.SparkSession,
      dir: String): String =
    scd2FeedFixtureCache.computeIfAbsent((sp, dir), { _ =>
      val base = Tables.events(sp, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
      def totals(f: org.apache.spark.sql.Column) = base.filter(f)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
      val d15 = col("day") <= lit("2024-01-15").cast("date")
      val d25 = col("day") <= lit("2024-01-25").cast("date")
      val week = col("day").between(lit("2024-01-08"), lit("2024-01-14"))
      val s2 = totals(d25)
      val s3 = totals(d25 && !week)
      val path = s"${Scratch.dir("scd2f")}/user_totals"
      graft.sources.Lake.writeVersioned(sp,
        totals(d15).repartitionByRange(4, col("user_id")), path)
      graft.sources.Lake.mergeInto(sp, path, s2, Seq("user_id"))
      val gone = s2.select("user_id").exceptAll(s3.select("user_id"))
        .withColumn("n_events", lit(0L))
        .withColumn("total_cents", lit(0L))
        .withColumn("_del", lit(true))
      graft.sources.Lake.mergeCdc(sp, path,
        s3.withColumn("_del", lit(false)).unionByName(gone),
        Seq("user_id"), deleteWhen = col("_del"))
      path
    })

  val all: Seq[QueryDef] = Seq(

    // ---- SCD2 history from a CDC-shaped event log. Events become CDC
    //      records: key = user_id, commit ts = epoch micros (exact long —
    //      see core.scala nanos note), op = 'd' on purchases (a purchase
    //      "closes" the account version — gives every SF real delete
    //      gaps), else 'u'. (key, ts, op) dedup mirrors scd2Merge's
    //      normalization; window order (ts asc, op asc) is then total. ----
    QueryDef(
      "cdc_scd2",
      (sp, dir) => {
        val ev = Tables.events(sp, dir)
          .select(col("user_id"),
            unix_micros(col("ts")).as("_commit_ts"),
            when(col("event_type") === "purchase", "d").otherwise("u").as("_op"))
        // (key, ts, op) dedup via lag over the SAME window partitioning the
        // versioning uses — duplicates are adjacent under orderBy(ts, op),
        // so this replaces dropDuplicates' extra hash shuffle with a reuse
        // of the one business-key exchange (PlanSpec pins the plan)
        val byKey = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("_commit_ts"), col("_op"))
        val rec = struct(col("_commit_ts"), col("_op"))
        val deduped = ev
          .withColumn("_prev", lag(rec, 1).over(byKey))
          .filter(col("_prev").isNull || col("_prev") =!= rec)
          .drop("_prev")
        Cdc.scd2(deduped, Seq("user_id"))
          .select(col("user_id"), col("valid_from"),
            coalesce(col("valid_to"), lit(-1L)).as("valid_to"),
            col("is_current").cast("int").as("is_current"))
          .orderBy("user_id", "valid_from")
      },
      Some(
        """WITH ev AS (
          |  SELECT DISTINCT user_id, epoch_us(ts) AS cts,
          |         CASE WHEN event_type = 'purchase' THEN 'd' ELSE 'u' END AS op
          |  FROM events),
          |v AS (
          |  SELECT user_id, op, cts AS valid_from,
          |         lead(cts) OVER (PARTITION BY user_id ORDER BY cts, op) AS valid_to
          |  FROM ev)
          |SELECT user_id, valid_from,
          |       CAST(coalesce(valid_to, -1) AS BIGINT) AS valid_to,
          |       CAST(valid_to IS NULL AS INT) AS is_current
          |FROM v WHERE op <> 'd'
          |ORDER BY user_id, valid_from""".stripMargin),
    ),

    // ---- Debezium ENVELOPE parse (tier B, README_DBT.md:163's "CDC JSON
    //      (Debezium format)"): the nested {before, after, op, ts_ms}
    //      JSON envelope flattened to change rows — before/after picked
    //      by op, exactly what feeds Cdc.scd1/mergeCdc downstream. Each
    //      engine BUILDS its own envelope from orders and PARSES it with
    //      its own JSON machinery (to_json/from_json vs struct_pack/
    //      json_extract), so serialization quirks (null-field omission,
    //      key order) cancel and only the PARSED VALUES compare — the
    //      same build-then-undo differential as doc_html_strip. Narrow
    //      per-row work; one final aggregate. ----
    QueryDef(
      "cdc_debezium_parse",
      (sp, dir) => {
        val cents = round(col("o_totalprice") * 100).cast("long")
        val op = when(col("o_orderkey") % 10 === 0, "d")
          .when((col("o_orderkey") % 10).isin(1, 2, 3), "u")
          .otherwise("c")
        val env = to_json(struct(
          when(op.isin("u", "d"),
            struct(col("o_orderkey").as("k"), (cents - 100).as("cents")))
            .as("before"),
          when(op.isin("c", "u"),
            struct(col("o_orderkey").as("k"), cents.as("cents")))
            .as("after"),
          op.as("op"),
          unix_millis(col("o_orderdate").cast("timestamp")).as("ts_ms")))
        val envSchema = org.apache.spark.sql.types.StructType.fromDDL(
          "before STRUCT<k: BIGINT, cents: BIGINT>, " +
            "after STRUCT<k: BIGINT, cents: BIGINT>, " +
            "op STRING, ts_ms BIGINT")
        Tables.orders(sp, dir)
          // the to_json/from_json round-trip is the row's whole point and
          // its whole cost — spread it across cores first (a single local
          // parquet file is one split, so the narrow JSON work would
          // otherwise run in ONE task; on a many-split cluster table this
          // repartition is a no-op cost, the langId/minhash pattern)
          .repartition(sp.sparkContext.defaultParallelism)
          .select(from_json(env, envSchema).as("e"))
          .select(col("e.op").as("op"),
            coalesce(col("e.after.k"), col("e.before.k")).as("k"),
            when(col("e.op") === "d", col("e.before.cents"))
              .otherwise(col("e.after.cents")).as("cents"),
            col("e.ts_ms").as("ts_ms"))
          .groupBy("op")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"),
            min("k").as("min_k"), max("ts_ms").as("max_ts"))
          .orderBy("op")
      },
      Some(
        """WITH env AS (
          |  SELECT o_orderkey,
          |    CASE WHEN o_orderkey % 10 = 0 THEN 'd'
          |         WHEN o_orderkey % 10 IN (1,2,3) THEN 'u' ELSE 'c' END AS op,
          |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
          |    CAST(epoch_ms(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS ts_ms
          |  FROM orders),
          |js AS (
          |  SELECT to_json(struct_pack(
          |      before := CASE WHEN op IN ('u','d')
          |        THEN struct_pack(k := o_orderkey, cents := cents - 100) END,
          |      after := CASE WHEN op IN ('c','u')
          |        THEN struct_pack(k := o_orderkey, cents := cents) END,
          |      op := op, ts_ms := ts_ms)) AS env
          |  FROM env),
          |parsed AS (
          |  SELECT json_extract_string(env, '$.op') AS op,
          |         CAST(coalesce(json_extract(env, '$.after.k'),
          |                       json_extract(env, '$.before.k')) AS BIGINT) AS k,
          |         CAST(CASE WHEN json_extract_string(env, '$.op') = 'd'
          |              THEN json_extract(env, '$.before.cents')
          |              ELSE json_extract(env, '$.after.cents') END AS BIGINT) AS cents,
          |         CAST(json_extract(env, '$.ts_ms') AS BIGINT) AS ts_ms
          |  FROM js)
          |SELECT op, CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(cents) AS BIGINT) AS sum_cents,
          |       CAST(min(k) AS BIGINT) AS min_k,
          |       CAST(max(ts_ms) AS BIGINT) AS max_ts
          |FROM parsed GROUP BY op ORDER BY op""".stripMargin),
    ),

    // ---- SCD1 current state from the same CDC-shaped log (tier B,
    //      README_DBT.md:242-244's ROW_NUMBER dedup): latest event per
    //      user wins, a trailing delete drops the key. The payload is
    //      pre-aggregated to one row per (key, ts, op) so the
    //      latest-wins window is TOTAL — without it two events sharing
    //      a commit timestamp could hand either engine either payload. ----
    QueryDef(
      "cdc_scd1",
      (sp, dir) => {
        val ev = Tables.events(sp, dir)
          .select(col("user_id"),
            unix_micros(col("ts")).as("_commit_ts"),
            when(col("event_type") === "purchase", "d").otherwise("u").as("_op"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy("user_id", "_commit_ts", "_op")
          .agg(max("cents").as("cents"))
        Cdc.scd1(ev, Seq("user_id"))
          .withColumnRenamed("_commit_ts", "last_ts")
          .orderBy("user_id")
      },
      Some(
        """WITH ev AS (
          |  SELECT user_id, epoch_us(ts) AS last_ts,
          |         CASE WHEN event_type = 'purchase' THEN 'd' ELSE 'u' END AS op,
          |         max(CAST(round(value * 100) AS BIGINT)) AS cents
          |  FROM events GROUP BY 1, 2, 3),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY user_id
          |                               ORDER BY last_ts DESC, op DESC) AS rn
          |  FROM ev)
          |SELECT user_id, last_ts, cents FROM r
          |WHERE rn = 1 AND op <> 'd'
          |ORDER BY user_id""".stripMargin),
    ),

    // ---- Incremental materialization, unique_key upsert strategy: two
    //      real runs of Dag.runIncremental against a scratch parquet
    //      table (run 1 = days <= Jan 15, run 2 = full history → only the
    //      post-watermark slice merges). Final state = latest day per
    //      user, which DuckDB reproduces with one window over the full
    //      aggregate — the rebuildability contract of incremental models.
    //      Staged under the session [[Scratch]] dir so the LAZY read is
    //      returned — nothing result-sized touches the driver. ----
    QueryDef(
      "dag_incremental",
      (sp, dir) => {
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
          .groupBy("user_id", "day")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("day_cents"))
        val path = s"${Scratch.dir("inc")}/user_latest"
        val inc = Dag.Incremental("day", uniqueKey = Some(Seq("user_id")))
        Dag.runIncremental(sp,
          base.filter(col("day") <= lit("2024-01-15").cast("date")), path, inc)
        Dag.runIncremental(sp, base, path, inc).orderBy("user_id")
      },
      Some(
        """WITH agg AS (
          |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events,
          |         sum(CAST(round(value * 100) AS BIGINT)) AS day_cents
          |  FROM events GROUP BY 1, 2),
          |r AS (
          |  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY day DESC) AS rn
          |  FROM agg)
          |SELECT user_id, day, CAST(n_events AS BIGINT) AS n_events,
          |       CAST(day_cents AS BIGINT) AS day_cents
          |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin),
    ),

    // ---- Source freshness at a FIXED asOf (2026-01-01Z — reproducible,
    //      never wall-clock). Four configs exercise every branch: fresh
    //      (10y warn), warn (0s warn / 10y error), error (0s both), and
    //      the empty-source Error/no-lag case. The oracle recomputes both
    //      the lag (floor seconds of asOf - max ts) AND the threshold
    //      CASE, so the engine's branch logic is cross-checked, not just
    //      its max() aggregate. ----
    QueryDef(
      "dq_freshness",
      (sp, dir) => {
        val asOf = java.time.Instant.parse("2026-01-01T00:00:00Z")
        val tenYears = java.time.Duration.ofDays(3650)
        val zero = java.time.Duration.ZERO
        val ev = Tables.events(sp, dir)
        def eval(name: String, df: org.apache.spark.sql.DataFrame,
            warnAfter: java.time.Duration, errorAfter: java.time.Duration) = {
          val (st, lag) = Checks.freshness(df, "ts", asOf, warnAfter, errorAfter)
          (name, st.toString.toLowerCase, lag.map(_.getSeconds).getOrElse(-1L))
        }
        val rows = Seq(
          eval("events_fresh", ev, tenYears, tenYears),
          eval("events_warn", ev, zero, tenYears),
          eval("events_error", ev, zero, zero),
          eval("events_empty", ev.filter(lit(false)), zero, zero))
        import sp.implicits._
        rows.toDF("check_name", "status", "lag_s").orderBy("check_name")
      },
      Some(
        """WITH m AS (
          |  SELECT (epoch_us(TIMESTAMP '2026-01-01 00:00:00') - epoch_us(max(ts)))
          |           // 1000000 AS lag_s,
          |         count(*) AS n FROM events),
          |cfg AS (
          |  SELECT 'events_fresh' AS check_name, CAST(315360000 AS BIGINT) AS warn_s,
          |         CAST(315360000 AS BIGINT) AS err_s FROM m
          |  UNION ALL SELECT 'events_warn', 0, 315360000 FROM m
          |  UNION ALL SELECT 'events_error', 0, 0 FROM m)
          |SELECT check_name,
          |       CASE WHEN lag_s > err_s THEN 'error'
          |            WHEN lag_s > warn_s THEN 'warn'
          |            ELSE 'fresh' END AS status,
          |       CAST(lag_s AS BIGINT) AS lag_s
          |FROM cfg, m
          |UNION ALL
          |SELECT 'events_empty', 'error', CAST(-1 AS BIGINT)
          |ORDER BY check_name""".stripMargin),
    ),

    // ---- File-level data skipping end-to-end: lay events out with
    //      write-time day locality (repartitionByRange), collect per-file
    //      min/max into the _graft_stats manifest, then answer a day-range
    //      aggregate reading ONLY manifest-surviving files. The oracle
    //      sees none of the layout machinery — if skipping dropped a file
    //      it shouldn't have, rows are missing and the hash catches it.
    //      (LakeSpec separately asserts files really are skipped.) ----
    QueryDef(
      "lake_skipping",
      (sp, dir) => {
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val path = s"${Scratch.dir("skip")}/events_by_day"
        base.repartitionByRange(8, col("day")).write.parquet(path)
        graft.sources.Lake.writeStats(sp, path, Seq("day"))
        val lo = "2024-01-08"
        val hi = "2024-01-14"
        graft.sources.Lake.readSkipping(sp, path,
            graft.sources.Lake.skipRange("day", lit(lo), lit(hi)))
          .filter(col("day").between(lit(lo), lit(hi)))
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("day_cents"))
          .orderBy("day")
      },
      Some(
        """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
          |FROM events
          |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
          |GROUP BY 1 ORDER BY day""".stripMargin),
    ),

    // ---- MV auto-rewrite end-to-end (the optimizer feature, not the
    //      maintenance): a count+sum aggregate WRITTEN AGAINST THE SOURCE
    //      table is answered from the maintained view by MvRewriteRule —
    //      the plan never opens a source data file (MvRewriteRuleSpec
    //      pins that, plus the staleness fallback). The oracle computes
    //      the aggregate from raw events, so a rewrite that fired on a
    //      stale view, mismapped a column, or lost rows fails the hash. ----
    QueryDef(
      "lake_mv_rewrite",
      (sp, dir) => {
        val (src, view) = prebuildMvRewriteFixture(sp, dir)
        // idempotent installs: the rule once per session, the def by key
        if (!sp.experimental.extraOptimizations
            .contains(graft.plans.MvRewriteRule))
          sp.experimental.extraOptimizations =
            sp.experimental.extraOptimizations :+ graft.plans.MvRewriteRule
        graft.plans.MvRewriteRule.register(graft.plans.MvDef(
          src, view, Seq("user_id"), Seq("cents"), "n_events"))
        // written against the SOURCE — the optimizer answers from the view
        graft.sources.Lake.readVersioned(sp, src)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum("cents").as("total_cents"))
          .orderBy("user_id")
      },
      Some(
        """SELECT user_id, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |         AS total_cents
          |FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-20'
          |GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),

    // ---- Write-audit-publish end-to-end (the reference's expectations
    //      posture as a COMMIT protocol feature, not a filter): curate a
    //      versioned table, stage a raw intake batch invisibly, AUDIT it
    //      (the staged read finds 'error' rows), abort, restage the clean
    //      subset, publish. The oracle recomputes the final curated state
    //      from raw events — a stage that leaked into a read, an abort
    //      that dropped good rows, or a publish that lost the race
    //      changes the aggregate and fails the hash. ----
    QueryDef(
      "lake_wap",
      (sp, dir) => {
        val ev = Tables.events(sp, dir)
          .select(col("event_id"), col("user_id"), col("event_type"),
            to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val cut = lit("2024-01-20").cast("date")
        val path = s"${Scratch.dir("wap")}/curated_events"
        graft.sources.Lake.writeVersioned(sp,
          ev.filter(col("day") <= cut && col("event_type") =!= "error")
            .drop("day"), path)
        val intake = ev.filter(col("day") > cut).drop("day")
        // stage the RAW intake; the audit — not the ingest — decides
        val sid = graft.sources.Lake.stageAppend(sp, intake, path)
        val bad = graft.sources.Lake.readStagedBatch(sp, path, sid)
          .filter(col("event_type") === "error").count()
        val vFinal =
          if (bad > 0) {
            graft.sources.Lake.abortStaged(sp, path, sid)
            val clean = graft.sources.Lake.stageAppend(sp,
              intake.filter(col("event_type") =!= "error"), path)
            graft.sources.Lake.publishStaged(sp, path, clean)
          } else graft.sources.Lake.publishStaged(sp, path, sid)
        graft.sources.Lake.readVersioned(sp, path, Some(vFinal))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"), sum("cents").as("type_cents"))
          .orderBy("event_type")
      },
      Some(
        """SELECT event_type, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |         AS type_cents
          |FROM events WHERE event_type <> 'error'
          |GROUP BY event_type ORDER BY event_type""".stripMargin),
    ),

    // ---- Bucketed co-located join end-to-end: both sides written
    //      bucketBy(custkey) so the join needs NO exchange on either side
    //      — the pay-the-shuffle-once-at-ingest posture that matters most
    //      at 100 TB, where re-shuffling the fact table every run IS the
    //      query cost. LakeSpec pins the plan shape (zero Exchange with
    //      broadcast disabled); here the driver verifies the bucketed
    //      read's CONTENT: bucket pruning or hash misrouting would lose
    //      or duplicate rows vs the raw-parquet oracle. ----
    QueryDef(
      "lake_bucketed_join",
      (sp, dir) => {
        // both bucketed tables come from the prebuild lane; the TIMED
        // work is the exchange-free co-located join itself
        val (tOrders, tCustomer) = prebuildBucketedFixture(sp, dir)
        sp.table(tOrders)
          .join(sp.table(tCustomer),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"), sum("cents").as("seg_cents"))
          .orderBy("c_mktsegment")
      },
      Some(
        """SELECT c_mktsegment, count(*) AS n_orders,
          |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          |         AS seg_cents
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    ),

    // ---- Bloom-filter skipping index end-to-end: documents laid out
    //      HASH-clustered on doc_id (16 files, each spanning the whole id
    //      domain — min/max stats provably skip nothing here), per-file
    //      blooms built distributively, then a 5-key point lookup opens
    //      only maybe-containing files. LakeSpec pins the actual pruning
    //      (kept files ≈ probe count on a planted layout); here the oracle
    //      recomputes from raw documents, so a wrongly DROPPED file loses
    //      rows and fails the hash — the no-false-negative contract is
    //      what the driver verifies. ----
    QueryDef(
      "lake_bloom_skip",
      (sp, dir) => {
        import sp.implicits._
        // table + index come from the prebuild lane; the TIMED work is
        // the probe (driver-side bloom verdicts + pruned read) — the per-lookup cost
        // a serving path would pay
        val path = prebuildBloomFixture(sp, dir)
        val ids = Seq(10L, 137L, 256L, 404L, 499L)
        val probes = ids.toDF("doc_id")
        graft.sources.Lake.readLookup(sp, path, probes)
          .filter(col("doc_id").isin(ids: _*))
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id, lang, source, n_chars FROM documents
          |WHERE doc_id IN (10, 137, 256, 404, 499)
          |ORDER BY doc_id""".stripMargin),
    ),

    // ---- MULTI-COLUMN bloom point lookup (r14): the (doc_id, n_chars)
    //      probe prunes through BOTH per-column sidecar blooms —
    //      verdicts AND together, so a file survives only if every
    //      indexed column says "maybe". Probe VALUES come from the raw
    //      table (n_chars is data-dependent per SF), the pruned read is
    //      re-filtered by an exact semi-join on the probe pairs, and the
    //      oracle recomputes from raw documents — a file wrongly dropped
    //      by the intersection loses rows and fails the hash. ----
    QueryDef(
      "lake_bloom_multi",
      (sp, dir) => {
        import sp.implicits._
        val path = prebuildBloomFixture(sp, dir)
        val ids = Seq(23L, 142L, 301L, 477L)
        // collect the probe PAIRS once (4 rows — the metadata-sized probe
        // contract): a lazy probeRows frame would rescan raw documents
        // inside readLookup and again as the semi-join build side
        val pairs = Tables.documents(sp, dir)
          .filter(col("doc_id").isin(ids: _*))
          .select(col("doc_id"), col("n_chars"))
          .as[(Long, Long)].collect().toSeq
        val probeRows = pairs.toDF("doc_id", "n_chars")
        graft.sources.Lake.readLookup(sp, path, probeRows)
          .join(probeRows, Seq("doc_id", "n_chars"), "leftsemi")
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id, lang, source, n_chars FROM documents
          |WHERE doc_id IN (23, 142, 301, 477)
          |ORDER BY doc_id""".stripMargin),
    ),

    // ---- Partition pruning end-to-end (reference README's ingestion-date
    //      partitioning): lay events out hive-partitioned by day via
    //      Lake.writePartitioned, then answer a day-range aggregate through
    //      the partitioned read. The day filter must resolve to
    //      PartitionFilters (PlanSpec pins that): whole directories drop at
    //      PLANNING time, before any I/O — the coarse planning-time prune,
    //      with _graft_stats file skipping as the fine-grained sibling.
    //      The oracle recomputes from raw events: if pruning dropped a
    //      partition it shouldn't have, rows go missing and the hash fails. ----
    QueryDef(
      "lake_partition_prune",
      (sp, dir) => {
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val path = s"${Scratch.dir("ppart")}/events_by_day"
        graft.sources.Lake.writePartitioned(base, path, "day")
        graft.sources.Lake.readPartitioned(sp, path)
          .filter(col("day").between(
            lit("2024-01-08").cast("date"), lit("2024-01-14").cast("date")))
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("day_cents"))
          .orderBy("day")
      },
      Some(
        """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
          |FROM events
          |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
          |GROUP BY 1 ORDER BY day""".stripMargin),
    ),

    // ---- Z-order clustering end-to-end: lay events out z-clustered on
    //      (user_id, day) and answer a RECTANGLE query (user range × day
    //      range) reading only manifest-surviving files. Range layout
    //      would give day predicates nothing to skip; the Z-curve gives
    //      BOTH columns usable per-file bounds (LakeSpec asserts each
    //      dimension skips files on its own). Oracle recomputes from raw
    //      events — a wrongly skipped file loses rows and fails the hash. ----
    QueryDef(
      "lake_zorder_skip",
      (sp, dir) => {
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val path = s"${Scratch.dir("zord")}/events_z"
        graft.sources.Lake.zorderWrite(sp, base, path,
          Seq("user_id", "day"), nFiles = 16)
        val (uLo, uHi) = (4L, 80L)
        val (dLo, dHi) = ("2024-01-08", "2024-01-14")
        graft.sources.Lake.readSkipping(sp, path,
            graft.sources.Lake.skipRange("user_id", lit(uLo), lit(uHi)) &&
            graft.sources.Lake.skipRange("day", lit(dLo), lit(dHi)))
          .filter(col("user_id").between(uLo, uHi) &&
            col("day").between(lit(dLo), lit(dHi)))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
          .orderBy("user_id")
      },
      Some(
        """SELECT user_id, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
          |FROM events
          |WHERE user_id BETWEEN 4 AND 80
          |  AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
          |GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),

    // ---- Schema evolution end-to-end (reference aspiration: CDC payloads
    //      that evolve, README_DBT.md:163-169): write era-1 rows under the
    //      v1 schema (user_id, day, cents), append era-2 rows under v2 —
    //      `cents` RENAMED to `amount_cents`, `source` ADDED — then answer
    //      an aggregate over the UNIFIED read. The unified read must carry
    //      old-file values under the new name (coalesce fold) and null the
    //      added column for era-1 rows; the oracle recomputes both eras
    //      from raw events, so a dropped era, a misfolded rename, or a
    //      phantom non-null `source` all break the hash. The reader builds
    //      its schema from the _graft_schema manifests — no mergeSchema
    //      footer sweep (Lake.writeEvolving scaladoc). ----
    QueryDef(
      "lake_schema_evolution",
      (sp, dir) => {
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"),
            col("event_type"))
        val cut = lit("2024-01-15").cast("date")
        val path = s"${Scratch.dir("evo")}/user_day"
        graft.sources.Lake.writeEvolving(sp,
          base.filter(col("day") <= cut).select("user_id", "day", "cents"),
          path)
        graft.sources.Lake.writeEvolving(sp,
          base.filter(col("day") > cut).select(col("user_id"), col("day"),
            col("cents").as("amount_cents"), col("event_type").as("source")),
          path, renames = Map("cents" -> "amount_cents"))
        graft.sources.Lake.readEvolving(sp, path)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(col("amount_cents")).as("total_cents"),
            count(col("source")).as("n_evolved"))
          .orderBy("user_id")
      },
      Some(
        """SELECT user_id, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents,
          |       CAST(sum(CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
          |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_evolved
          |FROM events
          |GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),

    // ---- O(batch) versioned APPENDS + OPTIMIZE end-to-end: commit events
    //      week by week (each commit writes only its batch and links every
    //      prior file by reference), fold the accreted small files with
    //      optimizeVersioned (a NEW version; compact files carry by
    //      reference — LakeSpec pins the file identities), and read the
    //      result through the published manifest. The oracle recomputes
    //      from raw events: a dropped batch, a mis-linked reference, or a
    //      fold that lost rows all break the hash. ----
    QueryDef(
      "lake_append_optimize",
      (sp, dir) => {
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        def week(lo: String, hi: String) = base.filter(
          col("day").between(lit(lo), lit(hi)))
        val path = s"${Scratch.dir("appopt")}/events_weekly"
        graft.sources.Lake.writeVersioned(sp,
          week("2024-01-01", "2024-01-07"), path)
        graft.sources.Lake.appendVersioned(sp,
          week("2024-01-08", "2024-01-14"), path)
        graft.sources.Lake.appendVersioned(sp,
          week("2024-01-15", "2024-01-21"), path)
        graft.sources.Lake.appendVersioned(sp,
          base.filter(col("day") > lit("2024-01-21")), path)
        graft.sources.Lake.optimizeVersioned(sp, path,
          targetFileBytes = 4L << 20)
        graft.sources.Lake.readVersioned(sp, path)
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("day_cents"))
          .orderBy("day")
      },
      Some(
        """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
          |FROM events
          |GROUP BY 1 ORDER BY day""".stripMargin),
    ),

    // ---- File-granular MERGE (upsert) end-to-end — the versioned-lake
    //      form of the reference's `unique_key` incremental model
    //      (dbt_project.yml:11-19; dag_incremental is the overwrite
    //      form): target = per-user totals through Jan 20 as version 1,
    //      source = refreshed FULL-history totals for users active after
    //      Jan 20. mergeInto replaces exactly the active users' rows and
    //      inserts any brand-new users, rewriting only the files that
    //      hold a matched key (LakeSpec pins the file identities). The
    //      oracle recomputes the merged state from raw events: a row
    //      updated twice, a dropped unmatched row, or a resurrected
    //      pre-merge file all break the hash. ----
    QueryDef(
      "lake_merge_upsert",
      (sp, dir) => {
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val cut = lit("2024-01-20").cast("date")
        val path = prebuildMergeTarget(sp, dir)
        // ONE aggregation derives both the totals and the activity
        // filter (max(day) > cut ⇔ "has an event after the cut") — the
        // earlier distinct+semi-join paid a second events pass plus a
        // join exchange inside the timed query for the same batch
        graft.sources.Lake.mergeInto(sp, path,
          base.groupBy("user_id")
            .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"),
              max(col("day")).as("_last"))
            .filter(col("_last") > cut).drop("_last"),
          Seq("user_id"))
        graft.sources.Lake.readVersioned(sp, path).orderBy("user_id")
      },
      Some(
        """WITH old_t AS (
          |  SELECT user_id, count(*) AS n_events,
          |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |  FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-20' GROUP BY 1),
          |new_t AS (
          |  SELECT user_id, count(*) AS n_events,
          |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |  FROM events GROUP BY 1),
          |act AS (
          |  SELECT DISTINCT user_id FROM events
          |  WHERE CAST(ts AS DATE) > DATE '2024-01-20')
          |SELECT user_id, n_events, total_cents FROM new_t
          |WHERE user_id IN (SELECT user_id FROM act)
          |UNION ALL
          |SELECT user_id, n_events, total_cents FROM old_t
          |WHERE user_id NOT IN (SELECT user_id FROM act)
          |ORDER BY user_id""".stripMargin),
    ),

    // ---- MERGE with conditional clauses (CDC apply) end-to-end — a
    //      Debezium-shaped feed applied in ONE file-granular commit
    //      (Delta's WHEN MATCHED AND cond THEN DELETE; the reference's
    //      own CDC design soft-deletes via _is_deleted, README_DBT.md:243):
    //      target = per-user totals through Jan 20; the batch carries one
    //      row per user active AFTER Jan 20 — flagged _is_deleted when
    //      that activity includes a purchase (account closed), else the
    //      refreshed full-history totals. mergeCdc deletes the closed
    //      accounts, updates the rest, inserts brand-new users, all as one
    //      version. The oracle recomputes final state from raw events: a
    //      surviving deleted row, a lost update, or a resurrected file
    //      all break the hash. ----
    QueryDef(
      "lake_merge_cdc",
      (sp, dir) => {
        val ev = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"),
            col("event_type"))
        val cut = lit("2024-01-20").cast("date")
        val path = prebuildCdcTarget(sp, dir)
        // ONE aggregation: full-history totals, the post-cut activity
        // filter, and the purchase flag all fold into the groupBy the
        // batch already pays — no second pass, no join exchange
        val batch = ev.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"),
            max(when(col("day") > cut, 1).otherwise(0)).as("_act"),
            max(when(col("day") > cut && col("event_type") === "purchase", 1)
              .otherwise(0)).as("_delflag"))
          .filter(col("_act") === 1)
          .withColumn("_is_deleted", col("_delflag") === 1)
          .drop("_act", "_delflag")
        graft.sources.Lake.mergeCdc(sp, path, batch, Seq("user_id"),
          col("_is_deleted"))
        graft.sources.Lake.readVersioned(sp, path).orderBy("user_id")
      },
      Some(
        """WITH old_t AS (
          |  SELECT user_id, count(*) AS n_events,
          |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |  FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-20' GROUP BY 1),
          |new_t AS (
          |  SELECT user_id, count(*) AS n_events,
          |         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |  FROM events GROUP BY 1),
          |act AS (
          |  SELECT DISTINCT user_id FROM events
          |  WHERE CAST(ts AS DATE) > DATE '2024-01-20'),
          |del AS (
          |  SELECT DISTINCT user_id FROM events
          |  WHERE CAST(ts AS DATE) > DATE '2024-01-20'
          |    AND event_type = 'purchase')
          |SELECT user_id, n_events, total_cents FROM new_t
          |WHERE user_id IN (SELECT user_id FROM act)
          |  AND user_id NOT IN (SELECT user_id FROM del)
          |UNION ALL
          |SELECT user_id, n_events, total_cents FROM old_t
          |WHERE user_id NOT IN (SELECT user_id FROM act)
          |ORDER BY user_id""".stripMargin),
    ),

    // ---- Sort-order OPTIMIZE for versioned tables end-to-end: the
    //      fixture's three domain-spanning appends have degraded range
    //      pruning on `day` (every appended file overlaps every day
    //      probe); rerangeVersioned rewrites the CURRENT file set
    //      range-clustered as a new version and the query reads a 3-day
    //      window through the restored `_graft_stats` pruning. The oracle
    //      recomputes the window from raw events — a lost row in the
    //      rewrite, a resurrected retired file, or an unsound skip all
    //      break the hash. Re-invocations re-rerange the already-ranged
    //      table: same cost class, same result, deterministic. ----
    QueryDef(
      "lake_rerange",
      (sp, dir) => {
        val path = prebuildRerangeFixture(sp, dir)
        graft.sources.Lake.rerangeVersioned(sp, path, "day",
          targetFileRows = math.max(1L,
            graft.sources.Lake.rowCountFromManifest(sp, path)
              .getOrElse(10000L) / 8))
        val (d1, d2) = (lit("2024-01-10").cast("date"),
          lit("2024-01-12").cast("date"))
        graft.sources.Lake.readSkipping(sp, path,
            graft.sources.Lake.skipRange("day", d1, d2))
          .filter(col("day").between(d1, d2))
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents")).as("day_cents"))
          .orderBy("day")
      },
      Some(
        """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
          |FROM events
          |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
          |GROUP BY 1 ORDER BY day""".stripMargin),
    ),

    // ---- RESTORE end-to-end (Delta RESTORE TABLE ... TO VERSION AS OF):
    //      its own two-version fixture (day-split events) is rolled back
    //      to v1 metadata-only and read. Re-invocations restore an
    //      already-restored table — the target version's content is
    //      invariant, so the row is deterministic — and the oracle
    //      recomputes the day≤Jan-15 slice from raw events, blind to the
    //      rollback machinery: a leaked v2 row or a lost v1 file breaks
    //      the hash. ----
    QueryDef(
      "lake_restore",
      (sp, dir) => {
        val path = prebuildRestoreFixture(sp, dir)
        graft.sources.Lake.restoreVersion(sp, path, 1L)
        graft.sources.Lake.readVersioned(sp, path)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents")).as("sum_cents"))
          .orderBy("user_id")
      },
      Some(
        """SELECT user_id, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events
          |WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
          |GROUP BY 1 ORDER BY user_id""".stripMargin),
    ),

    // ---- CHECK constraints end-to-end (Delta ADD CONSTRAINT): the
    //      fixture's two valid appends passed the `cents >= 0` gate; the
    //      query then fires a VIOLATING batch — which must refuse without
    //      publishing — and reads the final state. The oracle recomputes
    //      from raw events: a leaked bad row, a half-published refusal,
    //      or a gate that silently dropped a valid slice all break the
    //      hash. Refusal is a no-op, so re-invocations are deterministic. ----
    QueryDef(
      "lake_check_constraint",
      (sp, dir) => {
        val path = prebuildConstraintFixture(sp, dir)
        val bad = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            (round(col("value") * 100) * -1L).cast("long").as("cents"))
          .limit(50)
        // match the GATE's message, not just the exception type:
        // appendVersioned throws IllegalArgumentException from several
        // other requires (schema mismatch, retry exhaustion), and any of
        // them masquerading as the gate would leave CHECK enforcement
        // silently broken while this row stayed green
        val refused =
          try { graft.sources.Lake.appendVersioned(sp, bad, path); false }
          catch {
            case e: IllegalArgumentException
                if e.getMessage.contains("CHECK constraint violation") => true
          }
        require(refused, "violating batch must be refused by the CHECK gate")
        graft.sources.Lake.readVersioned(sp, path)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents")).as("sum_cents"))
          .orderBy("user_id")
      },
      Some(
        """SELECT user_id, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events
          |GROUP BY 1 ORDER BY user_id""".stripMargin),
    ),

    // ---- OPTIMIZE ZORDER for versioned tables end-to-end: the same
    //      degraded fixture, re-clustered along the z-curve over
    //      (user_id, day) and read through a USER_ID range skip — the
    //      column the single-column day layout gives nothing for, so the
    //      row proves multi-column locality, not leftover day order. The
    //      oracle recomputes the user window from raw events; an unsound
    //      skip or a lost row breaks the hash. ----
    QueryDef(
      "lake_zorder_versioned",
      (sp, dir) => {
        val path = prebuildRerangeFixture(sp, dir)
        graft.sources.Lake.zorderVersioned(sp, path, Seq("user_id", "day"),
          targetFileRows = math.max(1L,
            graft.sources.Lake.rowCountFromManifest(sp, path)
              .getOrElse(10000L) / 8))
        graft.sources.Lake.readSkipping(sp, path,
            graft.sources.Lake.skipRange("user_id", lit(10), lit(40)))
          .filter(col("user_id").between(10, 40))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents")).as("sum_cents"))
          .orderBy("user_id")
      },
      Some(
        """SELECT user_id, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events
          |WHERE user_id BETWEEN 10 AND 40
          |GROUP BY 1 ORDER BY user_id""".stripMargin),
    ),

    // ---- TIMESTAMP time travel end-to-end (Delta's TIMESTAMP AS OF):
    //      the rerange fixture's v1 is the day≤Jan-20 slice; resolving
    //      AS OF v1's own commit stamp must return exactly that state —
    //      if resolution drifted to a later version (which carries the
    //      appended tail days) the oracle hash breaks. Runtime stamps
    //      come from versionHistory, so the query is deterministic
    //      whatever the wall clock was at fixture build. ----
    QueryDef(
      "lake_time_travel_asof",
      (sp, dir) => {
        val path = prebuildRerangeFixture(sp, dir)
        val hist = graft.sources.Lake.versionHistory(sp, path)
        val ts1 = hist.head._2
        // fail LOUDLY at the cause if commit stamps ever collide or step
        // backwards (NTP): an opaque oracle-hash mismatch from asOf
        // resolving to a later version would be much harder to diagnose
        require(graft.sources.Lake.versionAsOf(sp, path, ts1) == hist.head._1,
          s"asOf(ts of v${hist.head._1}) resolved elsewhere - " +
            s"non-monotonic commit stamps? $hist")
        graft.sources.Lake.readVersionedAsOf(sp, path, ts1)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents")).as("sum_cents"))
          .orderBy("user_id")
      },
      Some(
        """SELECT user_id, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events
          |WHERE CAST(ts AS DATE) <= DATE '2024-01-20'
          |GROUP BY 1 ORDER BY user_id""".stripMargin),
    ),

    // ---- Stream → version → merge in ONE lineage: JSON batches drained
    //      through the real checkpointed streaming pipeline into a
    //      VERSIONED silver table (two drains = two commits, the Delta
    //      streaming-table shape, bronze_iot_events.sql:1-6), then a CDC
    //      correction batch — a takedown of every device that purchased
    //      after Jan 20 — applied with mergeCdc as one file-granular
    //      commit. The oracle recomputes the final per-device state from
    //      raw events, blind to the stream/version/merge machinery: a
    //      dropped drain, a re-adopted retired file, or a surviving
    //      deleted device all break the hash. ----
    QueryDef(
      "lake_stream_versioned",
      (sp, dir) => {
        val path = prebuildStreamTable(sp, dir)
        val dels = Tables.events(sp, dir)
          .filter(to_date(col("ts")) > lit("2024-01-20").cast("date") &&
            col("event_type") === "purchase")
          .select(col("user_id").cast("string").as("device_id")).distinct()
        // delete-only CDC rows: the delete arm keys on device_id and
        // ignores the data columns — null-filled at the table's types
        val batch = dels
          .withColumn("location_id", lit(null).cast("string"))
          .withColumn("timestamp", lit(null).cast("timestamp"))
          .withColumn("sensor_type", lit(null).cast("string"))
          .withColumn("quality_flag", lit(null).cast("string"))
          .withColumn("unit", lit(null).cast("string"))
          .withColumn("value", lit(null).cast("double"))
          .withColumn("_is_deleted", lit(true))
        graft.sources.Lake.mergeCdc(sp, path, batch, Seq("device_id"),
          col("_is_deleted"))
        graft.sources.Lake.readVersioned(sp, path)
          .groupBy("device_id")
          .agg(count(lit(1)).as("n_events"),
            sum(round(col("value") * 100).cast("long")).as("sum_cents"))
          .orderBy("device_id")
      },
      Some(
        """WITH del AS (
          |  SELECT DISTINCT user_id FROM events
          |  WHERE CAST(ts AS DATE) > DATE '2024-01-20'
          |    AND event_type = 'purchase')
          |SELECT CAST(user_id AS VARCHAR) AS device_id, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
          |FROM events
          |WHERE user_id NOT IN (SELECT user_id FROM del)
          |GROUP BY 1 ORDER BY device_id""".stripMargin),
    ),

    // ---- Type widening end-to-end (the CDC-payload drift the reference's
    //      aspirational surface describes, README_DBT.md:163-169): era-1
    //      writes `cents` as INT, era-2 appends it as BIGINT — the unified
    //      read must bind the WIDE type (asserted in-engine: a regression
    //      to footer-bound int fails the query, not just the hash), carry
    //      era-1 values exactly, and aggregate across both eras. The
    //      oracle recomputes from raw events, blind to the layout. ----
    QueryDef(
      "lake_type_widening",
      (sp, dir) => {
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val cut = lit("2024-01-15").cast("date")
        val path = s"${Scratch.dir("wid")}/user_day"
        graft.sources.Lake.writeEvolving(sp,
          base.filter(col("day") <= cut).select(col("user_id"), col("day"),
            col("cents").cast("int").as("cents")),
          path)
        graft.sources.Lake.writeEvolving(sp,
          base.filter(col("day") > cut).select("user_id", "day", "cents"),
          path)
        val unified = graft.sources.Lake.readEvolving(sp, path)
        require(unified.schema("cents").dataType ==
            org.apache.spark.sql.types.LongType,
          s"widened read must bind bigint, got ${unified.schema("cents").dataType}")
        unified.groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
          .orderBy("user_id")
      },
      Some(
        """SELECT user_id, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |FROM events
          |GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),

    // ---- Time travel end-to-end: publish snapshot v1 (events through
    //      Jan 15), publish v2 (all events), then read the TIME-TRAVELED
    //      v1 — proving the old version stays byte-intact and readable
    //      after a newer one is published. The oracle recomputes v1's
    //      input directly; if publishing v2 disturbed v1 in any way, the
    //      hash catches it. (LakeSpec separately pins vacuum/retention.) ----
    QueryDef(
      "lake_time_travel",
      (sp, dir) => {
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        def snap(cut: Option[String]) =
          cut.fold(base)(c => base.filter(col("day") <= lit(c).cast("date")))
            .groupBy("user_id")
            .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
        val path = s"${Scratch.dir("tt")}/user_totals"
        graft.sources.Lake.writeVersioned(sp, snap(Some("2024-01-15")), path)
        graft.sources.Lake.writeVersioned(sp, snap(None), path)
        graft.sources.Lake.readVersioned(sp, path, Some(1L)).orderBy("user_id")
      },
      Some(
        """SELECT user_id, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |FROM events
          |WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
          |GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),

    // ---- File-granular DELETE end-to-end (takedown on a range-laid
    //      versioned table): publish events range-laid on day as version
    //      1, deleteWhere a one-week day range with a `_graft_stats`
    //      filePrune — so only the files whose bounds can contain the
    //      range are even OPENED, and only the files that truly hold
    //      matching rows are rewritten (the rest carry into version 2 by
    //      reference; LakeSpec pins the file identities). The answer is
    //      read back through the published version manifest. The oracle
    //      recomputes the complement from raw events: a file wrongly
    //      pruned, wrongly rewritten, or resurrected from a retired
    //      reference all break the hash. ----
    QueryDef(
      "lake_delete_prune",
      (sp, dir) => {
        val path = prebuildDeleteFixture(sp, dir)
        val (lo, hi) = ("2024-01-08", "2024-01-14")
        graft.sources.Lake.deleteWhere(sp, path,
          col("day").between(lit(lo), lit(hi)),
          filePrune = Some(graft.sources.Lake.skipRange("day", lit(lo), lit(hi))))
        graft.sources.Lake.readVersioned(sp, path)
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("day_cents"))
          .orderBy("day")
      },
      Some(
        """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
          |FROM events
          |WHERE CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
          |GROUP BY 1 ORDER BY day""".stripMargin),
    ),

    // ---- MERGE-ON-READ deletes (deletion vectors): two dvDeletes land
    //      as KB-sized tombstone sidecars — no data file is rewritten —
    //      and the read applies them as an anti-join confined to the
    //      covered files. The second delete unions with the first, and
    //      re-invocations are clean no-ops (already-tombstoned rows are
    //      invisible to discovery), so the row is deterministic. A
    //      resurrected row, a lost tombstone, or a mis-joined position
    //      all break the hash. ----
    QueryDef(
      "lake_dv_delete",
      (sp, dir) => {
        val path = prebuildDvFixture(sp, dir)
        val (lo, hi) = ("2024-01-08", "2024-01-14")
        graft.sources.Lake.deleteWhereDv(sp, path,
          col("day").between(lit(lo), lit(hi)),
          filePrune = Some(graft.sources.Lake.skipRange("day", lit(lo), lit(hi))))
        graft.sources.Lake.deleteWhereDv(sp, path, col("user_id") % 10 === 0)
        graft.sources.Lake.readVersioned(sp, path)
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("day_cents"))
          .orderBy("day")
      },
      Some(
        """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
          |FROM events
          |WHERE CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
          |  AND user_id % 10 <> 0
          |GROUP BY 1 ORDER BY day""".stripMargin),
    ),

    // ---- DV purge: same delete, then purgeDeletes materializes the
    //      tombstones (covered files rewritten without their deleted
    //      rows, sidecars retired) — the read after it is sidecar-free
    //      and must land on the identical answer. ----
    QueryDef(
      "lake_dv_purge",
      (sp, dir) => {
        val path = prebuildDvPurgeFixture(sp, dir)
        graft.sources.Lake.deleteWhereDv(sp, path, col("user_id") % 7 === 0)
        graft.sources.Lake.purgeDeletes(sp, path)
        graft.sources.Lake.readVersioned(sp, path)
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("day_cents"))
          .orderBy("day")
      },
      Some(
        """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS day_cents
          |FROM events
          |WHERE user_id % 7 <> 0
          |GROUP BY 1 ORDER BY day""".stripMargin),
    ),

    // ---- METADATA-ONLY COUNT: count(*) answered from manifest n_rows
    //      minus live tombstones — zero data scan (the Delta/Iceberg
    //      stats-answer path). The oracle recounts from raw events; a
    //      stale footer count, a missed tombstone, or a double-counted
    //      racing sidecar all break the equality. ----
    QueryDef(
      "lake_rowcount",
      (sp, dir) => {
        val path = prebuildDvCountFixture(sp, dir)
        graft.sources.Lake.deleteWhereDv(sp, path, col("user_id") % 13 === 0)
        val n = graft.sources.Lake.rowCount(sp, path)
        import sp.implicits._
        Seq(n).toDF("n_rows")
      },
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_rows
          |FROM events WHERE user_id % 13 <> 0""".stripMargin),
    ),

    // ---- CHANGE-DATA-FEED incremental refresh: a downstream per-user
    //      aggregate is rolled forward from version 1 to version 3 using
    //      ONLY Lake.readChangeFeed (insert → +1, delete → −1 retraction
    //      weights) — never re-reading the table. v1 = snapshot of
    //      days ≤ Jan-15, v2 = append of (Jan-15, Jan-25], v3 =
    //      deleteWhere of the Jan-08..14 week. The oracle recomputes the
    //      FINAL state directly from raw events; the incremental result
    //      hash-matches it only if the feed carried exactly the changed
    //      rows (a missed delete, a double-fed insert, or a reorg commit
    //      leaking into the feed all break the hash). The reference's
    //      incremental-refresh contract is README_DBT.md:32,102-103. ----
    QueryDef(
      "lake_cdf_refresh",
      (sp, dir) => {
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val path = s"${Scratch.dir("cdf")}/events_versioned"
        graft.sources.Lake.writeVersioned(sp,
          base.filter(col("day") <= lit("2024-01-15").cast("date"))
            .repartitionByRange(8, col("day")), path)
        graft.sources.Lake.appendVersioned(sp,
          base.filter(col("day") > lit("2024-01-15").cast("date") &&
            col("day") <= lit("2024-01-25").cast("date"))
            .repartitionByRange(4, col("day")), path)
        graft.sources.Lake.deleteWhere(sp, path,
          col("day").between(lit("2024-01-08"), lit("2024-01-14")))
        // downstream state as of v1, computed once (the "already
        // materialized" aggregate an incremental pipeline starts from)
        val atV1 = graft.sources.Lake.readVersioned(sp, path, Some(1L))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
        // roll forward v2..v3 from the feed alone
        val w = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
        val delta = graft.sources.Lake.readChangeFeed(sp, path, 2L, 3L)
          .groupBy("user_id")
          .agg(sum(w).as("n_events"), sum(col("cents") * w).as("total_cents"))
        atV1.unionByName(delta).groupBy("user_id")
          .agg(sum(col("n_events")).as("n_events"),
            sum(col("total_cents")).as("total_cents"))
          .filter(col("n_events") > 0)
          .orderBy("user_id")
      },
      Some(
        """SELECT user_id, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |FROM events
          |WHERE CAST(ts AS DATE) <= DATE '2024-01-25'
          |  AND CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
          |GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),

    // ---- VACUUM / RETENTION as a driver-oracled row: four commits
    //      (snapshot, append, COW delete, append), then vacuum keepLast=2
    //      — the compliance contract in one hash: reads at head AND at
    //      the retained v3 stay exact after files are PHYSICALLY removed
    //      (a vacuum that deletes a shared carried-by-reference file
    //      breaks either aggregate), while time travel past the horizon
    //      REFUSES loudly (surfaced as the meta row's flag — silently
    //      returning something would invent history). Files/bytes
    //      reclaimed are asserted > 0 in-query (their exact counts hang
    //      on range-sampling file boundaries, so they stay out of the
    //      hash); versions removed (2) is deterministic and rides the
    //      meta row. Fresh scratch dir per call — re-runnable, so the
    //      bench retime pass times identical work. ----
    QueryDef(
      "lake_vacuum",
      (sp, dir) => {
        import sp.implicits._
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val path = s"${Scratch.dir("vac")}/t"
        val v1 = graft.sources.Lake.writeVersioned(sp,
          base.filter(col("day") <= lit("2024-01-10").cast("date"))
            .repartitionByRange(3, col("day")), path)
        graft.sources.Lake.appendVersioned(sp,
          base.filter(col("day") > lit("2024-01-10").cast("date") &&
            col("day") <= lit("2024-01-20").cast("date"))
            .repartitionByRange(2, col("day")), path)
        val (v3, _) = graft.sources.Lake.deleteWhere(sp, path,
          col("day").between(lit("2024-01-05"), lit("2024-01-07")))
        graft.sources.Lake.appendVersioned(sp,
          base.filter(col("day") > lit("2024-01-20").cast("date") &&
            col("day") <= lit("2024-01-25").cast("date"))
            .repartitionByRange(2, col("day")), path)
        // data files + bytes on disk, metadata excluded (vacuum also
        // rewrites manifests when it materializes checkpoints)
        def disk(): (Long, Long) = {
          val hp = new org.apache.hadoop.fs.Path(path)
          val fs = hp.getFileSystem(sp.sparkContext.hadoopConfiguration)
          val it = fs.listFiles(hp, true)
          var n = 0L; var b = 0L
          while (it.hasNext) {
            val f = it.next()
            val segs = f.getPath.toUri.getPath.split("/")
            if (!segs.exists(s => s.startsWith("_") || s.startsWith("."))) {
              n += 1; b += f.getLen
            }
          }
          (n, b)
        }
        val (f0, b0) = disk()
        val removedVs = graft.sources.Lake.vacuum(sp, path, keepLast = 2,
          orphanGraceMs = 0L)
        val (f1, b1) = disk()
        require(removedVs.size == 2,
          s"vacuum dropped versions $removedVs, expected two")
        require(f0 > f1 && b0 > b1,
          s"vacuum reclaimed nothing physical (files $f0->$f1, bytes $b0->$b1)")
        // travel past the retention horizon must refuse, never fabricate
        val refused =
          try {
            graft.sources.Lake.readVersioned(sp, path, Some(v1)).count(); 0L
          } catch { case _: IllegalArgumentException => 1L }
        def dayAgg(df: org.apache.spark.sql.DataFrame, src: String) =
          df.groupBy(col("day"))
            .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
            .select(lit(src).as("src"), col("day"),
              col("n_events"), col("total_cents"))
        dayAgg(graft.sources.Lake.readVersioned(sp, path), "head")
          .unionByName(
            dayAgg(graft.sources.Lake.readVersioned(sp, path, Some(v3)), "v3"))
          .unionByName(Seq(("vacuum_meta", removedVs.size.toLong, refused))
            .toDF("src", "n_events", "total_cents")
            .withColumn("day", lit(null).cast("date"))
            .select("src", "day", "n_events", "total_cents"))
          .orderBy(col("src"), col("day").asc_nulls_last)
      },
      Some(
        """WITH e AS (
          |  SELECT CAST(ts AS DATE) AS day,
          |         CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events)
          |SELECT 'head' AS src, day, count(*) AS n_events,
          |       CAST(sum(cents) AS BIGINT) AS total_cents
          |FROM e WHERE day <= DATE '2024-01-25'
          |  AND day NOT BETWEEN DATE '2024-01-05' AND DATE '2024-01-07'
          |GROUP BY day
          |UNION ALL
          |SELECT 'v3' AS src, day, count(*) AS n_events,
          |       CAST(sum(cents) AS BIGINT) AS total_cents
          |FROM e WHERE day <= DATE '2024-01-20'
          |  AND day NOT BETWEEN DATE '2024-01-05' AND DATE '2024-01-07'
          |GROUP BY day
          |UNION ALL
          |SELECT 'vacuum_meta', CAST(NULL AS DATE), CAST(2 AS BIGINT),
          |       CAST(1 AS BIGINT)
          |ORDER BY src, day""".stripMargin),
    ),

    // ---- SCHEMA DRIFT through the STREAMING append path: a versioned
    //      table built from early events takes a later batch that carries
    //      a NEW column (the upstream-drift event a 24/7 stream must
    //      survive). appendVersioned bootstraps the schema chain and
    //      publishes the drifted batch with the commit; the read then
    //      spans both schema eras (old files resolve the new column as
    //      null). The oracle recomputes the same per-era aggregate from
    //      raw events — a dropped era, a misfolded column, or rows lost
    //      in the evolution commit all break the hash. ----
    QueryDef(
      "lake_schema_drift",
      (sp, dir) => {
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val path = s"${Scratch.dir("evo")}/events_versioned"
        graft.sources.Lake.writeVersioned(sp,
          base.filter(col("day") <= lit("2024-01-15").cast("date"))
            .repartitionByRange(4, col("day")), path)
        val late = base
          .filter(col("day") > lit("2024-01-15").cast("date") &&
            col("day") <= lit("2024-01-25").cast("date"))
          .withColumn("src", lit("late"))
        graft.sources.Lake.appendVersioned(sp, late, path,
          streamBatchId = Some(1L))
        graft.sources.Lake.readVersioned(sp, path)
          .groupBy(coalesce(col("src"), lit("base")).as("src"))
          .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("total_cents"))
          .orderBy("src")
      },
      Some(
        """SELECT CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
          |            THEN 'late' ELSE 'base' END AS src,
          |       count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |FROM events
          |WHERE CAST(ts AS DATE) <= DATE '2024-01-25'
          |GROUP BY 1 ORDER BY src""".stripMargin),
    ),

    // ---- SQL over CATALOG-REGISTERED Lake tables: a versioned table and
    //      its named time-travel snapshot are registered as views and the
    //      whole query runs through spark.sql — names, not paths (the
    //      reference's schema-grant + named-model surface). The SQL joins
    //      the current version against the v1 snapshot per user, so a
    //      view bound to the wrong version, a stale registration after
    //      the append, or snapshot/current confusion all break the hash.
    //      Oracle recomputes both eras from raw events. ----
    QueryDef(
      "q_sql_lake",
      (sp, dir) => {
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val path = s"${Scratch.dir("cat")}/events_versioned"
        graft.sources.Lake.writeVersioned(sp,
          base.filter(col("day") <= lit("2024-01-15").cast("date"))
            .repartitionByRange(4, col("day")), path)
        graft.sources.Lake.appendVersioned(sp,
          base.filter(col("day") > lit("2024-01-15").cast("date") &&
            col("day") <= lit("2024-01-25").cast("date"))
            .repartitionByRange(2, col("day")), path)
        graft.sources.Lake.registerTable(sp, "lake_events_cur", path)
        graft.sources.Lake.registerTable(sp, "lake_events_v1", path,
          version = Some(1L))
        sp.sql(
          """SELECT c.user_id,
            |       count(*) AS n_events,
            |       CAST(sum(c.cents) AS BIGINT) AS total_cents,
            |       CAST(coalesce(max(v1.n_v1), 0) AS BIGINT) AS n_v1
            |FROM lake_events_cur c
            |LEFT JOIN (SELECT user_id, count(*) AS n_v1
            |           FROM lake_events_v1 GROUP BY user_id) v1
            |  ON c.user_id = v1.user_id
            |GROUP BY c.user_id
            |ORDER BY c.user_id""".stripMargin)
      },
      Some(
        """WITH cur AS (
          |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-25'),
          |v1 AS (
          |  SELECT user_id, count(*) AS n_v1
          |  FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-15'
          |  GROUP BY user_id)
          |SELECT c.user_id, count(*) AS n_events,
          |       CAST(sum(c.cents) AS BIGINT) AS total_cents,
          |       CAST(coalesce(max(v1.n_v1), 0) AS BIGINT) AS n_v1
          |FROM cur c LEFT JOIN v1 ON c.user_id = v1.user_id
          |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin),
    ),

    // ---- MATERIALIZED-VIEW MAINTENANCE as an operator: a per-user
    //      aggregate VIEW TABLE is created from source v1 by
    //      refreshIncremental (full compute + watermark-in-commit), the
    //      source then takes an append and a takedown delete, and ONE
    //      more refreshIncremental folds both through the change feed
    //      into a single file-granular mergeCdc commit (zero-count users
    //      deleted from the view). The final view must hash-match
    //      DuckDB's direct recompute from raw events — a stale
    //      watermark, a double-fold, a missed retraction, or a surviving
    //      zero-count row all break it. ----
    QueryDef(
      "lake_mv_refresh",
      (sp, dir) => {
        // fixture (3 source commits + the v1-initialized view) comes from
        // the prebuild lane; the TIMED work is the single incremental fold
        val (src, view) = prebuildMvRefreshFixture(sp, dir)
        graft.sources.Lake.refreshIncremental(sp, src, view,
          keys = Seq("user_id"), sumCols = Seq("cents"),
          countCol = "n_events")
        graft.sources.Lake.readVersioned(sp, view)
          .select(col("user_id"), col("n_events"),
            col("cents").as("total_cents"))
          .orderBy("user_id")
      },
      Some(
        """SELECT user_id, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
          |FROM events
          |WHERE CAST(ts AS DATE) <= DATE '2024-01-25'
          |  AND CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
          |GROUP BY user_id ORDER BY user_id""".stripMargin),
    ),

    // ---- SHALLOW CLONE + write isolation: a zero-copy clone (v1 is a
    //      metadata-only manifest referencing the source head's files),
    //      then a COW week-delete ON THE CLONE — the dev/test-table
    //      pattern CLONE exists for. The output reads BOTH tables: the
    //      clone must show the delete, the source must not (a rewrite
    //      that landed in the source, a clone that missed a referenced
    //      file, or a delete that leaked through the shared files all
    //      break the hash). The clone dir is FRESH per invocation
    //      (Scratch), so re-runs repeat the same clone+delete work. ----
    QueryDef(
      "lake_shallow_clone",
      (sp, dir) => {
        val src = prebuildCloneSrcFixture(sp, dir)
        val clone = s"${Scratch.dir("clone")}/t"
        graft.sources.Lake.shallowClone(sp, src, clone)
        graft.sources.Lake.deleteWhere(sp, clone,
          col("day").between(lit("2024-01-08"), lit("2024-01-14")))
        def side(p: String, s: String) =
          graft.sources.Lake.readVersioned(sp, p)
            .agg(count(lit(1)).as("n_events"),
              sum(col("cents")).as("sum_cents"))
            .select(lit(s).as("side"), col("n_events"), col("sum_cents"))
        side(clone, "clone").unionByName(side(src, "source"))
          .orderBy("side")
      },
      Some(
        """SELECT 'clone' AS side, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |         AS sum_cents
          |FROM events
          |WHERE CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-08'
          |                               AND DATE '2024-01-14'
          |UNION ALL
          |SELECT 'source', count(*),
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |FROM events
          |ORDER BY side""".stripMargin),
    ),

    // ---- COLUMN MAPPING (Delta's rename/drop analog): a shallow clone
    //      of the prebuilt source takes a METADATA-ONLY rename commit
    //      (user_id→client_id, cents→amount_cents — zero data files
    //      touched, so the same commit costs KBs on a 100 TB table), an
    //      append lands in the NEW logical names (translated once to the
    //      frozen physical names — old and new files stay mutually
    //      readable), then a metadata-only DROP of `day`. The output
    //      reads the head under the new names (post-drop: 2 columns) AND
    //      time-travels to v1 under the OLD names (3 columns) — per-
    //      version maps are the whole feature. The n_cols literals pin
    //      drop visibility (a drop that failed to hide the column reads
    //      3≠2 and breaks the hash); the cohort split keyed by the
    //      RENAMED column pins that values flow through the projection.
    //      Clone + both commits are metadata-sized; the appended batch is
    //      5 days of events — re-runs clone fresh, so the row is
    //      deterministic and retime-safe. ----
    QueryDef(
      "lake_column_mapping",
      (sp, dir) => {
        val src = prebuildCmapSrcFixture(sp, dir)
        val t = s"${Scratch.dir("cmap")}/t"
        graft.sources.Lake.shallowClone(sp, src, t)
        graft.sources.Lake.renameColumns(sp, t,
          Map("user_id" -> "client_id", "cents" -> "amount_cents"))
        val batch = Tables.events(sp, dir)
          .select(col("user_id").as("client_id"),
            to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("amount_cents"))
          .filter(col("day").between(lit("2024-01-21").cast("date"),
            lit("2024-01-25").cast("date")))
        graft.sources.Lake.appendVersioned(sp, batch, t)
        graft.sources.Lake.dropColumns(sp, t, Seq("day"))
        val head = graft.sources.Lake.readVersioned(sp, t)
        val pre = graft.sources.Lake.readVersioned(sp, t, Some(1L))
        val headAgg = head
          .groupBy((col("client_id") % 10).as("cohort"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("amount_cents")).as("sum_amount"))
          .select(lit("head").as("era"), col("cohort"), col("n_rows"),
            col("sum_amount"),
            lit(head.schema.fields.length).cast("int").as("n_cols"))
        val preAgg = pre
          .filter(col("day") <= lit("2024-01-20").cast("date"))
          .groupBy((col("user_id") % 10).as("cohort"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("cents")).as("sum_amount"))
          .select(lit("v1").as("era"), col("cohort"), col("n_rows"),
            col("sum_amount"),
            lit(pre.schema.fields.length).cast("int").as("n_cols"))
        headAgg.unionByName(preAgg).orderBy("era", "cohort")
      },
      Some(
        """SELECT 'head' AS era, CAST(user_id % 10 AS BIGINT) AS cohort,
          |       count(*) AS n_rows,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |         AS sum_amount,
          |       CAST(2 AS INTEGER) AS n_cols
          |FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-25'
          |GROUP BY 2
          |UNION ALL
          |SELECT 'v1', CAST(user_id % 10 AS BIGINT), count(*),
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT),
          |       CAST(3 AS INTEGER)
          |FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-20'
          |GROUP BY 2
          |ORDER BY era, cohort""".stripMargin),
    ),

    // ---- GENERATED COLUMNS (Delta GENERATED ALWAYS AS): declare
    //      day = to_date(timestamp_millis(ts_ms)) on a clone (validating
    //      the existing v1 slice in one pass), then append ten days of
    //      events WITHOUT the day column — the engine computes it and
    //      the exact-schema append contract still holds (the helper
    //      restores table column order). The day-grain aggregate then
    //      mixes stored-day rows (v1) with computed-day rows (append):
    //      a wrong or missing derivation shifts days and breaks the
    //      hash. Clone + declare + append are per-invocation
    //      (deterministic, retime-safe); validation costs one aggregate
    //      pass of the data read — the CHECK-constraint cost shape. ----
    QueryDef(
      "lake_generated_column",
      (sp, dir) => {
        val src = prebuildGenSrcFixture(sp, dir)
        val t = s"${Scratch.dir("gen")}/t"
        graft.sources.Lake.shallowClone(sp, src, t)
        graft.sources.Lake.addGeneratedColumn(sp, t, "day",
          "to_date(timestamp_millis(ts_ms))")
        val batch = Tables.events(sp, dir)
          .select(col("user_id"), unix_millis(col("ts")).as("ts_ms"),
            round(col("value") * 100).cast("long").as("cents"),
            to_date(col("ts")).as("d0"))
          .filter(col("d0").between(lit("2024-01-16").cast("date"),
            lit("2024-01-25").cast("date")))
          .drop("d0") // the generated column is OMITTED on purpose
        graft.sources.Lake.appendVersioned(sp, batch, t)
        graft.sources.Lake.readVersioned(sp, t)
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents")).as("sum_cents"))
          .orderBy("day")
      },
      Some(
        """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |         AS sum_cents
          |FROM events
          |WHERE CAST(ts AS DATE) <= DATE '2024-01-25'
          |GROUP BY 1 ORDER BY 1""".stripMargin),
    ),

    // ---- SYMLINK MANIFEST EXPORT (Delta GENERATE analog): external-
    //      engine interop — the export lists the CURRENT version's live
    //      files as absolute URIs, and the query then reads THROUGH that
    //      listing as plain parquet, exactly like Trino/Presto/Athena
    //      would. The fixture's head holds carried references + a delete
    //      rewrite while the retired pre-delete files still sit on disk:
    //      listing a retired file resurrects the deleted week, missing a
    //      live file drops days — either breaks the hash. Export is
    //      metadata-only (∝ file count); re-export overwrites the same
    //      snapshot, so the row is deterministic and retime-safe. ----
    QueryDef(
      "lake_symlink_export",
      (sp, dir) => {
        val src = prebuildSymlinkFixture(sp, dir)
        graft.sources.Lake.exportSymlinkManifest(sp, src)
        // the external-engine read path: the listing, then plain parquet
        val files = sp.read.textFile(s"$src/_symlink_format_manifest/manifest")
          .collect().toSeq.filter(_.nonEmpty)
        sp.read.parquet(files: _*)
          .groupBy("day")
          .agg(count(lit(1)).as("n_events"),
            sum(col("cents")).as("sum_cents"))
          .orderBy("day")
      },
      Some(
        """SELECT CAST(ts AS DATE) AS day, count(*) AS n_events,
          |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
          |         AS sum_cents
          |FROM events
          |WHERE CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-08'
          |                               AND DATE '2024-01-14'
          |GROUP BY 1 ORDER BY 1""".stripMargin),
    ),

    // ---- INCREMENTAL JOIN-VIEW MAINTENANCE: the delta-join algebra
    //      ΔV = ΔF ⋈ D_old + F_new ⋈ ΔD over a fact AND a dim that both
    //      changed since the last fold — fact insert/delete commits plus
    //      a dim segment-move merge whose feed (delete old row + insert
    //      new row) must RETRACT each moved user's (user, old-segment)
    //      group to zero (mergeCdc deletes it) and open the (user, 'S9')
    //      group with the user's full fact mass. The oracle recomputes
    //      the final join+aggregate from raw events, blind to the feed
    //      machinery: a double-folded delta, a missed retraction, a
    //      carried-pair that fails to cancel, or a stale dim version in
    //      either join all break the hash. Re-invocations find both
    //      watermarks at head and fold nothing (same published state) —
    //      deterministic, but retime-UNSAFE (the no-op is cheaper). ----
    QueryDef(
      "lake_mv_join_refresh",
      (sp, dir) => {
        val (fact, dimT, view) = prebuildMvJoinFixture(sp, dir)
        graft.sources.Lake.refreshJoinIncremental(sp, fact, dimT, view,
          joinKeys = Seq("user_id"), groupKeys = Seq("user_id", "segment"),
          sumCols = Seq("cents"), countCol = "n_events")
        graft.sources.Lake.readVersioned(sp, view)
          .select(col("user_id"), col("segment"), col("n_events"),
            col("cents").as("total_cents"))
          .orderBy("user_id", "segment")
      },
      Some(
        """WITH f AS (
          |  SELECT user_id,
          |         CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events
          |  WHERE CAST(ts AS DATE) <= DATE '2024-01-25'
          |    AND CAST(ts AS DATE) NOT BETWEEN DATE '2024-01-08'
          |                                 AND DATE '2024-01-14'),
          |d AS (
          |  SELECT DISTINCT user_id,
          |         CASE WHEN user_id % 5 = 0 THEN 'S9'
          |              ELSE 'S' || CAST(user_id % 3 AS VARCHAR) END AS segment
          |  FROM events)
          |SELECT f.user_id, d.segment, count(*) AS n_events,
          |       CAST(sum(f.cents) AS BIGINT) AS total_cents
          |FROM f JOIN d USING (user_id)
          |GROUP BY 1, 2 ORDER BY user_id, segment""".stripMargin),
    ),

    // ---- SCD2 HISTORY FROM THE CHANGE FEED: a merge-maintained
    //      user-totals table moves through three states (S1 = days ≤
    //      Jan-15; S2 = days ≤ Jan-25 via a full-source merge whose
    //      unchanged rows cancel in the feed; S3 = S2 minus the Jan-08..14
    //      week via mergeCdc with delete rows for users whose totals
    //      vanish), and scd2FromFeed derives every row version's validity
    //      interval on the COMMIT-VERSION axis. The oracle recomputes the
    //      three states directly from raw events and derives the same
    //      intervals by state diffing — a carried-row pair that fails to
    //      cancel, a missed close, or a wrong boundary version all break
    //      the hash. ----
    QueryDef(
      "lake_scd2_feed",
      (sp, dir) => {
        // the three-state table comes from the prebuild lane; the TIMED
        // work is the feed-proportional interval derivation alone
        val path = prebuildScd2FeedFixture(sp, dir)
        graft.sources.Lake.scd2FromFeed(sp, path, 1L, 3L)
          .orderBy("user_id", "valid_from_version")
      },
      Some(
        """WITH ev AS (
          |  SELECT user_id, CAST(ts AS DATE) AS d,
          |         CAST(round(value * 100) AS BIGINT) AS cents
          |  FROM events),
          |s1 AS (SELECT user_id, count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
          |       FROM ev WHERE d <= DATE '2024-01-15' GROUP BY 1),
          |s2 AS (SELECT user_id, count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
          |       FROM ev WHERE d <= DATE '2024-01-25' GROUP BY 1),
          |s3 AS (SELECT user_id, count(*) AS n, CAST(sum(cents) AS BIGINT) AS c
          |       FROM ev WHERE d <= DATE '2024-01-25'
          |         AND d NOT BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
          |       GROUP BY 1),
          |states AS (
          |  SELECT 1 AS v, user_id, n, c FROM s1
          |  UNION ALL SELECT 2, user_id, n, c FROM s2
          |  UNION ALL SELECT 3, user_id, n, c FROM s3),
          |opens AS (
          |  SELECT s.user_id, s.n, s.c, s.v FROM states s
          |  WHERE NOT EXISTS (SELECT 1 FROM states p WHERE p.v = s.v - 1
          |    AND p.user_id = s.user_id AND p.n = s.n AND p.c = s.c)),
          |closes AS (
          |  SELECT s.user_id, s.n, s.c, s.v + 1 AS vc FROM states s
          |  WHERE s.v < 3 AND NOT EXISTS (SELECT 1 FROM states nx
          |    WHERE nx.v = s.v + 1 AND nx.user_id = s.user_id
          |      AND nx.n = s.n AND nx.c = s.c))
          |SELECT o.user_id,
          |       CAST(o.n AS BIGINT) AS n_events,
          |       o.c AS total_cents,
          |       CAST(o.v AS BIGINT) AS valid_from_version,
          |       CAST(coalesce(min(cl.vc) FILTER (WHERE cl.vc > o.v), -1) AS BIGINT)
          |         AS valid_to_version,
          |       CASE WHEN min(cl.vc) FILTER (WHERE cl.vc > o.v) IS NULL
          |            THEN 1 ELSE 0 END AS is_current
          |FROM opens o LEFT JOIN closes cl
          |  ON cl.user_id = o.user_id AND cl.n = o.n AND cl.c = o.c
          |GROUP BY o.user_id, o.n, o.c, o.v
          |ORDER BY o.user_id, valid_from_version""".stripMargin),
    ),

    // ---- DESCRIBE HISTORY surface: a four-commit lifecycle (snapshot →
    //      append → takedown delete → rollback) leaves a deterministic
    //      (version, op) ledger in the manifests; the oracle pins it as
    //      constants. A commit that fails to record its op, a version
    //      number that skips (contiguity break), or a restore publishing
    //      under the wrong op all break the match. Commit timestamps are
    //      wall-clock and stay out of the output. ----
    QueryDef(
      "lake_history",
      (sp, dir) => {
        val base = Tables.events(sp, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"),
            round(col("value") * 100).cast("long").as("cents"))
        val path = s"${Scratch.dir("hist")}/events_versioned"
        graft.sources.Lake.writeVersioned(sp,
          base.filter(col("day") <= lit("2024-01-15").cast("date"))
            .repartitionByRange(4, col("day")), path)
        graft.sources.Lake.appendVersioned(sp,
          base.filter(col("day") > lit("2024-01-15").cast("date") &&
            col("day") <= lit("2024-01-20").cast("date")), path)
        graft.sources.Lake.deleteWhere(sp, path,
          col("day").between(lit("2024-01-08"), lit("2024-01-14")))
        graft.sources.Lake.restoreVersion(sp, path, 1L)
        import sp.implicits._
        graft.sources.Lake.versionHistory(sp, path)
          .map { case (v, _, op) => (v, op) }
          .toDF("version", "op")
          .orderBy("version")
      },
      Some(
        """SELECT * FROM (VALUES
          |  (CAST(1 AS BIGINT), 'snapshot'),
          |  (CAST(2 AS BIGINT), 'append'),
          |  (CAST(3 AS BIGINT), 'delete'),
          |  (CAST(4 AS BIGINT), 'restore')) AS t(version, op)
          |ORDER BY version""".stripMargin),
    ),
  )
}
