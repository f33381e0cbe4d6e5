package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Lake

/** Merge-on-read deletes (deletion vectors): deleteWhereDv writes a
  * tombstone sidecar instead of rewriting data files; reads apply it as
  * an anti-join confined to the covered files; purgeDeletes / compaction
  * / copy-on-write deletes materialize and retire it.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-dv").toString

  /** Two-file table: ids 1-4 (commit 1) and 5-8 (commit 2). */
  private def twoFileTable(): String = {
    val dir = tmp()
    Lake.writeVersioned(spark,
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "a", 30.0), (4L, "c", 40.0))
        .toDF("id", "k", "v").coalesce(1), dir)
    Lake.appendVersioned(spark,
      Seq((5L, "b", 50.0), (6L, "a", 60.0), (7L, "c", 70.0), (8L, "b", 80.0))
        .toDF("id", "k", "v").coalesce(1), dir)
    dir
  }

  private def ids(dir: String, version: Option[Long] = None): Set[Long] =
    Lake.readVersioned(spark, dir, version)
      .select("id").as[Long].collect().toSet

  test("dvDelete hides rows without touching a data file") {
    val dir = twoFileTable()
    val before = Lake.listVersions(spark, dir).last
    val filesBefore = Lake.readVersioned(spark, dir)
      .select(input_file_name()).distinct().count()
    val (v, n) = Lake.deleteWhereDv(spark, dir, col("k") === "a")
    assert(v == before + 1 && n == 3L)
    assert(ids(dir) == Set(2L, 4L, 5L, 7L, 8L))
    // merge-on-read: the data files are untouched — same physical set
    val dvs = Lake.deletionVectors(spark, dir)
    assert(dvs.map(_._2).sum == 3L)
    assert(dvs.flatMap(_._3).distinct.size == 2) // both files covered
    // time travel to the pre-delete version still sees every row
    assert(ids(dir, Some(before)) == (1L to 8L).toSet)
    assert(filesBefore == 2)
  }

  test("a NULL predicate keeps the row (SQL DELETE semantics)") {
    val dir = tmp()
    Lake.writeVersioned(spark,
      Seq((1L, Some(1.0)), (2L, None), (3L, Some(3.0)))
        .toDF("id", "x").coalesce(1), dir)
    val (_, n) = Lake.deleteWhereDv(spark, dir, col("x") > 1.0)
    assert(n == 1L)
    assert(ids(dir) == Set(1L, 2L)) // NULL x kept
  }

  test("successive dvDeletes union; a re-run publishes nothing") {
    val dir = twoFileTable()
    Lake.deleteWhereDv(spark, dir, col("id") === 1L)
    val (v2, n2) = Lake.deleteWhereDv(spark, dir, col("k") === "b")
    assert(n2 == 3L)
    assert(ids(dir) == Set(3L, 4L, 6L, 7L))
    assert(Lake.deletionVectors(spark, dir).size == 2) // both sidecars live
    // rows already tombstoned are invisible to discovery: no-op commit
    val (v3, n3) = Lake.deleteWhereDv(spark, dir, col("k") === "b")
    assert(v3 == v2 && n3 == 0L)
    assert(Lake.listVersions(spark, dir).last == v2)
  }

  test("purgeDeletes materializes: same rows, sidecars retired, files rewritten") {
    val dir = twoFileTable()
    Lake.deleteWhereDv(spark, dir, col("k") === "a")
    val (v, purged) = Lake.purgeDeletes(spark, dir)
    assert(purged == 2L)
    assert(ids(dir) == Set(2L, 4L, 5L, 7L, 8L))
    assert(Lake.deletionVectors(spark, dir).isEmpty)
    // purge is a reorg: the feed over it emits nothing
    assert(Lake.readChangeFeed(spark, dir, v, v).count() == 0L)
    // purging a dv-free table is a no-op
    assert(Lake.purgeDeletes(spark, dir) == ((v, 0L)))
  }

  test("threshold purge rewrites only heavily-tombstoned files") {
    val dir = twoFileTable()
    // file 1 loses 3/4 rows, file 2 loses 1/4
    Lake.deleteWhereDv(spark, dir, col("id").isin(1L, 2L, 3L, 5L))
    val (_, purged) = Lake.purgeDeletes(spark, dir, minDeletedFraction = 0.5)
    assert(purged == 1L)
    // content unchanged; file 2 keeps its sidecar coverage
    assert(ids(dir) == Set(4L, 6L, 7L, 8L))
    val dvs = Lake.deletionVectors(spark, dir)
    assert(dvs.flatMap(_._3).distinct.size == 1)
    assert(Lake.rowCount(spark, dir) == 4L)
    // below-threshold call is a no-op; a full purge then clears the rest
    val head = Lake.listVersions(spark, dir).last
    assert(Lake.purgeDeletes(spark, dir, minDeletedFraction = 0.5) ==
      ((head, 0L)))
    Lake.purgeDeletes(spark, dir)
    assert(Lake.deletionVectors(spark, dir).isEmpty)
    assert(ids(dir) == Set(4L, 6L, 7L, 8L))
  }

  test("appends after a dvDelete compose; copy-on-write delete purges covered files") {
    val dir = twoFileTable()
    Lake.deleteWhereDv(spark, dir, col("id").isin(1L, 5L))
    Lake.appendVersioned(spark,
      Seq((9L, "a", 90.0)).toDF("id", "k", "v").coalesce(1), dir)
    assert(ids(dir) == Set(2L, 3L, 4L, 6L, 7L, 8L, 9L))
    // COW delete of k='a' must NOT resurrect id=1 (tombstoned, same file)
    val (_, removed) = Lake.deleteWhere(spark, dir, col("k") === "a")
    // audit counts THIS commit's deletes only: 3, 6, 9 — not the
    // tombstoned 1 that also vanishes from the rewrite
    assert(removed == 3L)
    assert(ids(dir) == Set(2L, 4L, 7L, 8L))
    // every covered file held a k='a' row, so the COW rewrite retired
    // the whole sidecar coverage — and did NOT resurrect ids 1/5
    assert(Lake.deletionVectors(spark, dir).isEmpty)
  }

  test("optimize folds small dvd files and doubles as their purge") {
    val dir = twoFileTable()
    Lake.deleteWhereDv(spark, dir, col("k") === "b")
    val (v, folded) = Lake.optimizeVersioned(spark, dir)
    assert(folded == 2L && v > 0)
    assert(ids(dir) == Set(1L, 3L, 4L, 6L, 7L))
    assert(Lake.deletionVectors(spark, dir).isEmpty)
    // reorg-invisible to the feed despite the physical purge
    assert(Lake.readChangeFeed(spark, dir, v, v).count() == 0L)
  }

  test("the change feed emits a dvDelete's preimages as deletes") {
    val dir = twoFileTable()
    val (v, _) = Lake.deleteWhereDv(spark, dir, col("k") === "a")
    val feed = Lake.readChangeFeed(spark, dir, v, v)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(feed == Set((1L, "delete"), (3L, "delete"), (6L, "delete")))
    // an incremental view folds through it like any retraction
    val viewDir = tmp()
    Lake.refreshIncremental(spark, dir, viewDir,
      keys = Seq("k"), sumCols = Seq("v"), countCol = "n")
    val got = Lake.readVersioned(spark, viewDir)
      .select("k", "n", "v").as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map("b" -> ((3L, 150.0)), "c" -> ((2L, 110.0))))
  }

  test("restore across a dvDelete re-inserts the returned rows in the feed") {
    val dir = twoFileTable()
    val pre = Lake.listVersions(spark, dir).last
    Lake.deleteWhereDv(spark, dir, col("id") === 2L)
    val restored = Lake.restoreVersion(spark, dir, pre)
    assert(ids(dir) == (1L to 8L).toSet)
    // the file diff is empty (same files carried) — the tombstone diff
    // must surface id=2 coming back
    val feed = Lake.readChangeFeed(spark, dir, restored, restored)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(feed == Set((2L, "insert")))
    // and restoring back onto the dv'd version re-applies its sidecar
    val dvd = Lake.restoreVersion(spark, dir, pre + 1)
    assert(ids(dir) == (1L to 8L).toSet - 2L)
    val feed2 = Lake.readChangeFeed(spark, dir, dvd, dvd)
      .select("id", "_change_type").as[(Long, String)].collect().toSet
    assert(feed2 == Set((2L, "delete")))
  }

  test("vacuum keeps live sidecars and reclaims retired ones") {
    val dir = twoFileTable()
    Lake.deleteWhereDv(spark, dir, col("k") === "a")
    // vacuum to just the dv'd head: the sidecar must survive (a retained
    // manifest references it) and the read stays correct
    Lake.vacuum(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    assert(ids(dir) == Set(2L, 4L, 5L, 7L, 8L))
    val sidecar = Lake.deletionVectors(spark, dir).map(_._1).head
    val root = new java.io.File(dir).getCanonicalPath
    assert(new java.io.File(s"$root/$sidecar").exists())
    // purge, then vacuum again: nothing references the sidecar anymore
    Lake.purgeDeletes(spark, dir)
    Lake.vacuum(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    assert(!new java.io.File(s"$root/$sidecar").exists())
    assert(ids(dir) == Set(2L, 4L, 5L, 7L, 8L))
  }

  test("a vacuum-materialized dvdelete refuses at the feed horizon, never feeds empty") {
    val dir = twoFileTable() // v1 snapshot, v2 append
    val (v3, _) = Lake.deleteWhereDv(spark, dir, col("k") === "a")
    Lake.appendVersioned(spark,
      Seq((9L, "d", 90.0)).toDF("id", "k", "v").coalesce(1), dir) // v4
    // drop v1+v2: v3's delta chain passes through v2 → vacuum
    // materializes it as a FULL manifest (dv set, no dvAdd)
    Lake.vacuum(spark, dir, keepLast = 2, orphanGraceMs = 0L)
    assert(ids(dir) == Set(2L, 4L, 5L, 7L, 8L, 9L))
    // the deletes' preimages need v2's state, which is gone: the feed
    // must REFUSE (the horizon contract) — before the materialized-form
    // guard it silently emitted zero changes for the commit
    val e = intercept[RuntimeException] {
      Lake.readChangeFeed(spark, dir, v3, v3 + 1).count()
    }
    assert(e.getMessage.contains("vacuum") ||
      e.getMessage.contains("retention"), e.getMessage)
    // the append after it still feeds fine
    assert(Lake.readChangeFeed(spark, dir, v3 + 1, v3 + 1)
      .select("id").as[Long].collect().toSeq == Seq(9L))
  }

  test("paths that cannot see tombstones refuse while DVs are live") {
    val dir = twoFileTable()
    Lake.appendStats(spark, dir, Seq("id"))
    Lake.deleteWhereDv(spark, dir, col("id") === 1L)
    val m = intercept[IllegalArgumentException] {
      Lake.mergeInto(spark, dir,
        Seq((2L, "z", 0.0)).toDF("id", "k", "v"), Seq("id"))
    }
    assert(m.getMessage.contains("deletion vectors"))
    val s = intercept[IllegalArgumentException] {
      Lake.readSkipping(spark, dir, col("min_id") <= 3L)
    }
    assert(s.getMessage.contains("deletion vectors"))
    // purge clears the gate
    Lake.purgeDeletes(spark, dir)
    Lake.mergeInto(spark, dir,
      Seq((2L, "z", 0.0)).toDF("id", "k", "v"), Seq("id"))
    assert(Lake.readVersioned(spark, dir)
      .filter(col("id") === 2L).select("k").as[String].head() == "z")
  }

  test("schema-evolving tables refuse the dv path, and vice versa") {
    val dir = tmp()
    Lake.writeEvolving(spark, Seq((1L, "a")).toDF("id", "k"), dir)
    val e = intercept[IllegalArgumentException] {
      Lake.deleteWhereDv(spark, dir, col("id") === 1L)
    }
    assert(e.getMessage.contains("schema-evolving"))
    // the mirror refusal: a dv'd table cannot start drifting — the
    // evolved read path cannot attach the tombstone anti-join
    val dir2 = twoFileTable()
    Lake.deleteWhereDv(spark, dir2, col("id") === 1L)
    val d = intercept[IllegalArgumentException] {
      Lake.writeEvolving(spark, Seq((9L, "z", 9.0, "extra"))
        .toDF("id", "k", "v", "note"), dir2)
    }
    assert(d.getMessage.contains("deletion vectors"))
    Lake.purgeDeletes(spark, dir2)
    Lake.writeEvolving(spark, Seq((9L, "z", 9.0, "extra"))
      .toDF("id", "k", "v", "note"), dir2)
    assert(Lake.readVersioned(spark, dir2).count() == 8L)
  }

  test("the dv read plans a broadcast anti-join confined to covered files") {
    val dir = twoFileTable()
    // append a THIRD file, then tombstone rows in the first two only:
    // the clean file must scan join-free
    Lake.appendVersioned(spark,
      Seq((9L, "d", 90.0)).toDF("id", "k", "v").coalesce(1), dir)
    Lake.deleteWhereDv(spark, dir, col("k") === "a")
    val df = Lake.readVersioned(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // tombstones ride a broadcast (manifest says 3 positions — far under
    // the gate), applied as a LeftAnti
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"dv anti-join not broadcast:\n$p")
    // the union has a branch scanning the clean file with NO join above
    // it — the split that keeps dv cost confined to covered files
    assert(p.contains("Union"), s"no clean/dvd scan split:\n$p")
    assert(df.select("id").as[Long].collect().toSet ==
      Set(2L, 4L, 5L, 7L, 8L, 9L))
  }

  test("stats pruning narrows dv discovery to candidate files") {
    val dir = twoFileTable()
    Lake.appendStats(spark, dir, Seq("id"))
    // bounds exclude file 2 (ids 5-8): only file 1 is even opened
    val (_, n) = Lake.deleteWhereDv(spark, dir, col("id") <= 2L,
      filePrune = Some(col("min_id") <= 2L))
    assert(n == 2L)
    assert(ids(dir) == Set(3L, 4L, 5L, 6L, 7L, 8L))
    assert(Lake.deletionVectors(spark, dir).flatMap(_._3).distinct.size == 1)
  }

  test("a dv delete starts two jobs: the discovery collect and the sidecar write") {
    val dir = twoFileTable()
    var res = (0L, 0L)
    val n = jobsOf { res = Lake.deleteWhereDv(spark, dir, col("k") === "a") }
    // the covered files come from the collected positions; reading them
    // back from the sidecar just written cost two more jobs
    assert(n <= 2L, s"a dv delete started $n Spark jobs")
    assert(res._2 == 3L && ids(dir) == Set(2L, 4L, 5L, 7L, 8L))
    assert(Lake.deletionVectors(spark, dir).flatMap(_._3).distinct.size == 2)
  }
}
