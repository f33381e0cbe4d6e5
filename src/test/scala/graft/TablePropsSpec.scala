package graft

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.functions._

import graft.sources.Lake

/** Table properties — CHECK constraints, generated-column specs and the
  * auto-optimize policy — ride the version manifests: every checkpoint
  * writer carries them, a change to them is an `alter` commit that races
  * other commits through the manifest rename, and nothing about a table
  * lives outside its versioned log except the skipping indexes and the
  * staged batches.
  */
class TablePropsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-props").toString

  private def manifestJson(t: String, v: Long): String =
    new String(Files.readAllBytes(Paths.get(s"$t/_graft_versions/v=$v.json")), "UTF-8")

  private def head(t: String): Long = Lake.listVersions(spark, t).last

  /** The head manifest is a checkpoint (a full file list) carrying props. */
  private def assertCheckpointWithProps(t: String, what: String): Unit = {
    val js = manifestJson(t, head(t))
    assert(js.contains("\"files\":") && js.contains("\"props\":"),
      s"$what: head v${head(t)} is not a checkpoint carrying props: $js")
  }

  private val Policy = (8, 1L << 20)

  /** Properties as declared, and still enforced: a violating row refuses,
    * an omitted generated column is computed, and the policy keeps the
    * live file count at its limit.
    */
  private def assertProps(t: String, nextId: Long, what: String): Unit = {
    assert(Lake.checkConstraints(spark, t) == Seq("v_nonneg" -> "v >= 0"), what)
    assert(Lake.generatedColumns(spark, t) == Seq("twice" -> "id * 2"), what)
    assert(Lake.autoOptimizePolicy(spark, t) == Some(Policy), what)
    val e = intercept[IllegalArgumentException](
      Lake.appendVersioned(spark, Seq((nextId, -1L)).toDF("id", "v"), t))
    assert(e.getMessage.contains("v_nonneg"), s"$what: ${e.getMessage}")
    Lake.appendVersioned(spark, Seq((nextId, 1L)).toDF("id", "v"), t)
    val cur = Lake.readVersioned(spark, t)
    assert(cur.filter(col("id") === nextId).select("twice").as[Long]
      .collect().toSeq == Seq(nextId * 2), what)
    assert(cur.inputFiles.length <= Policy._1, s"$what: the policy never folded")
  }

  test("properties survive every checkpoint writer and stay enforced") {
    val t = tmp() + "/t"
    Lake.writeVersioned(spark,
      (1L to 20L).map(i => (i, i * 2, i)).toDF("id", "twice", "v"), t)
    Lake.addCheckConstraint(spark, t, "v_nonneg", "v >= 0")
    Lake.addGeneratedColumn(spark, t, "twice", "id * 2")
    Lake.setAutoOptimize(spark, t, Policy._1, Policy._2)
    var id = 100L
    def check(what: String): Unit = { assertProps(t, id, what); id += 1 }
    check("declared")
    // an append chain past MaxChainDepth self-checkpoints (the policy's
    // optimize commits interleave: they are deltas too)
    var appends = 0
    while (!manifestJson(t, head(t)).contains("\"files\":")) {
      appends += 1
      assert(appends <= 40, "no checkpoint after 40 appends")
      Lake.appendVersioned(spark, Seq((id, 1L)).toDF("id", "v"), t)
      id += 1
    }
    assertCheckpointWithProps(t, "depth-capped append")
    check("depth-capped append")
    Lake.optimizeVersioned(spark, t, targetFileBytes = 1L << 20)
    check("optimizeVersioned")
    Lake.zorderVersioned(spark, t, Seq("id", "v"), targetFileRows = 1000L)
    assertCheckpointWithProps(t, "zorderVersioned")
    check("zorderVersioned")
    Lake.rerangeVersioned(spark, t, "id", targetFileRows = 1000L)
    assertCheckpointWithProps(t, "rerangeVersioned")
    check("rerangeVersioned")
    // keepLast = 1 keeps only the head, an append delta: it materializes
    Lake.vacuum(spark, t, keepLast = 1, orphanGraceMs = 0L)
    assertCheckpointWithProps(t, "vacuum")
    check("vacuum")
    // an overwrite keeps the table's properties, and computes the column
    Lake.writeVersioned(spark, (1L to 5L).map(i => (i, i)).toDF("id", "v"), t)
    assertCheckpointWithProps(t, "writeVersioned")
    assert(Lake.readVersioned(spark, t).filter(col("twice") =!= col("id") * 2)
      .isEmpty)
    check("writeVersioned")
    val restoreTo = head(t) - 1
    Lake.restoreVersion(spark, t, restoreTo)
    assertCheckpointWithProps(t, "restoreVersion")
    check("restoreVersion")
    val clone = tmp() + "/clone"
    Lake.shallowClone(spark, t, clone)
    assertCheckpointWithProps(clone, "shallowClone")
    assertProps(clone, id, "shallowClone")
    // the rename guard refuses while column-keyed properties or skipping
    // stats (rerange tracked its key) exist; the policy is not
    // column-keyed and rides the remap checkpoint
    val statsDir = new org.apache.hadoop.fs.Path(t, "_graft_stats")
    statsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(statsDir, true)
    assert(Lake.dropCheckConstraint(spark, t, "v_nonneg"))
    assert(Lake.dropGeneratedColumn(spark, t, "twice"))
    assert(!Lake.dropCheckConstraint(spark, t, "v_nonneg"), "a second drop")
    Lake.renameColumns(spark, t, Map("v" -> "w"))
    Lake.materializeMapping(spark, t)
    assertCheckpointWithProps(t, "materializeMapping")
    assert(Lake.checkConstraints(spark, t).isEmpty)
    assert(Lake.generatedColumns(spark, t).isEmpty)
    assert(Lake.autoOptimizePolicy(spark, t) == Some(Policy))
    for (i <- 0 until Policy._1)
      Lake.appendVersioned(spark,
        Seq((id + i, (id + i) * 2, 1L)).toDF("id", "twice", "w"), t)
    assert(Lake.readVersioned(spark, t).inputFiles.length <= Policy._1,
      "the policy stopped folding after the remap")
  }

  test("a dropped property is an empty set, and restore keeps the head's") {
    val t = tmp() + "/tt"
    Lake.writeVersioned(spark, (1L to 5L).map(i => (i, i)).toDF("id", "v"), t)
    Lake.addCheckConstraint(spark, t, "v_pos", "v > 0")
    val withC = head(t)
    assert(manifestJson(t, withC).contains("\"op\":\"alter\""))
    assert(Lake.dropCheckConstraint(spark, t, "v_pos"))
    // the drop is a delta carrying the EMPTY property set, not "inherit"
    assert(manifestJson(t, head(t)).contains("\"props\":{}"))
    assert(Lake.checkConstraints(spark, t).isEmpty)
    Lake.appendVersioned(spark, Seq((6L, -1L)).toDF("id", "v"), t)
    // a restore keeps the HEAD's properties: none, so the alter version's
    // data restores and the constraint does not come back with it
    Lake.restoreVersion(spark, t, withC)
    assert(Lake.checkConstraints(spark, t).isEmpty)
    assert(Lake.readVersioned(spark, t).count() == 5)
  }

  test("metadata commits start no Spark job; adding a constraint runs only its aggregate") {
    val t = tmp() + "/jobs"
    Lake.writeVersioned(spark, (1L to 50L).map(i => (i, i * 2, i)).toDF("id", "twice", "v"), t)
    val aggregate = jobsOf(Lake.readVersioned(spark, t)
      .agg(sum(when(!coalesce(expr("v >= 0"), lit(true)), 1L).otherwise(0L)))
      .head())
    assert(jobsOf(Lake.addCheckConstraint(spark, t, "v_nonneg", "v >= 0")) == aggregate)
    Lake.addGeneratedColumn(spark, t, "twice", "id * 2")
    assert(jobsOf(Lake.setAutoOptimize(spark, t, 4, 1L << 20)) == 0L)
    assert(jobsOf(Lake.clearAutoOptimize(spark, t)) == 0L)
    assert(jobsOf(assert(Lake.dropCheckConstraint(spark, t, "v_nonneg"))) == 0L)
    assert(jobsOf(assert(Lake.dropGeneratedColumn(spark, t, "twice"))) == 0L)
    assert(Lake.versionHistory(spark, t).map(_._3).drop(1) == Seq.fill(6)("alter"))
  }

  test("building read frames of an evolving versioned table starts no job") {
    val t = tmp() + "/ev"
    Lake.writeVersioned(spark, Seq((1L, 1.0)).toDF("id", "v"), t)
    // a drifted append bootstraps the schema chain on the versioned table
    Lake.appendVersioned(spark, Seq((2L, 2.0, "x")).toDF("id", "v", "tag"), t)
    assert(Lake.schemaVersions(spark, t) == Seq(1L, 2L))
    assert(jobsOf(Lake.readVersioned(spark, t)) == 0L)
    assert(jobsOf(Lake.readEvolving(spark, t)) == 0L)
    assert(Lake.readEvolving(spark, t).orderBy("id").as[(Long, Double, String)]
      .collect().toSeq == Seq((1L, 1.0, null), (2L, 2.0, "x")))
    val plain = tmp() + "/evplain"
    Lake.writeEvolving(spark, Seq((1L, 1)).toDF("id", "n"), plain)
    Lake.writeEvolving(spark, Seq((2L, 2L)).toDF("id", "n"), plain)
    assert(jobsOf(Lake.readEvolving(spark, plain)) == 0L)
    assert(Lake.readEvolving(spark, plain).orderBy("id").as[(Long, Long)]
      .collect().toSeq == Seq((1L, 1L), (2L, 2L)))
  }

  test("a constraint racing violating commits: one side refuses, never both land") {
    def attempt(body: => Unit): Future[Option[String]] = Future {
      try { body; None }
      catch { case e: IllegalArgumentException => Some(e.getMessage) }
    }
    for (round <- 0 until 6) {
      val t = tmp() + s"/race$round"
      Lake.writeVersioned(spark, (1L to 40L).map(i => (i, i)).toDF("id", "v"), t)
      val stage = Lake.stageAppend(spark, Seq((99L, -2L)).toDF("id", "v"), t)
      val latch = new java.util.concurrent.CountDownLatch(3)
      def go(body: => Unit) = attempt { latch.countDown(); latch.await(); body }
      val add = go(Lake.addCheckConstraint(spark, t, "v_nonneg", "v >= 0"))
      val app = go(Lake.appendVersioned(spark, Seq((98L, -1L)).toDF("id", "v"), t))
      val wap = go(Lake.publishStaged(spark, t, stage))
      val Seq(addR, appR, wapR) =
        Seq(add, app, wap).map(Await.result(_, Duration("180s")))
      (addR ++ appR ++ wapR).foreach(m =>
        assert(m.contains("CHECK constraint violation"), s"round $round: $m"))
      val violating = Lake.readVersioned(spark, t).filter(col("v") < 0).count()
      if (addR.isEmpty) {
        assert(appR.isDefined && wapR.isDefined,
          s"round $round: a violating batch landed beside the constraint")
        assert(Lake.checkConstraints(spark, t) == Seq("v_nonneg" -> "v >= 0"))
        assert(violating == 0L, s"round $round")
      } else {
        assert(Lake.checkConstraints(spark, t).isEmpty, s"round $round")
        assert(appR.isEmpty && wapR.isEmpty, s"round $round: $appR $wapR")
        assert(violating == 2L, s"round $round")
      }
      // every version resolves: one chain, no fork
      Lake.listVersions(spark, t).foreach(v =>
        Lake.readVersioned(spark, t, Some(v)).count())
    }
  }

  test("a constraint racing the first schema evolution never leaves both") {
    for (round <- 0 until 4) {
      val t = tmp() + s"/evrace$round"
      Lake.writeVersioned(spark, (1L to 10L).map(i => (i, i)).toDF("id", "v"), t)
      val latch = new java.util.concurrent.CountDownLatch(2)
      val add = Future {
        latch.countDown(); latch.await()
        scala.util.Try(Lake.addCheckConstraint(spark, t, "v_nonneg", "v >= 0"))
      }
      val evo = Future {
        latch.countDown(); latch.await()
        scala.util.Try(Lake.writeEvolving(spark,
          Seq((11L, 11L, "x")).toDF("id", "v", "tag"), t))
      }
      val (addR, evoR) = (Await.result(add, Duration("180s")),
        Await.result(evo, Duration("180s")))
      val constrained = Lake.checkConstraints(spark, t).nonEmpty
      val evolving = Lake.schemaVersions(spark, t).nonEmpty
      assert(!(constrained && evolving),
        s"round $round: constrained and evolving ($addR, $evoR)")
      assert(constrained == addR.isSuccess, s"round $round: $addR")
      // a refused writeEvolving leaves no schema entry, and its row lands
      // exactly when it succeeds
      assert(evolving == evoR.isSuccess, s"round $round: $evoR")
      assert(Lake.readVersioned(spark, t).count() == (if (evolving) 11L else 10L),
        s"round $round: $evoR")
    }
  }

  test("a schema evolution refused after its schema entry backs the entry out") {
    val t = tmp() + "/evfail"
    Lake.writeVersioned(spark, (1L to 10L).map(i => (i, i)).toDF("id", "v"), t)
    val before = Lake.listVersions(spark, t)
    // the batch fails only when its rows are written: after the schema
    // entry published and the concurrent-constraint check passed
    val boom = Seq((11L, 11L)).toDF("id", "v")
      .withColumn("tag", expr("if(id > 0, raise_error('boom'), 'x')"))
    intercept[Exception](Lake.writeEvolving(spark, boom, t))
    assert(Lake.schemaVersions(spark, t).isEmpty)
    assert(Lake.listVersions(spark, t) == before)
    assert(Lake.readVersioned(spark, t).count() == 10L)
    Lake.writeEvolving(spark, Seq((11L, 11L, "x")).toDF("id", "v", "tag"), t)
    assert(Lake.schemaVersions(spark, t) == Seq(1L))
    assert(Lake.readVersioned(spark, t).count() == 11L)
  }

  test("alter commits: the change feed skips them, views and the replay gate see through") {
    val root = tmp()
    val src = root + "/src"
    def mk(r: Range) = r.map(i => (i.toLong % 5, i.toLong)).toDF("k", "v")
    Lake.writeVersioned(spark, mk(1 to 40), src)
    Lake.refreshIncremental(spark, src, root + "/view", Seq("k"), Seq("v"))
    val v2 = Lake.appendVersioned(spark, mk(41 to 50), src, streamBatchId = Some(7L))
    Lake.addCheckConstraint(spark, src, "v_pos", "v > 0")
    val alter = head(src)
    val v4 = Lake.appendVersioned(spark, mk(51 to 55), src)
    Lake.setAutoOptimize(spark, src, 1000, 1L << 20)
    assert(Lake.dropCheckConstraint(spark, src, "v_pos"))
    val last = head(src)
    assert(Lake.versionHistory(spark, src).map(h => h._1 -> h._3).toMap ==
      Map(1L -> "snapshot", v2 -> "append", alter -> "alter", v4 -> "append",
        v4 + 1 -> "alter", last -> "alter"))
    assert(Lake.readChangeFeed(spark, src, alter, alter).isEmpty)
    assert(Lake.readChangeFeed(spark, src, v4 + 1, last).isEmpty)
    val feed = Lake.readChangeFeed(spark, src, v2, last)
      .select("k", "v", "_change_type", "_commit_version")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(feed == ((41 to 50).map(i => (i % 5L, i.toLong, "insert", v2)) ++
      (51 to 55).map(i => (i % 5L, i.toLong, "insert", v4))).toSet)
    // incremental refresh over a range holding alters equals a full one
    assert(Lake.refreshIncremental(spark, src, root + "/view", Seq("k"),
      Seq("v"))._2 == last)
    Lake.refreshIncremental(spark, src, root + "/full", Seq("k"), Seq("v"),
      forceFull = true)
    def rows(p: String) = Lake.readVersioned(spark, p).orderBy("k")
      .as[(Long, Long, Long)].collect().toSeq
    assert(rows(root + "/view") == rows(root + "/full"))
    // the replay gate reads past unstamped alter versions
    assert(Lake.streamBatchCommitted(spark, src, 7L))
    assert(!Lake.streamBatchCommitted(spark, src, 8L))
    assert(Lake.appendVersioned(spark, mk(41 to 50), src,
      streamBatchId = Some(7L)) == last, "a replayed batch published")
    assert(Lake.readVersioned(spark, src).count() == 55)
  }

  test("a table's root holds only its versioned log, skipping indexes and stages") {
    val t = tmp() + "/guard"
    Lake.writeVersioned(spark,
      (1L to 200L).map(i => (i, i * 2, i % 7)).toDF("id", "twice", "v")
        .repartition(4), t)
    Lake.addCheckConstraint(spark, t, "v_nonneg", "v >= 0")
    Lake.addGeneratedColumn(spark, t, "twice", "id * 2")
    Lake.setAutoOptimize(spark, t, 64, 1L << 20)
    Lake.writeStats(spark, t, Seq("id"))
    Lake.writeBloomIndex(spark, t, "id")
    Lake.appendVersioned(spark, Seq((201L, 3L)).toDF("id", "v"), t)
    Lake.deleteWhereDv(spark, t, col("id") === 5L)
    Lake.purgeDeletes(spark, t)
    Lake.deleteWhere(spark, t, col("id") === 6L)
    val sid = Lake.stageAppend(spark, Seq((202L, 404L, 1L)).toDF("id", "twice", "v"), t)
    Lake.publishStaged(spark, t, sid)
    Lake.mergeInto(spark, t, Seq((7L, 14L, 5L), (300L, 600L, 1L))
      .toDF("id", "twice", "v"), Seq("id"))
    Lake.optimizeVersioned(spark, t)
    Lake.clearAutoOptimize(spark, t)
    assert(Lake.dropCheckConstraint(spark, t, "v_nonneg"))
    assert(Lake.dropGeneratedColumn(spark, t, "twice"))
    Lake.vacuum(spark, t, keepLast = 2, orphanGraceMs = 0L)
    assert(Lake.readVersioned(spark, t).count() == 201L)
    val meta = new java.io.File(t).listFiles().map(_.getName)
      .filter(_.startsWith("_")).toSet
    assert(meta == Set("_graft_versions", "_graft_latest", "_graft_stats",
      "_graft_bloom", "_graft_staged"), meta.toString)
    // the evolving op families: the first evolution of a fresh dir, a
    // drifted append, and a delete, optimize and merge on the evolving table
    val ev = tmp() + "/evguard"
    Lake.writeEvolving(spark, (1L to 20L).map(i => (i, i)).toDF("id", "v"), ev)
    Lake.appendVersioned(spark, Seq((21L, 21L, "x")).toDF("id", "v", "tag"), ev)
    Lake.deleteWhere(spark, ev, col("id") === 3L)
    Lake.optimizeVersioned(spark, ev)
    Lake.mergeInto(spark, ev, Seq((4L, 40L, "m"), (22L, 22L, "n"))
      .toDF("id", "v", "tag"), Seq("id"))
    assert(Lake.schemaVersions(spark, ev) == Seq(1L, 2L))
    assert(Lake.readVersioned(spark, ev).count() == 21L)
    val evMeta = new java.io.File(ev).listFiles().map(_.getName)
      .filter(_.startsWith("_")).toSet
    assert(evMeta == Set("_graft_versions", "_graft_latest"), evMeta.toString)
  }
}
