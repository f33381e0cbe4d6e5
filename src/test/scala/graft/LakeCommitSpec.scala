package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.functions._

import graft.sources.Lake

/** The conflict rules of the one commit loop, one deterministic lost race
  * per case. A rewound version pointer makes the next committer resolve
  * a stale head — what a writer that computed its change before a
  * concurrent commit landed sees at publish time; a stream adoption
  * resolves its base from the manifest listing, so its race is staged by
  * blocking it inside its constraint check instead. Each commit's rule
  * follows what it read: a blind write rebases over any winner, a commit
  * that read the whole table rebases only over alter commits, a metadata
  * commit over winners that left the properties, mapping and schema log
  * alone.
  */
class LakeCommitSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-commit").toString + "/t"

  private def rewindPointer(dir: String, v: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_graft_latest"), true)
    out.write(v.toString.getBytes("UTF-8")); out.close()
  }

  private def rows(ids: Range) = ids.map(i => (i.toLong, i.toLong)).toDF("id", "v")

  private def content(dir: String): Seq[(Long, Long)] =
    Lake.readVersioned(spark, dir).orderBy("id").as[(Long, Long)].collect().toSeq

  test("a merge over an alter winner rebases and enforces the new constraint") {
    val dir = tmp()
    Lake.writeVersioned(spark, rows(1 to 10), dir) // v1
    Lake.setAutoOptimize(spark, dir, 1000, 1L << 20) // v2
    rewindPointer(dir, 1L)
    assert(Lake.mergeInto(spark, dir, Seq((3L, 30L), (11L, 11L)).toDF("id", "v"),
      Seq("id")) == ((3L, (1L, 1L))))
    assert(Lake.autoOptimizePolicy(spark, dir) == Some((1000, 1L << 20)))
    Lake.addCheckConstraint(spark, dir, "v_nonneg", "v >= 0") // v4
    rewindPointer(dir, 3L)
    val e = intercept[IllegalArgumentException](Lake.mergeInto(spark, dir,
      Seq((4L, -4L)).toDF("id", "v"), Seq("id")))
    assert(e.getMessage.contains("CHECK constraint violation"), e.getMessage)
    rewindPointer(dir, 3L)
    assert(Lake.mergeInto(spark, dir, Seq((5L, 50L)).toDF("id", "v"),
      Seq("id"))._1 == 5L)
    assert(Lake.checkConstraints(spark, dir) == Seq("v_nonneg" -> "v >= 0"))
    assert(content(dir) == (1 to 11).map(i =>
      (i.toLong, if (i == 3) 30L else if (i == 5) 50L else i.toLong)))
  }

  test("a merge over an append refuses") {
    val dir = tmp()
    Lake.writeVersioned(spark, rows(1 to 10), dir) // v1
    Lake.appendVersioned(spark, rows(11 to 12), dir) // v2
    rewindPointer(dir, 1L)
    val e = intercept[IllegalArgumentException](Lake.mergeInto(spark, dir,
      Seq((11L, 110L)).toDF("id", "v"), Seq("id")))
    assert(e.getMessage.contains("already published"), e.getMessage)
    assert(Lake.listVersions(spark, dir) == Seq(1L, 2L))
    assert(Lake.readVersioned(spark, dir, Some(2L)).count() == 12L)
  }

  test("a rename over an append rebases") {
    val dir = tmp()
    Lake.writeVersioned(spark, rows(1 to 10), dir) // v1
    Lake.appendVersioned(spark, rows(11 to 12), dir) // v2
    rewindPointer(dir, 1L)
    assert(Lake.renameColumns(spark, dir, Map("v" -> "w")) == 3L)
    val cur = Lake.readVersioned(spark, dir)
    assert(cur.columns.toSeq == Seq("id", "w"))
    assert(cur.count() == 12L)
  }

  test("an append over a snapshot rebases") {
    val dir = tmp()
    Lake.writeVersioned(spark, rows(1 to 10), dir) // v1
    Lake.writeVersioned(spark, rows(101 to 105), dir) // v2 replaces v1
    rewindPointer(dir, 1L)
    assert(Lake.appendVersioned(spark, rows(11 to 12), dir) == 3L)
    assert(content(dir).map(_._1) == Seq(11L, 12L) ++ (101L to 105L))
  }

  test("an evolution over a deletion-vector winner refuses") {
    val dir = tmp()
    Lake.writeVersioned(spark, rows(1 to 10), dir) // v1
    assert(Lake.deleteWhereDv(spark, dir, col("id") === 3L) == ((2L, 1L)))
    rewindPointer(dir, 1L)
    // evolved reads cannot apply the winner's tombstones
    val e = intercept[IllegalArgumentException](Lake.writeEvolving(spark,
      Seq((11L, 11L, "x")).toDF("id", "v", "tag"), dir))
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    rewindPointer(dir, 2L)
    assert(Lake.listVersions(spark, dir) == Seq(1L, 2L))
    assert(content(dir).map(_._1) == (1L to 10L).filterNot(_ == 3L))
  }

  test("snapshots and restores keep the stats manifest live") {
    val dir = tmp()
    Lake.writeVersioned(spark, rows(1 to 100).repartition(2), dir) // v1
    Lake.writeStats(spark, dir, Seq("id"))
    Lake.writeVersioned(spark, rows(201 to 300).repartition(2), dir) // v2
    def skim(lo: Long, hi: Long) = Lake.readSkipping(spark, dir,
      Lake.skipRange("id", lit(lo), lit(hi))).filter(col("id").between(lo, hi))
      .count()
    assert(skim(250L, 259L) == 10L)
    assert(skim(50L, 59L) == 0L)
    assert(Lake.restoreVersion(spark, dir, 1L) == 3L)
    assert(skim(50L, 59L) == 10L)
    assert(skim(250L, 259L) == 0L)
  }

  test("a stream adoption rebases over an append and refuses a second adoption of its files") {
    // `commit_gate` blocks the first armed call: the adoption resolves its
    // base and waits in its constraint check while the winner publishes
    spark.udf.register("commit_gate", (v: Long) => {
      if (AdoptionRace.armed.compareAndSet(true, false)) {
        AdoptionRace.entered.countDown()
        AdoptionRace.go.await(120, TimeUnit.SECONDS)
      }
      v
    })
    def drain(dir: String, ids: Range): Unit =
      rows(ids).coalesce(1).write.mode("append").parquet(dir)
    def race(dir: String)(winner: => Unit): Either[String, Option[Long]] = {
      AdoptionRace.arm()
      val pool = Executors.newSingleThreadExecutor()
      try {
        val adopt = pool.submit(() =>
          try Right(Lake.commitStreamVersion(spark, dir))
          catch { case e: IllegalArgumentException => Left(e.getMessage) })
        assert(AdoptionRace.entered.await(120, TimeUnit.SECONDS))
        winner
        AdoptionRace.go.countDown()
        adopt.get(180, TimeUnit.SECONDS)
      } finally { AdoptionRace.go.countDown(); pool.shutdown() }
    }
    val dir = tmp()
    drain(dir, 1 to 10)
    assert(Lake.commitStreamVersion(spark, dir).contains(1L))
    Lake.addCheckConstraint(spark, dir, "gated", "commit_gate(v) >= 0") // v2
    drain(dir, 11 to 20)
    // an append wins v3: the adoption read nothing of it and rebases
    assert(race(dir)(assert(Lake.appendVersioned(spark, rows(21 to 25), dir) == 3L))
      == Right(Some(4L)))
    assert(content(dir).map(_._1) == (1L to 25L))
    // a second adoption of the same drained file wins: the loser refuses
    drain(dir, 31 to 35)
    val lost = race(dir)(assert(Lake.commitStreamVersion(spark, dir).contains(5L)))
    assert(lost.swap.exists(m => m.contains("already published") &&
      m.contains("also adds")), lost.toString)
    assert(Lake.listVersions(spark, dir).last == 5L)
    assert(content(dir).map(_._1) == (1L to 25L) ++ (31L to 35L))
  }
}

/** The latches the adoption-race spec's constraint UDF blocks on (a UDF
  * runs in an executor task of this JVM, so the state must be static).
  */
private object AdoptionRace {
  val armed = new AtomicBoolean(false)
  @volatile var entered = new CountDownLatch(1)
  @volatile var go = new CountDownLatch(1)
  def arm(): Unit = {
    entered = new CountDownLatch(1)
    go = new CountDownLatch(1)
    armed.set(true)
  }
}
