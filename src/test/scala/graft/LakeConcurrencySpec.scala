package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._

import graft.sources.Lake

/** TRUE-RACE coverage for the optimistic-concurrency commit protocol:
  * the rebase loops, claimed-dir exclusivity, and the deletion-vector
  * conflict checks have sequential coverage everywhere else — here real
  * threads contend on one table and the final state must be exactly the
  * serial answer (the workload is chosen conflict-free: appends touch
  * fresh keys, the two delete flavors target disjoint pre-seeded files,
  * so every commit must eventually LAND — a refusal loop or a lost
  * update is a bug, not bad luck).
  */
class LakeConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-race").toString

  test("racing appends, dvDeletes, and a COW delete converge to the serial answer") {
    val dir = tmp()
    // 8 seed files, one per 1000-key band (separate appends → one file
    // each, so the delete flavors below touch DISJOINT files)
    (0 until 8).foreach { b =>
      val rows = (b * 1000L until b * 1000L + 50L).map(k => (k, k % 7))
      if (b == 0) Lake.writeVersioned(spark, rows.toDF("k", "v").coalesce(1), dir)
      else Lake.appendVersioned(spark, rows.toDF("k", "v").coalesce(1), dir)
    }
    val v0 = Lake.listVersions(spark, dir).last

    val pool = Executors.newFixedThreadPool(3)
    val start = new CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def worker(body: => Unit): Runnable = () => {
      start.await()
      try body catch { case t: Throwable => errors.add(t) }
    }
    // appender: five batches of fresh keys — appends COMMUTE, so every
    // one must land through the rebase loop without refusing
    pool.submit(worker {
      (0 until 5).foreach { i =>
        val rows = (10000L + i * 100 until 10000L + i * 100 + 40L)
          .map(k => (k, k % 7))
        Lake.appendVersioned(spark, rows.toDF("k", "v").coalesce(1), dir)
      }
    })
    // merge-on-read deleter: tombstones bands 0 and 1 (files 0, 1)
    pool.submit(worker {
      Lake.deleteWhereDv(spark, dir, col("k") < 1000L)
      Lake.deleteWhereDv(spark, dir, col("k").between(1000L, 1999L))
    })
    // copy-on-write deleter: rewrites band 5 (file 5) — disjoint from
    // every dv-covered file, so the dvLoss/dvHit checks must rebase it,
    // not refuse it
    pool.submit(worker {
      Lake.deleteWhere(spark, dir, col("k").between(5000L, 5999L))
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "race timed out")
    assert(errors.isEmpty,
      s"concurrent commit failed: ${Option(errors.peek()).map(_.toString)}")

    // serial answer: seeds minus bands 0/1/5, plus all appended keys
    val expect = (0 until 8).filterNot(b => b == 0 || b == 1 || b == 5)
      .flatMap(b => b * 1000L until b * 1000L + 50L).toSet ++
      (0 until 5).flatMap(i =>
        10000L + i * 100 until 10000L + i * 100 + 40L).toSet
    val got = Lake.readVersioned(spark, dir)
      .select("k").as[Long].collect().toSet
    assert(got == expect, "final content diverged from the serial answer")
    // the metadata count agrees with the scan through the tombstones
    assert(Lake.rowCount(spark, dir) == expect.size.toLong)
    // the version chain stayed contiguous (the linearization contract)
    val vs = Lake.listVersions(spark, dir)
    assert(vs == (vs.head to vs.last), s"non-contiguous chain: $vs")
    assert(vs.last == v0 + 8, s"expected exactly 8 commits after v$v0: $vs")
    // the change feed folds from the seed state to the final state —
    // every racing commit fed exactly its own changes
    val feed = Lake.readChangeFeed(spark, dir, v0 + 1, vs.last)
      .select("k", "_change_type").as[(Long, String)].collect()
    val seedKeys = (0 until 8).flatMap(b =>
      b * 1000L until b * 1000L + 50L).toSet
    val folded = feed.foldLeft(seedKeys) {
      case (s, (k, "insert")) => s + k
      case (s, (k, "delete")) => s - k
      case (s, _) => s
    }
    assert(folded == expect, "feed fold diverged from the final state")
  }

  test("a delete losing to an append that writes a checkpoint rebases over it") {
    val dir = tmp()
    Lake.writeVersioned(spark, (1L to 20L).map(k => (k, k % 7)).toDF("k", "v")
      .coalesce(1), dir)
    // 32 appends fill the delta chain: the next append publishes a
    // checkpoint (a full file list, no add/remove of its own)
    (21L to 52L).foreach(k =>
      Lake.appendVersioned(spark, Seq((k, k % 7)).toDF("k", "v"), dir))
    val v0 = Lake.listVersions(spark, dir).last
    // the delete blocks inside its discovery pass — after it resolved
    // its head v0 — until the append has published v0 + 1
    val gate = udf { (k: Long) =>
      if (CheckpointRace.first.compareAndSet(true, false)) {
        CheckpointRace.entered.countDown()
        CheckpointRace.go.await(120, TimeUnit.SECONDS)
      }
      k
    }
    val pool = Executors.newSingleThreadExecutor()
    try {
      val delete = pool.submit(() => Lake.deleteWhere(spark, dir, gate(col("k")) === 5L))
      assert(CheckpointRace.entered.await(120, TimeUnit.SECONDS))
      assert(Lake.appendVersioned(spark, Seq((99L, 1L)).toDF("k", "v"), dir) == v0 + 1)
      val js = new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/_graft_versions/v=${v0 + 1}.json")), "UTF-8")
      assert(js.contains("\"files\":") && js.contains("\"op\":\"append\""),
        s"the racing append did not publish a checkpoint: $js")
      CheckpointRace.go.countDown()
      assert(delete.get(180, TimeUnit.SECONDS) == ((v0 + 2, 1L)))
    } finally { CheckpointRace.go.countDown(); pool.shutdown() }
    // the head holds both changes
    val keys = Lake.readVersioned(spark, dir).select("k").as[Long].collect().toSet
    assert(keys == ((1L to 52L).toSet - 5L + 99L))
  }
}

/** The one-shot latch pair the checkpoint-rebase spec's delete predicate
  * blocks on (a UDF runs in an executor task of this JVM).
  */
private object CheckpointRace {
  val first = new java.util.concurrent.atomic.AtomicBoolean(true)
  val entered = new CountDownLatch(1)
  val go = new CountDownLatch(1)
}
