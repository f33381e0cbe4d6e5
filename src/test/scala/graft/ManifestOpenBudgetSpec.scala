package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, lit}

import graft.sources.Lake

/** Each lake operation resolves its table's head once: reading the head
  * manifest walks its delta chain (L manifests, its depth + 1), and a
  * commit adds at most two more reads — its upkeep runs on the manifest it
  * just published instead of resolving the head again. A stream batch's
  * replay gate reads back only to the last stamp, and a stream adoption
  * opens each retained manifest once.
  */
class ManifestOpenBudgetSpec extends SparkSpec {
  import spark.implicits._

  test("each lake operation opens at most its head chain plus two version manifests") {
    CountingFs.register(spark.sparkContext.hadoopConfiguration)
    val local = Files.createTempDirectory("graft-opens").toString
    val dir = s"${CountingFs.Scheme}://$local/t"
    def rows(ids: Range) = ids.map(i => (i.toLong, f"k$i%06d")).toDF("id", "k")
    Lake.writeVersioned(spark, rows(0 until 200).repartition(2), dir)
    for (b <- 1 to 11)
      Lake.appendVersioned(spark, rows(b * 200 until b * 200 + 50).coalesce(1), dir)
    Lake.writeStats(spark, dir, Seq("id"))
    Lake.writeBloomIndex(spark, dir, "k", expectedPerFile = 100L)
    def chain(): Long = chainAt(s"$local/t")
    assert(chain() == 12L)
    val ops: Seq[(String, () => Unit)] = Seq(
      "readVersioned" -> (() => Lake.readVersioned(spark, dir)),
      "rowCount" -> (() => assert(Lake.rowCount(spark, dir) == 750L)),
      "appendVersioned" -> (() =>
        Lake.appendVersioned(spark, rows(5000 until 5020).coalesce(1), dir)),
      "readSkipping" -> (() => Lake.readSkipping(spark, dir,
        Lake.skipRange("id", lit(10L), lit(20L)))),
      "deleteWhereDv" -> (() =>
        assert(Lake.deleteWhereDv(spark, dir, col("id") === 3L)._2 == 1L)),
      "deleteWhere" -> (() =>
        assert(Lake.deleteWhere(spark, dir, col("id") === 205L)._2 == 1L)),
      "purgeDeletes" -> (() => assert(Lake.purgeDeletes(spark, dir)._2 == 1L)),
      "optimizeVersioned" -> (() =>
        assert(Lake.optimizeVersioned(spark, dir)._2 > 1L)),
      "mergeInto" -> (() => assert(Lake.mergeInto(spark, dir,
        rows(400 until 405), Seq("id"))._2 == ((5L, 0L))))
    )
    val counts = ops.map { case (name, op) =>
      val l = chain()
      val before = CountingFs.manifestOpens.get
      op()
      (name, l, CountingFs.manifestOpens.get - before)
    }
    val shown = counts.map { case (n, l, o) => s"$n: $o opens at L = $l" }
      .mkString("; ")
    info(shown)
    assert(counts.forall { case (_, l, o) => o <= l + 2 }, shown)
    assert(Lake.rowCount(spark, dir) == 768L)
    assert(Lake.readVersioned(spark, dir).count() == 768L)
  }

  /** The head chain length (depth + 1) of the table at `local`, read from
    * local disk past the counter.
    */
  private def chainAt(local: String): Long = {
    val head = new String(Files.readAllBytes(Paths.get(s"$local/_graft_latest")),
      "UTF-8").trim
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get(s"$local/_graft_versions/v=$head.json").toFile)
      .get("depth").asLong + 1
  }

  test("a fresh stream batch reads back to the last stamp, not the whole history") {
    CountingFs.register(spark.sparkContext.hadoopConfiguration)
    val local = Files.createTempDirectory("graft-opens").toString + "/t"
    val dir = s"${CountingFs.Scheme}://$local"
    def rows(b: Int) = (b * 10 until b * 10 + 10).map(i => (i.toLong, s"k$i"))
      .toDF("id", "k").coalesce(1)
    for (b <- 0 to 11) Lake.appendVersioned(spark, rows(b), dir, Some(b.toLong))
    // an unstamped head (a delete) is walked past
    assert(Lake.deleteWhere(spark, dir, col("id") === 3L)._2 == 1L)
    val l = chainAt(local)
    assert(l == 13L)
    val before = CountingFs.manifestOpens.get
    assert(Lake.appendVersioned(spark, rows(12), dir, Some(12L)) == 14L)
    val opens = CountingFs.manifestOpens.get - before
    info(s"fresh batch: $opens opens at L = $l")
    assert(opens <= l + 2, s"$opens opens at L = $l")
    // replays are still found, below the newest stamp and at it
    assert(Lake.streamBatchCommitted(spark, dir, 5L))
    assert(Lake.streamBatchCommitted(spark, dir, 12L))
    assert(!Lake.streamBatchCommitted(spark, dir, 13L))
    assert(Lake.appendVersioned(spark, rows(5), dir, Some(5L)) == 14L)
    assert(Lake.listVersions(spark, dir).last == 14L)
    assert(Lake.readVersioned(spark, dir).count() == 129L)
  }

  test("a stream adoption opens each retained manifest once") {
    CountingFs.register(spark.sparkContext.hadoopConfiguration)
    val local = Files.createTempDirectory("graft-opens").toString + "/t"
    val dir = s"${CountingFs.Scheme}://$local"
    def drain(b: Int): Unit =
      (b * 10 until b * 10 + 10).map(i => (i.toLong, s"k$i")).toDF("id", "k")
        .coalesce(1).write.mode("append").parquet(dir)
    for (b <- 0 to 14) { drain(b); Lake.commitStreamVersion(spark, dir) }
    // the delete retires a file vacuum has not reclaimed: never re-adopted
    assert(Lake.deleteWhere(spark, dir, col("id") === 3L)._2 == 1L)
    val n = Lake.listVersions(spark, dir).size.toLong
    val l = chainAt(local)
    assert(n == 16L && l == 16L)
    drain(15)
    val before = CountingFs.manifestOpens.get
    assert(Lake.commitStreamVersion(spark, dir).contains(17L))
    val opens = CountingFs.manifestOpens.get - before
    info(s"adoption: $opens opens over $n retained versions at L = $l")
    assert(opens <= n + l + 2, s"$opens opens over $n versions at L = $l")
    assert(Lake.readVersioned(spark, dir).count() == 159L)
    assert(Lake.readVersioned(spark, dir).filter(col("id") === 3L).isEmpty)
  }
}
