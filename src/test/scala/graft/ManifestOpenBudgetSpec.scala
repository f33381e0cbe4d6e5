package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, lit}

import graft.sources.Lake

/** Each lake operation resolves its table's head once: reading the head
  * manifest walks its delta chain (L manifests, its depth + 1), and a
  * commit adds at most two more reads — its upkeep runs on the manifest it
  * just published instead of resolving the head again.
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
    // the head's chain length, read from local disk past the counter
    def chain(): Long = {
      val head = new String(Files.readAllBytes(Paths.get(s"$local/t/_graft_latest")),
        "UTF-8").trim
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Paths.get(s"$local/t/_graft_versions/v=$head.json").toFile)
        .get("depth").asLong + 1
    }
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
}
