package graft

import java.nio.file.Files

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.sources.Lake

/** Lake reads that take their schema from the version manifest instead of
  * parquet footers, and the one-scan gold fold shared by
  * `refreshIncremental` and `foldFeedBatchIntoAggView`.
  */
class ManifestFoldSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-fold").toString

  test("manifest-schema reads equal footer inference and build with zero jobs") {
    val dir = tmp() + "/t"
    val df = spark.range(6).select(
      col("id"),
      struct(col("id").cast("int").as("a"), col("id").cast("string").as("b"))
        .as("s"),
      array(col("id").cast("double"), lit(0.5)).as("arr"),
      map(col("id").cast("string"), col("id") * 10).as("m"),
      (col("id") / 8).cast("decimal(12,3)").as("d"),
      timestamp_seconds(col("id") * 3600).as("ts"),
      col("id").cast("string").cast("binary").as("bin"),
      (col("id") % 2).as("sensor-id"),
      when(col("id") > 2, col("id")).as("maybe"))
    Lake.writeVersioned(spark, df.repartition(2), dir)
    Lake.appendVersioned(spark, df.filter(col("id") < 3), dir)
    val dataDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v=")).map(_.toString)
    val inferred = spark.read.parquet(dataDirs.toIndexedSeq: _*).schema
    val read = Lake.readVersioned(spark, dir).schema
    assert(read == inferred,
      s"manifest schema ${read.treeString} vs footers ${inferred.treeString}")
    assert(read.fields.map(_.nullable).forall(identity))
    assert(Lake.readVersioned(spark, dir).count() == 9)
    val cutoff = System.currentTimeMillis()
    val n = jobsOf {
      Lake.readVersioned(spark, dir)
      Lake.readVersioned(spark, dir, Some(1L))
      Lake.readVersionedAsOf(spark, dir, cutoff)
    }
    assert(n == 0, s"building versioned frames started $n Spark jobs")
    // the rows come back intact under the manifest schema
    val want = df.union(df.filter(col("id") < 3)).orderBy("id").collect()
    val got = Lake.readVersioned(spark, dir).orderBy("id").collect()
    assert(got.toSeq == want.toSeq)
  }

  test("the change feed stays loud across a snapshot that adds a column") {
    val dir = tmp() + "/t"
    Lake.writeVersioned(spark, Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), dir)
    Lake.writeVersioned(spark,
      Seq((1L, 1.0, "a"), (3L, 3.0, "c")).toDF("id", "v", "tag"), dir)
    // v2's removed files are v1's: read with v1's schema they lack `tag`,
    // and the insert/delete union refuses instead of null-filling it
    for (from <- Seq(1L, 2L))
      intercept[AnalysisException](Lake.readChangeFeed(spark, dir, from, 2L))
    // a range inside one era still reads
    assert(Lake.readChangeFeed(spark, dir, 1L, 1L).count() == 2)
  }

  /** A source history touching every fold arm: appends, a delete, merge
    * updates that move rows between keys, a key retracting to zero and a
    * fold window whose sum column is all NULL. `fold` runs after each
    * commit.
    */
  private def mixedHistory(src: String)(fold: () => Unit): Unit = {
    def rows(ids: Range, k: Long => Long): Seq[(Long, Long, Option[Long])] =
      ids.map(i => (i.toLong, k(i.toLong), Some(i.toLong * 10)))
    Lake.writeVersioned(spark,
      rows(1 to 40, _ % 5).toDF("id", "k", "v").repartition(3), src)
    fold()
    Lake.appendVersioned(spark, rows(41 to 50, _ % 5).toDF("id", "k", "v"), src)
    Lake.appendVersioned(spark, rows(51 to 53, _ => 7L).toDF("id", "k", "v"), src)
    fold()
    Lake.deleteWhere(spark, src, col("id") <= 6L)
    fold()
    Lake.mergeInto(spark, src,
      Seq((10L, 1L, Option(999L)), (11L, 3L, Option(5L)), (60L, 8L, Option(1L)))
        .toDF("id", "k", "v"), Seq("id"))
    fold()
    Lake.deleteWhere(spark, src, col("k") === 2L)
    fold()
    Lake.appendVersioned(spark,
      Seq((70L, 4L, Option.empty[Long]), (71L, 4L, Option.empty[Long]))
        .toDF("id", "k", "v"), src)
    fold()
  }

  private def viewRows(view: String): Seq[(Long, Long, Option[Long])] =
    Lake.readVersioned(spark, view).orderBy("k").collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))

  test("refreshIncremental after a mixed history equals a full recompute") {
    val root = tmp()
    val (src, view, full) = (s"$root/src", s"$root/view", s"$root/full")
    var folds = 0
    mixedHistory(src) { () =>
      Lake.refreshIncremental(spark, src, view, keys = Seq("k"),
        sumCols = Seq("v"), countCol = "n")
      Lake.refreshIncremental(spark, src, full, keys = Seq("k"),
        sumCols = Seq("v"), countCol = "n", forceFull = true)
      assert(viewRows(view) == viewRows(full), s"after fold $folds")
      folds += 1
    }
    val last = viewRows(view)
    assert(!last.exists(_._1 == 2L), "a key retracted to zero stays in the view")
    assert(last.exists(_._1 == 8L), "a key new to the view never landed")
  }

  test("a delta above the fold bound gives the view a delta below it gives") {
    val root = tmp()
    val (src, below, above) = (s"$root/src", s"$root/below", s"$root/above")
    mixedHistory(src) { () =>
      Lake.refreshIncremental(spark, src, below, keys = Seq("k"),
        sumCols = Seq("v"), countCol = "n")
      Lake.refreshIncrementalBounded(spark, src, above, Seq("k"), Seq("v"),
        "n", forceFull = false, maxBroadcastKeys = 0L)
      assert(viewRows(above) == viewRows(below))
    }
    assert(Lake.listVersions(spark, above) == Lake.listVersions(spark, below))
  }

  test("a view carrying a duplicate key refuses the fold that touches it") {
    val root = tmp()
    val (src, view) = (s"$root/src", s"$root/view")
    Lake.writeVersioned(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), src)
    // a hand-built view, stamped with the source head, holding key 1 twice
    Lake.writeVersioned(spark,
      Seq((1L, 1L, 10L), (1L, 0L, 0L), (2L, 1L, 20L)).toDF("k", "n", "v"),
      view, streamBatchId = Some(1L))
    Lake.appendVersioned(spark, Seq((2L, 5L)).toDF("k", "v"), src)
    // a fold that touches only the unique key still lands
    Lake.refreshIncremental(spark, src, view, keys = Seq("k"),
      sumCols = Seq("v"), countCol = "n")
    assert(viewRows(view).filter(_._1 == 2L) == Seq((2L, 2L, Some(25L))))
    Lake.appendVersioned(spark, Seq((1L, 5L)).toDF("k", "v"), src)
    val before = Lake.listVersions(spark, view)
    val e = intercept[IllegalArgumentException](Lake.refreshIncremental(spark,
      src, view, keys = Seq("k"), sumCols = Seq("v"), countCol = "n"))
    assert(e.getMessage.contains("mergeInto source is not unique on (k)"),
      e.getMessage)
    assert(Lake.listVersions(spark, view) == before)
  }
}
