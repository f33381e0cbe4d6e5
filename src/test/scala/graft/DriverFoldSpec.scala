package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.Lake

/** The gold fold's two paths: a view of at most `maxBroadcastKeys` rows,
  * in files within Spark's broadcast threshold, folds on the driver, a
  * larger one through Spark. Both must publish the same views and
  * versions as each other and as a full recompute.
  */
class DriverFoldSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft-dfold").toString

  private val sumCols = Seq("a", "b", "c")

  /** Source rows `(id, k)` with key columns k (long) and g (string), and
    * long, double and decimal(12,3) sum columns; `nullSums` leaves all
    * three NULL. Doubles are multiples of 0.25, so every sum is exact in
    * any order.
    */
  private def src(rows: Seq[(Long, Long)], nullSums: Boolean = false): DataFrame =
    rows.toDF("id", "k").select(col("id"), col("k"),
      when(col("k") < 4L || col("k") === 13L, lit("lo")).otherwise(lit("hi")).as("g"),
      (if (nullSums) lit(null).cast("long") else col("id") * 10).as("a"),
      (if (nullSums) lit(null).cast("double") else col("id") * 0.25).as("b"),
      (if (nullSums) lit(null).cast("decimal(12,3)")
       else (col("id") / 8).cast("decimal(12,3)")).as("c"))

  /** Appends, a delete, a merge moving rows between keys, a key
    * retracting to zero and an all-NULL sum window; `fold` runs after
    * every commit but the first. A file of 12 keys no later commit
    * touches makes the view hold 20 rows at the first fold and 23–24
    * after it, while every later delta touches at most 10 keys.
    */
  private def history(path: String)(fold: Int => Unit): Unit = {
    Lake.writeVersioned(spark,
      src((1L to 40L).map(i => (i, i % 8))).repartition(3), path)
    Lake.appendVersioned(spark,
      src((101L to 112L).map(i => (i, i - 1))).coalesce(1), path)
    fold(0)
    Lake.appendVersioned(spark, src((41L to 44L).map(i => (i, i % 8))), path)
    Lake.appendVersioned(spark,
      src(Seq((45L, 10L), (46L, 11L), (47L, 12L))).coalesce(1), path)
    fold(1)
    Lake.deleteWhere(spark, path, col("id") <= 6L)
    fold(2)
    Lake.mergeInto(spark, path,
      src(Seq((10L, 1L), (11L, 3L), (60L, 13L))), Seq("id"))
    fold(3)
    Lake.deleteWhere(spark, path, col("k") === 12L)
    fold(4)
    Lake.appendVersioned(spark, src(Seq((70L, 4L), (71L, 4L)), nullSums = true), path)
    fold(5)
  }

  private def viewOf(path: String): (String, Seq[Row]) = {
    val df = Lake.readVersioned(spark, path)
    (df.schema.toDDL, df.orderBy("k", "g").collect().toSeq)
  }

  test("driver, distributed and full folds publish the same views and versions") {
    val root = tmp()
    val source = s"$root/src"
    // view bound per run: the default (driver), 12 (the view always holds
    // more rows, no delta more keys: distributed) and 21 (driver while
    // the view holds 20 rows, distributed once it holds 23)
    val runs = Seq("driver" -> 1000000L, "distributed" -> 12L, "crossing" -> 21L)
    val jobs = scala.collection.mutable.Map.empty[String, Seq[Long]]
      .withDefaultValue(Seq.empty)
    history(source) { fold =>
      for ((name, bound) <- runs) {
        val n = jobsOf(Lake.refreshIncrementalBounded(spark, source,
          s"$root/$name", Seq("k", "g"), sumCols, "n", forceFull = false,
          maxBroadcastKeys = bound))
        jobs(name) = jobs(name) :+ n
      }
      Lake.refreshIncremental(spark, source, s"$root/full",
        keys = Seq("k", "g"), sumCols = sumCols, countCol = "n",
        forceFull = true)
      val want = viewOf(s"$root/full")
      for ((name, _) <- runs) {
        assert(viewOf(s"$root/$name") == want, s"$name after fold $fold")
        assert(Lake.listVersions(spark, s"$root/$name") ==
          Lake.listVersions(spark, s"$root/driver"), s"$name after fold $fold")
      }
    }
    val last = viewOf(s"$root/driver")._2
    assert(!last.exists(_.getLong(0) == 12L), "a key retracted to zero stayed")
    assert(last.exists(_.getLong(0) == 13L), "a key new to the view never landed")
    val k4 = last.find(_.getLong(0) == 4L).get
    assert(k4.getLong(2) == 7L && !k4.isNullAt(3),
      s"the all-NULL window rebased key 4's sums: $k4")
    // the first fold of every run writes the view whole; after it, the
    // driver path starts the delta collect and the rewrite, and the
    // distributed path scans and collects the merged rows on top
    val steady = jobs.view.mapValues(_.tail).toMap
    assert(steady("driver").forall(_ <= 2L), s"jobs per fold: $jobs")
    assert(steady("distributed").forall(_ > 2L), s"jobs per fold: $jobs")
    assert(steady("crossing").head <= 2L && steady("crossing").tail.forall(_ > 2L),
      s"jobs per fold: $jobs")
  }

  test("driver-matched keys of every exact type fold like Spark; a float key folds in Spark") {
    val root = tmp()
    val source = s"$root/src"
    def rows(ids: Seq[Long]): DataFrame = ids.toDF("id").select(col("id"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 3).cast("int")).as("d"),
      timestamp_seconds((col("id") % 2) * 3600).as("ts"),
      ((col("id") % 4) / 4).cast("decimal(10,2)").as("dec"),
      (col("id") % 2).cast("int").as("i"),
      (col("id") % 3 === 0L).as("flag"),
      ((col("id") % 2) * 0.5).as("x"),
      col("id").as("v"))
    val exact = Seq("d", "ts", "dec", "i", "flag")
    def fold(view: String, keys: Seq[String], bound: Long): Long =
      jobsOf(Lake.refreshIncrementalBounded(spark, source, view, keys,
        Seq("v"), "n", forceFull = false, maxBroadcastKeys = bound))
    def rowsOf(view: String, keys: Seq[String]): Seq[Row] =
      Lake.readVersioned(spark, view).orderBy(keys.map(col): _*).collect().toSeq
    Lake.writeVersioned(spark, rows(1L to 30L), source)
    for ((v, ks) <- Seq("exact" -> exact, "float" -> Seq("x")))
      fold(s"$root/$v", ks, 1000000L)
    Lake.appendVersioned(spark, rows(31L to 36L), source)
    Lake.deleteWhere(spark, source, col("id") % 5 === 0L)
    assert(fold(s"$root/exact", exact, 1000000L) <= 2L)
    assert(fold(s"$root/float", Seq("x"), 1000000L) > 2L,
      "a double key must fold through Spark")
    Lake.refreshIncremental(spark, source, s"$root/full", keys = exact,
      sumCols = Seq("v"), countCol = "n", forceFull = true)
    assert(rowsOf(s"$root/exact", exact) == rowsOf(s"$root/full", exact))
    val direct = Lake.readVersioned(spark, source).groupBy("x")
      .agg(count(lit(1)).as("n"), sum("v").as("v")).orderBy("x").collect().toSeq
    assert(rowsOf(s"$root/float", Seq("x")) == direct)
  }

  test("a view past the broadcast threshold folds in Spark; a feed past the open cost keeps its exchange") {
    val root = tmp()
    val source = s"$root/src"
    val views = Seq("driver", "pastThreshold", "pastOpenCost")
    def fold(view: String): Long = jobsOf(Lake.refreshIncremental(spark,
      source, s"$root/$view", Seq("k", "g"), sumCols, "n"))
    def withConf(k: String, v: String)(body: => Long): Long = {
      val saved = spark.conf.getOption(k)
      spark.conf.set(k, v)
      try body finally saved.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    Lake.writeVersioned(spark, src((1L to 40L).map(i => (i, i % 8))), source)
    views.foreach(fold)
    Lake.appendVersioned(spark, src((41L to 44L).map(i => (i, i % 8))), source)
    Lake.deleteWhere(spark, source, col("id") <= 3L)
    val jobs = Seq(fold("driver"),
      withConf("spark.sql.autoBroadcastJoinThreshold", "1")(fold("pastThreshold")),
      withConf("spark.sql.files.openCostInBytes", "1")(fold("pastOpenCost")))
    // the driver fold: delta collect + rewrite; a view whose files exceed
    // the threshold adds the Spark scan of the merged rows; a feed above
    // the open cost adds its aggregate's map stage
    assert(jobs(0) <= 2L && jobs(1) > 2L && jobs(2) == jobs(0) + 1, s"jobs: $jobs")
    Lake.refreshIncremental(spark, source, s"$root/full", keys = Seq("k", "g"),
      sumCols = sumCols, countCol = "n", forceFull = true)
    val want = viewOf(s"$root/full")
    views.foreach(v => assert(viewOf(s"$root/$v") == want, v))
  }

  test("a duplicate view key refuses a touching fold on both paths, publishing nothing") {
    for (bound <- Seq(1000000L, 2L)) {
      val root = tmp()
      val (source, view) = (s"$root/src", s"$root/view")
      Lake.writeVersioned(spark, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), source)
      // a hand-built view, stamped with the source head, holding key 1
      // twice: 3 rows, above the bound of 2
      Lake.writeVersioned(spark,
        Seq((1L, 1L, 10L), (1L, 0L, 0L), (2L, 1L, 20L)).toDF("k", "n", "v"),
        view, streamBatchId = Some(1L))
      def refresh(): Unit = Lake.refreshIncrementalBounded(spark, source,
        view, Seq("k"), Seq("v"), "n", forceFull = false,
        maxBroadcastKeys = bound)
      Lake.appendVersioned(spark, Seq((2L, 5L)).toDF("k", "v"), source)
      refresh() // touches only the unique key: lands
      val rows = Lake.readVersioned(spark, view).orderBy("k", "n").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows == Seq((1L, 0L, 0L), (1L, 1L, 10L), (2L, 2L, 25L)), s"bound $bound")
      Lake.appendVersioned(spark, Seq((1L, 5L)).toDF("k", "v"), source)
      val before = Lake.listVersions(spark, view)
      val e = intercept[IllegalArgumentException](refresh())
      assert(e.getMessage == "requirement failed: " +
        "mergeInto source is not unique on (k)", s"bound $bound: ${e.getMessage}")
      assert(Lake.listVersions(spark, view) == before, s"bound $bound")
    }
  }
}
