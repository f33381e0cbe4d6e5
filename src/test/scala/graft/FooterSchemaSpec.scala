package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.sources.Lake

/** `Tables` and the Lake's plain-dir reads take their schema from the one
  * footer Spark's inference would read, read on the driver: the frames
  * equal `spark.read.parquet` in schema and rows (Spark is the reference),
  * and building them, or naming a plain dir's schema, starts no Spark job.
  */
class FooterSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings", "events")

  private def tmp(): String =
    Files.createTempDirectory("graft-footer").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def assertSameAsSpark(got: DataFrame, path: String): Unit = {
    val ref = spark.read.parquet(path)
    assert(got.schema == ref.schema, s"${got.schema.toDDL} vs ${ref.schema.toDDL}")
    assert(rows(got) == rows(ref))
  }

  test("every testdata table reads as spark.read.parquet and builds with no job") {
    // the confs Tables.events sets apply to the footer conversion as well
    val events = Tables.events(spark, dir)
    tables.foreach { t =>
      assertSameAsSpark(Tables(spark, dir, t), s"$dir/$t.parquet")
      assert(jobsOf(Tables(spark, dir, t)) == 0L, s"building $t started a job")
    }
    assert(jobsOf(Tables.events(spark, dir)) == 0L)
    assert(rows(Tables.events(spark, dir)) == rows(events))
  }

  test("a Spark-written dir with _SUCCESS, .crc and partition dirs reads as Spark does") {
    val d = tmp() + "/t"
    spark.range(0, 40).select(col("id"), (col("id") % 3).as("p"),
        col("id").cast("string").as("s"))
      .repartition(2).write.partitionBy("p").parquet(d)
    val names = Files.walk(Paths.get(d)).toArray.map(_.toString)
    assert(names.exists(_.endsWith("_SUCCESS")) && names.exists(_.endsWith(".crc")))
    assertSameAsSpark(Lake.readParquet(spark, d), d)
    assert(jobsOf(Lake.readParquet(spark, d)) == 0L)
  }

  test("files with different column sets settle on the schema Spark picks") {
    val d = Files.createDirectories(Paths.get(tmp(), "t"))
    // written in reverse name order, so listing order alone cannot pass
    Seq("b" -> Seq((1L, "x")).toDF("id", "b"), "a" -> Seq((2L, 3.5)).toDF("id", "a"))
      .foreach { case (name, df) =>
        val out = tmp() + "/out"
        df.coalesce(1).write.parquet(out)
        val part = Files.list(Paths.get(out)).toArray.map(_.asInstanceOf[java.nio.file.Path])
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.move(part, d.resolve(s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      }
    val got = Lake.readParquet(spark, d.toString)
    assert(got.columns.toSeq == Seq("id", "a"))
    assertSameAsSpark(got, d.toString)
  }

  test("a missing or empty path still fails") {
    intercept[Exception](Tables(spark, tmp(), "absent"))
    intercept[Exception](Lake.readParquet(spark, tmp()))
  }

  private def plainDir(): String = {
    val d = tmp() + "/t"
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1).write.parquet(d)
    d
  }

  test("a merge's schema gate names a plain dir's schema with no job") {
    val d = plainDir()
    val n = jobsOf(intercept[IllegalArgumentException](
      Lake.mergeInto(spark, d, Seq((1L, 2L)).toDF("k", "v"), Seq("k"))))
    assert(n == 0L, s"the refused merge started $n jobs")
  }

  test("versioning a plain dir in place names its schema with no job") {
    val d = plainDir()
    // a metadata-only commit on a plain dir versions it first
    val n = jobsOf(Lake.renameColumns(spark, d, Map("v" -> "w")))
    assert(n == 0L, s"bootstrap + rename started $n jobs")
    assert(Lake.readVersioned(spark, d).columns.toSeq == Seq("k", "w"))
  }

  test("a streamed dir's first adoption names its schema with no job") {
    val d = plainDir()
    val n = jobsOf(assert(Lake.commitStreamVersion(spark, d).contains(1L)))
    assert(n == 0L, s"the first stream adoption started $n jobs")
    assert(Lake.readVersioned(spark, d).count() == 2L)
  }
}
