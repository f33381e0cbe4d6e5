package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.sources.Lake

/** The version manifests are the only record of a table's versions: a
  * `v=N` data dir is never a version by itself, and an unversioned dir
  * holding data files is a plain table whose files every committing
  * operation adopts the same way.
  */
class LakeShapeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-shape").toString

  private def ids(lo: Long, hi: Long) = spark.range(lo, hi).toDF("id")

  /** (relative path, size, mtime) of every file under `dir`. */
  private def listing(dir: String): Set[(String, Long, Long)] = {
    val root = Paths.get(dir)
    val files = Files.walk(root)
    try files.iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => (root.relativize(p).toString, Files.size(p),
        Files.getLastModifiedTime(p).toMillis)).toSet
    finally files.close()
  }

  test("a crashed first commit's claimed dir is no version; vacuum reclaims it") {
    val dir = tmp() + "/t"
    // what a first writeVersioned leaves when it dies after writing its
    // claimed dir: the claim marker and the data, no manifest
    Files.createDirectories(Paths.get(s"$dir/v=1"))
    Files.createFile(Paths.get(s"$dir/v=1/._graft_claim"))
    ids(0, 5).write.mode("append").parquet(s"$dir/v=1")
    assert(Lake.listVersions(spark, dir).isEmpty)
    val e = intercept[IllegalArgumentException](Lake.readVersioned(spark, dir))
    assert(e.getMessage.contains("no versions under"), e.getMessage)
    val v = Lake.appendVersioned(spark, ids(100, 102), dir)
    assert(Lake.listVersions(spark, dir) == Seq(v))
    assert(Lake.readVersioned(spark, dir).as[Long].collect().sorted.toSeq ==
      Seq(100L, 101L))
    // once a manifest exists, the orphan is an unreferenced dir past grace
    Lake.vacuum(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    assert(!Files.exists(Paths.get(s"$dir/v=1")), "orphan dir survived")
    assert(Lake.readVersioned(spark, dir).count() == 2L)
  }

  test("a plain table partitioned on a column named v is refused, untouched") {
    val dir = tmp() + "/t"
    ids(0, 9).select(col("id"), (col("id") % 3).as("v"))
      .write.partitionBy("v").parquet(dir)
    val before = listing(dir)
    val e = intercept[IllegalArgumentException](
      Lake.deleteWhere(spark, dir, col("id") === 2L))
    assert(e.getMessage.contains("hive-partitioned"), e.getMessage)
    assert(listing(dir) == before)
    assert(Lake.listVersions(spark, dir).isEmpty)
    assert(spark.read.parquet(dir).count() == 9L)
  }

  test("an append onto a plain parquet dir adopts its files, as deleteWhere does") {
    val dir = tmp() + "/t"
    ids(0, 5).write.parquet(dir)
    Lake.appendVersioned(spark, ids(5, 7), dir)
    assert(Lake.readVersioned(spark, dir).as[Long].collect().sorted.toSeq ==
      (0L until 7L))
    val other = tmp() + "/t"
    ids(0, 5).write.parquet(other)
    Lake.deleteWhere(spark, other, col("id") === 9L)
    Lake.appendVersioned(spark, ids(5, 7), other)
    assert(Lake.readVersioned(spark, other).as[Long].collect().sorted.toSeq ==
      (0L until 7L))
  }
}
