package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark: seeded inputs are reproducible, each
  * workload's check fails on a corrupted result, and the percentile helper
  * picks the right rank. Run with `sbt test` in this directory. */
class SelfSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC").getOrCreate()
  private lazy val tmp: Path = Files.createTempDirectory("perfbench-selfspec")

  override def afterAll(): Unit = {
    spark.stop()
    val s = Files.walk(tmp)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }

  private def ctx(seed: Long) = new Ctx(spark, new Trace(spark, enabled = false), seed)

  test("the same seed gives byte-identical inputs; another seed does not") {
    def gen(tag: String, seed: Long): Long = {
      val d = Files.createDirectories(tmp.resolve(tag))
      Gen.relational(spark, d.toString, seed, 0.001)
      Gen.corpus(spark, d.toString, seed, 500L)
      Gen.digest(d)
    }
    assert(gen("a", 7) == gen("b", 7))
    assert(gen("a", 7) != gen("c", 8))
    val files = Seq("x", "y").map { t =>
      val d = Files.createDirectories(tmp.resolve(s"landing-$t"))
      (0 until 5).foreach(i => Gen.land(d, s"f$i.json", Gen.landingFile(7, i, 50, 40, 0L)))
      Gen.digest(d)
    }
    assert(files(0) == files(1))
  }

  test("percentile helper: nearest-rank p90 at sample-count boundaries") {
    def xs(n: Int) = (1 to n).map(_.toDouble).reverse
    assert(Stats.median(xs(1)) == 1.0)
    assert(Stats.median(xs(10)) == 5.5)
    assert(Stats.median(xs(11)) == 6.0)
    // p90 needs 10 samples above it: exactly at n = 100 and beyond
    assert(Stats.tail(xs(100)) == ((90.0, 0.9)))
    assert(Stats.tail(xs(101)) == ((91.0, 91.0 / 101)))
    assert(Stats.tail(xs(110)) == ((99.0, 0.9)))
    // fewer: the highest rank with 10 samples above it
    assert(Stats.tail(xs(99)) == ((89.0, 89.0 / 99)))
    assert(Stats.tail(xs(30)) == ((20.0, 20.0 / 30)))
    assert(Stats.tail(xs(22)) == ((12.0, 12.0 / 22)))
    // never below the median
    assert(Stats.tail(xs(21)) == ((11.0, 0.5)))
    assert(Stats.tail(xs(20)) == ((10.5, 0.5)))
    assert(Stats.tail(xs(14)) == ((7.5, 0.5)))
    assert(Stats.tail(xs(1)) == ((1.0, 0.5)))
  }

  test("iot_ingest check: gold must hold exactly a prefix of the admitted files") {
    val f0 = Map(("loc000", "motion") -> (2L, 8L))
    val f1 = Map(("loc000", "motion") -> (1L, 4L), ("loc001", "humidity") -> (3L, -2L))
    val files = Seq(f0, f1)
    assert(IotIngest.coveredPrefix(files, f0) == Right(1))
    val both = Map(("loc000", "motion") -> (3L, 12L), ("loc001", "humidity") -> (3L, -2L))
    assert(IotIngest.coveredPrefix(files, both) == Right(2))
    // one value off, one event lost, one event duplicated
    assert(IotIngest.coveredPrefix(files, both.updated(("loc001", "humidity"), (3L, -1L))).isLeft)
    assert(IotIngest.coveredPrefix(files, both.updated(("loc001", "humidity"), (2L, -2L))).isLeft)
    assert(IotIngest.coveredPrefix(files, both.updated(("loc000", "motion"), (4L, 12L))).isLeft)
  }

  test("lake_mixed check: a commit behind the model's back fails the next check") {
    val c = ctx(3)
    val wl = new LakeMixed(c)
    val d = Files.createDirectories(tmp.resolve("lake"))
    wl.generate(d)
    wl.prepare(d)
    wl.step()
    assert(c.errors.isEmpty, c.errors.mkString("; "))
    // corrupt the table: rows the model never saw
    val table = tmp.resolve("lake").resolve("events_lake").toString
    graft.sources.Lake.appendVersioned(spark,
      graft.sources.Lake.readVersioned(spark, table).limit(3), table)
    wl.step()
    assert(c.errors.exists(_.startsWith("lake")), "the snapshot read after the stray commit must fail")
  }

  test("gold_analytics check: a row whose result changes between runs fails") {
    val c = ctx(5)
    val wl = new GoldAnalytics(c)
    val d = Files.createDirectories(tmp.resolve("gold").resolve("tables"))
    wl.generate(d)
    wl.prepare(d)
    (1 to Workloads.GoldRows.size + Workloads.ExtRows.size).foreach(_ => wl.step())
    assert(c.errors.isEmpty, c.errors.mkString("; "))
    // corrupt an input every row reads: the next cycle's results change
    Gen.relational(spark, d.toString, 6, 0.001)
    Gen.corpus(spark, d.toString, 6, 500L)
    (1 to Workloads.GoldRows.size + Workloads.ExtRows.size).foreach(_ => wl.step())
    assert(c.errors.nonEmpty)
  }
}
