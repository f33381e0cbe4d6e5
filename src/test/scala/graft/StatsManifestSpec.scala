package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{Lake, StatsManifest}

/** The driver-side `_graft_stats` reader: the schema and rows it gives
  * equal `spark.read.json` over the same manifest (Spark is the reference
  * here only), and the skipping read and stats upkeep it serves stop
  * starting Spark jobs for metadata.
  */
class StatsManifestSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-stats").toString

  private def fsOf(dir: String) = new Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Rows as sorted strings that carry each value's class, so a bigint
    * read as an int, or a double as a decimal, does not compare equal.
    */
  private def show(rows: Seq[Row]): Seq[String] =
    rows.map(_.toSeq.map {
      case null => "null"
      case v => s"${v.getClass.getSimpleName}:$v"
    }.mkString("|")).sorted

  private def assertSameAsSpark(d: Path): StatsManifest = {
    val m = StatsManifest.read(fsOf(d.toString), d)
    val ref = spark.read.json(d.toString)
    assert(m.schema == ref.schema,
      s"reader ${m.schema.toDDL} vs spark ${ref.schema.toDDL}")
    val want = show(ref.collect().toSeq)
    assert(show(m.rows) == want)
    assert(show(m.frame(spark).collect().toSeq) == want)
    m
  }

  test("the reader equals spark.read.json on a typed, appended stats manifest") {
    val dir = tmp() + "/t"
    def batch(lo: Long, n: Long) = spark.range(lo, lo + n).select(
      col("id").cast("int").as("i"),
      (col("id") * 3000000000L).as("l"),
      (col("id") / 3.0).as("d"),
      format_string("k%04d", col("id")).as("s"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("dt"),
      timestamp_seconds(col("id") * 3601).as("ts"),
      (col("id") / 8).cast("decimal(12,3)").as("dec"),
      (col("id") % 2 === 0).as("b"),
      // NULL bounds in every file past id 40, all-NULL everywhere
      when(col("id") < 40, col("id")).as("sparse"),
      lit(null).cast("int").as("none"))
    val cols = Seq("i", "l", "d", "s", "dt", "ts", "dec", "b", "sparse", "none")
    batch(0, 60).repartitionByRange(3, col("i")).write.parquet(dir)
    assert(Lake.writeStats(spark, dir, cols) == 3)
    // the all-NULL `none` is tracked, so an append naming it covers just
    // the fresh file (a manifest without its bounds would rebuild: 4)
    for (b <- 0 until 2) {
      batch(60 + b * 10, 10).coalesce(1).write.mode("append").parquet(dir)
      assert(Lake.appendStats(spark, dir, cols) == 1)
    }
    val d = StatsManifest.dir(dir)
    assert(StatsManifest.files(fsOf(dir), d).count(_.getName.startsWith("append-")) == 2)
    val m = assertSameAsSpark(d)
    assert(m.rows.size == 5)
    // the types Spark's inference gives these columns' bounds
    Seq("min_i" -> LongType, "max_l" -> LongType, "min_d" -> DoubleType,
      "min_s" -> StringType, "min_dt" -> StringType, "max_ts" -> StringType,
      "min_dec" -> DoubleType, "max_b" -> BooleanType, "min_sparse" -> LongType,
      "n_rows" -> LongType).foreach { case (f, t) =>
      assert(m.schema(f).dataType == t, s"$f: ${m.schema(f).dataType}")
    }
    // an all-NULL column's bounds are written as NULL in every row, so
    // the manifest still records the column as tracked
    assert(Seq("min_none", "max_none").forall(f =>
      m.rows.forall(_.isNullAt(m.schema.fieldIndex(f)))))
    assert(m.rows.count(r => r.isNullAt(m.schema.fieldIndex("min_sparse"))) == 3)
    assert(m.tracked.toSet == cols.toSet)
  }

  test("footer stats equal the per-file aggregate, and an append through them equals a rebuild") {
    // a space in the path: `file` must spell it as input_file_name does
    val dir = tmp() + "/t dir"
    def batch(lo: Long, n: Long) = spark.range(lo, lo + n).select(
      col("id").as("l"),
      (col("id") * -7).cast("int").as("i"),
      col("id").cast("short").as("sh"),
      (col("id") % 100).cast("byte").as("by"),
      // whole row groups of NULLs at both ends, all-NULL everywhere
      when(col("id").between(500, 2500), col("id")).as("sparse"),
      lit(null).cast("long").as("none"),
      (col("id") / 2.0).as("d"),
      format_string("k%04d", col("id")).as("s"),
      date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("dt"))
    // small row groups, so a file's bounds fold several groups' statistics
    batch(0, 3000).repartitionByRange(3, col("l")).sortWithinPartitions("l")
      .write.option("parquet.block.size", 4096).parquet(dir)
    val fs = fsOf(dir)
    val files = spark.read.parquet(dir).inputFiles.toSeq.map(f => new java.net.URI(f).getPath)
    assert(files.exists { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f),
          spark.sparkContext.hadoopConfiguration))
      try r.getRowGroups.size > 1 finally r.close()
    }, "every file has a single row group")
    val cols = Seq("l", "i", "sh", "by", "sparse", "none")
    def aggregate(cs: Seq[String]): Seq[String] = {
      val aggs = cs.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
        count(lit(1)).as("n_rows")
      val agg = spark.read.parquet(dir).groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
      // rendered as the manifest writers render it: NULL bounds written
      agg.select(to_json(struct(agg.columns.map(col).toIndexedSeq: _*),
          Map("ignoreNullFields" -> "false")))
        .collect().map(_.getString(0)).toSeq.sorted
    }
    assert(StatsManifest.fromFooters(fs, files, cols).map(_.sorted).contains(aggregate(cols)))
    // bounds parquet orders otherwise, or a column a file lacks: the
    // caller aggregates
    Seq("d", "s", "dt", "absent").foreach(c =>
      assert(StatsManifest.fromFooters(fs, files, Seq("l", c)).isEmpty, c))
    // appendStats lands the footer rows as one more manifest file; the
    // manifest then equals a full rebuild's
    Lake.writeStats(spark, dir, cols)
    batch(3000, 500).coalesce(1).write.mode("append").parquet(dir)
    // the all-NULL `none` included: a manifest that did not track it
    // would rebuild (4, and a corpus scan)
    val n = jobsOf(assert(Lake.appendStats(spark, dir, cols) == 1))
    assert(n <= 1, s"appendStats started $n jobs")
    val d = StatsManifest.dir(dir)
    assert(StatsManifest.files(fs, d).count(_.getName.startsWith("append-")) == 1)
    val appended = assertSameAsSpark(d)
    Lake.writeStats(spark, dir, cols)
    val rebuilt = StatsManifest.read(fs, d)
    assert(appended.schema == rebuilt.schema && show(appended.rows) == show(rebuilt.rows))
  }

  test("hand-written lines follow Spark's inference: mixed, exact text, wide integers, null-only") {
    val d = new Path(tmp(), "_graft_stats")
    Files.createDirectories(Paths.get(d.toString))
    def put(name: String, lines: String*): Unit =
      Files.write(Paths.get(d.toString, name), lines.mkString("\n").getBytes("UTF-8"))
    put("part-00000.json",
      """{"a":1,"b":"x","c":1.50,"d":true,"e":null,"f":12345678901234567890,"g":1.0E10}""",
      """{"a":2.5,"b":3,"c":"y","d":1,"e":null,"f":5,"g":2,"w":100000000000000000000}""",
      "",
      """{"a":-0.0,"b":true,"c":-12.000,"d":false,"z_":1,"w":7}""")
    put("append-1-0.json",
      """{"k":"v\"qé","x":1,"n":-9223372036854775808}""",
      """{"x":2,"f":-1.5}""")
    // hidden names are not manifest files: Spark's listing skips them too
    put("_SUCCESS")
    put(".part-00000.json.crc", "not json")
    val m = assertSameAsSpark(d)
    assert(m.schema.fieldNames.toSeq == m.schema.fieldNames.sorted.toSeq)
    assert(m.schema("c").dataType == StringType && m.schema("e").dataType == StringType)
    assert(m.schema("w").dataType == DecimalType(21, 0))
    assert(m.rows.size == 5)
  }

  test("a malformed manifest line fails loudly") {
    Seq("""{"file":"f","min_id":1""", "5", """{"file":{"p":1}}""",
        """{"file":"f","file":"g"}""", """{"file":"f"} {"file":"g"}""")
      .foreach { line =>
        val e = intercept[IllegalStateException](
          StatsManifest.parse(Seq("""{"file":"ok"}""", line), "spec"))
        assert(e.getMessage.contains("malformed stats manifest line"), e.getMessage)
      }
    // and through the public skipping read of a table whose manifest broke
    val dir = tmp() + "/t"
    Lake.writeVersioned(spark, spark.range(100).toDF("id"), dir)
    Lake.writeStats(spark, dir, Seq("id"))
    Files.write(Paths.get(dir, "_graft_stats", "append-9-0.json"),
      """{"file":"x","min_id":""".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](
      Lake.readSkipping(spark, dir, Lake.skipRange("id", lit(1), lit(2))))
    assert(e.getMessage.contains("malformed stats manifest line under") &&
      e.getMessage.contains("_graft_stats"), e.getMessage)
  }

  test("skipping reads and stats upkeep stay within their job budgets") {
    val dir = tmp() + "/t"
    Lake.writeVersioned(spark,
      spark.range(0, 1000).repartitionByRange(4, col("id")).toDF("id"), dir)
    Lake.writeStats(spark, dir, Seq("id"))
    val keep = Lake.skipRange("id", lit(100L), lit(150L))
    // building the skipping frame is pure metadata: the parent started 5
    // jobs here (the manifest's schema inference, the file collect, the
    // kept-file distinct collect, and the subset read's footer inference)
    val nRead = jobsOf(Lake.readSkipping(spark, dir, keep))
    assert(nRead == 0, s"building a readSkipping frame started $nRead jobs")
    val skipped = Lake.readSkipping(spark, dir, keep)
    assert(skipped.inputFiles.length == 1)
    assert(skipped.filter(col("id").between(100L, 150L)).count() == 51)
    // an append plus the caller's appendStats on a stats-tracked table:
    // the parent started 9 (manifest inferences and file collects in the
    // keep-alive and in the caller's appendStats, the fresh files' footer
    // inference, their stats aggregate and its JSON write); the append's
    // write is left, as the fresh files' bounds come from their footers
    val nCommit = jobsOf {
      Lake.appendVersioned(spark, spark.range(1000, 1100).toDF("id"), dir)
      Lake.appendStats(spark, dir, Seq("id"))
    }
    assert(nCommit <= 1, s"append + appendStats started $nCommit jobs")
    // the manifest's other readers and its fold are job-free: the parent
    // started 19 here
    val nMeta = jobsOf {
      assert(Lake.rowCountFromManifest(spark, dir).contains(1100L))
      assert(Lake.compactStats(spark, dir) == ((2L, 1L)))
      val all = Lake.readSkipping(spark, dir, lit(true)).inputFiles.toSeq
        .map(f => new java.net.URI(f).getPath)
      val kept = Lake.pruneCandidatesWithStats(spark, StatsManifest.dir(dir),
        Lake.skipRange("id", lit(1050L), lit(1060L)), all)
      assert(kept.nonEmpty && kept.size < all.size, s"${kept.size}/${all.size}")
    }
    assert(nMeta == 0, s"manifest upkeep and pruning started $nMeta jobs")
    assert(Lake.readSkipping(spark, dir, keep).filter(col("id").between(100L, 150L))
      .count() == 51)
  }

  test("skipping reads and stats pruning with fresh literals compile no class") {
    val dir = tmp() + "/t"
    Lake.writeVersioned(spark,
      spark.range(0, 1000).repartitionByRange(4, col("id")).toDF("id"), dir)
    Lake.writeStats(spark, dir, Seq("id"))
    def compiled = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    // literals no earlier run of this JVM has compiled a predicate for:
    // the optimizer's local fold would generate a class for each range
    val base = 1000000L + System.nanoTime() % 1000000L
    val before = compiled
    Lake.readSkipping(spark, dir, Lake.skipRange("id", lit(base), lit(base + 1)))
    Lake.readSkipping(spark, dir, Lake.skipRange("id", lit(base + 7), lit(base + 9)))
    val all = Lake.readVersioned(spark, dir).inputFiles.toSeq
      .map(f => new java.net.URI(f).getPath)
    val kept = Lake.pruneCandidatesWithStats(spark, StatsManifest.dir(dir),
      Lake.skipRange("id", lit(base + 11), lit(base + 12)), all)
    assert(compiled == before, s"${compiled - before} classes compiled")
    assert(all.size == 4 && kept.isEmpty, s"${kept.size}/${all.size}")
    assert(Lake.readSkipping(spark, dir, Lake.skipRange("id", lit(base), lit(base)))
      .inputFiles.isEmpty)
  }

  test("bloom upkeep and point lookups stay within their job budgets") {
    import spark.implicits._
    val dir = tmp() + "/t"
    def rows(r: Range) = r.map(i => (f"$i%06d", i.toLong)).toDF("k", "v")
    Lake.writeVersioned(spark, rows(1 to 2000).repartitionByRange(8, col("k")), dir)
    Lake.writeStats(spark, dir, Seq("k"))
    Lake.writeBloomIndex(spark, dir, "k", expectedPerFile = 500L)
    // two commits: the keep-alive hook adds two bloom manifest files
    for (b <- 0 until 2)
      Lake.appendVersioned(spark, rows(2001 + b * 10 to 2010 + b * 10).coalesce(1), dir)
    // with nothing to sketch this is pure metadata (a spark.read.json
    // index started an inference job and a file collect here)
    val nAppend = jobsOf(assert(Lake.appendBloomIndex(spark, dir, "k") == 0L))
    assert(nAppend == 0, s"appendBloomIndex with nothing fresh started $nAppend jobs")
    val probes = Seq(f"${42}%06d", f"${2005}%06d").toDF("k")
    val nFiles = jobsOf {
      val (kept, total) = Lake.lookupFiles(spark, dir, probes)
      assert(total == 10 && kept.size == 2, s"kept ${kept.size} of $total")
    }
    assert(nFiles == 0, s"lookupFiles over local probes started $nFiles jobs")
    val nRead = jobsOf(Lake.readLookup(spark, dir, probes))
    assert(nRead == 0, s"building a readLookup frame started $nRead jobs")
    val nCompact = jobsOf(assert(Lake.compactBloomIndex(spark, dir, "k") == ((3L, 1L))))
    assert(nCompact == 0, s"compactBloomIndex started $nCompact jobs")
    assert(Lake.readLookup(spark, dir, probes)
      .filter(col("k").isin(f"${42}%06d", f"${2005}%06d")).count() == 2)
  }

  test("plain-dir skipping and lookup frames take the schema from a footer") {
    import spark.implicits._
    val dir = tmp() + "/t"
    def rows(r: Range) = r.map(i => (f"$i%06d", i.toLong)).toDF("k", "v")
    rows(1 to 400).repartitionByRange(4, col("k")).write.parquet(dir)
    Lake.writeStats(spark, dir, Seq("k"))
    val probes = Seq(f"${42}%06d").toDF("k")
    val keep = Lake.skipRange("k", lit("000010"), lit("000020"))
    // the parent inferred the subset's schema with a job each
    val nLookup = jobsOf(Lake.readLookup(spark, dir, probes))
    assert(nLookup == 0, s"building a plain-dir readLookup frame started $nLookup jobs")
    val nSkip = jobsOf(Lake.readSkipping(spark, dir, keep))
    assert(nSkip == 0, s"building a plain-dir readSkipping frame started $nSkip jobs")
    assert(Lake.readLookup(spark, dir, probes)
      .filter(col("k") === f"${42}%06d").count() == 1L)
    assert(Lake.readSkipping(spark, dir, keep)
      .filter(col("k").between("000010", "000020")).count() == 11L)
    // a hive-partitioned dir keeps its partition column, typed as the
    // unpruned read types it
    val parted = tmp() + "/p"
    rows(1 to 400).withColumn("p", col("v") % 3).write.partitionBy("p")
      .parquet(parted)
    Lake.writeStats(spark, parted, Seq("k"))
    val full = spark.read.parquet(parted)
    val skipped = Lake.readSkipping(spark, parted, lit(true))
    assert(skipped.schema == full.schema,
      s"${skipped.schema.toDDL} vs ${full.schema.toDDL}")
    assert(show(skipped.collect().toSeq) == show(full.collect().toSeq))
  }
}
