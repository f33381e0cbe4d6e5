package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A benchmark workload. `generate` writes the seeded inputs once;
  * `prepare` builds the fixtures over a fresh copy of them (it runs
  * several times and the median is part of set-up time); `warm` runs the
  * untimed first pass; `step` runs the next timed op(s) of the measured
  * phase, which ends at a time limit once `cycleDone`; `finish`, called
  * as the measured phase ends, completes what it left open; `check`
  * verifies the final state. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def generate(dir: Path): Unit = ()
  def prepare(dir: Path): Unit
  def warm(): Unit
  def step(): Unit
  def cycleDone: Boolean = true
  def finish(): Unit = ()
  def check(): Unit = ()
  /** The op latencies reported as `op_ms_*`. */
  def opLatencies: Seq[Double] = ctx.ops.filter(_.ok).map(_.ms).toSeq
  /** `ops_per_s`: ops completed per second of the measured phase. */
  def opsPerSecond(measuredS: Double): Double = opLatencies.size / measuredS
  def inputBytes: Long
  def tableBytes: Long
}

object Workloads {
  val Names: Seq[String] = Seq("iot_ingest", "gold_analytics", "lake_mixed")

  /** Threads a workload runs beside Spark's task slots (the generator). */
  def extraThreads(name: String): Int = if (name == "iot_ingest") 1 else 0

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "iot_ingest" => new IotIngest(ctx)
    case "gold_analytics" => new GoldAnalytics(ctx)
    case "lake_mixed" => new LakeMixed(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (have ${Names.mkString(", ")})")
  }

  /** Batch read rows of the medallion, data-quality, TPC-H and SQL
    * families: read-only, no stream or lake row, nothing that mutates a
    * session fixture. A fixed list, so every seed runs the same mix and
    * the seed only orders it. */
  val GoldRows: Seq[String] = Seq(
    "silver_events", "fact_events", "dq_not_null", "dq_relationships",
    "q1_agg", "q3_shipping", "q13_custdist", "q_pivot_events")

  /** One row per ext family whose op fits the loop (dedup, text quality,
    * ANN over a persisted PQ index built in set-up), so the ext layer is
    * measured too. BPE training (about 4 s an op) does not fit and is left
    * out. */
  val ExtRows: Seq[String] = Seq("dedup_exact", "doc_token_stats", "ann_pq_persisted")

  def family(row: String): String =
    if (row.startsWith("dedup")) "ext.dedup"
    else if (row.startsWith("doc")) "ext.text"
    else if (row.startsWith("ann")) "ext.ann"
    else "gold"
}

// ---- gold_analytics -----------------------------------------------------------

/** Closed loop, one client, over registry rows on generated tables. Each
  * cycle runs every row once in a seeded order. The untimed warm pass
  * writes each row's result out (the runner compares rows that have an SQL
  * oracle with DuckDB after the JVM exits); every timed repetition must
  * reproduce the content hash of the row's first timed run. */
final class GoldAnalytics(ctx: Ctx) extends Workload(ctx) {
  private val rows = Workloads.GoldRows ++ Workloads.ExtRows
  private val fns = graft.SparkEntry.queries
  private val oracles = graft.SparkEntry.oracleSql
  require(rows.forall(fns.contains), s"rows not in the registry: ${rows.filterNot(fns.contains)}")
  private var dir: Path = _
  private var outDir: Path = _
  private val expected = mutable.Map.empty[String, (Long, Long)]
  private val rnd = new scala.util.Random(ctx.seed)
  private var queue: List[String] = Nil
  private val undertime = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

  override def generate(d: Path): Unit = {
    Gen.relational(spark, d.toString, ctx.seed, 0.01)
    Gen.corpus(spark, d.toString, ctx.seed, 2000L)
  }

  def prepare(d: Path): Unit = {
    dir = d
    graft.ext.Similarity.prebuildPqIndex(spark, d.toString)
    ()
  }

  private var cycles = 0
  /** A run measures at least two whole cycles: every run then has the same
    * number of samples of every row (a first cycle that ends just before or
    * just after the time limit would otherwise halve it), and a row whose
    * job count drops on its repetition is seen. */
  override def cycleDone: Boolean = queue.isEmpty && cycles >= 2

  private def build(row: String): DataFrame = fns(row)(spark, dir.toString)

  def warm(): Unit = {
    outDir = dir.resolveSibling("results")
    val sqls = mutable.LinkedHashMap.empty[String, String]
    rows.foreach { row =>
      build(row).write.mode("overwrite").parquet(outDir.resolve(row).toString)
      oracles.get(row).foreach(sqls(row) = _)
    }
    val json = sqls.map { case (k, v) =>
      "\"" + k + "\":" + Json.str(v) }.mkString("{", ",", "}")
    Files.createDirectories(outDir)
    Files.writeString(outDir.resolve("oracle_sql.json"), json)
    Files.writeString(outDir.resolve("tables_dir.txt"), dir.toString)
    ()
  }

  def step(): Unit = {
    if (queue.isEmpty) { queue = rnd.shuffle(rows).toList; cycles += 1 }
    val row = queue.head
    queue = queue.tail
    val fam = Workloads.family(row)
    val r = ctx.op("read", row) {
      if (fam == "gold") Harness.timedRead(ctx, build(row))
      else ctx.trace.span(fam)(Harness.timedRead(ctx, build(row)))
    }
    r.foreach(got => ctx.checking(ctx.expect(got == expected.getOrElseUpdate(row, got),
      s"$row: content hash $got differs from its first timed run ${expected(row)}")))
    // traced runs also time what `count()` would have reported for the op
    if (ctx.trace.enabled && r.isDefined) ctx.checking {
      val t0 = System.nanoTime()
      build(row).count()
      val countMs = (System.nanoTime() - t0) / 1e6
      undertime.getOrElseUpdate(row, mutable.ArrayBuffer.empty) += ctx.ops.last.ms - countMs
    }
  }

  override def check(): Unit = {
    if (ctx.trace.enabled) {
      val all = undertime.values.flatten.toSeq
      ctx.layers("exec.count_undertime_ms") = if (all.isEmpty) 0.0 else all.sum / all.size
      ctx.extras("count_undertime_ms_by_row") = undertime.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Stats.median(v.toSeq) }
    }
  }

  def inputBytes: Long = Harness.du(dir)
  def tableBytes: Long = Harness.du(dir)
}

// ---- lake_mixed ---------------------------------------------------------------

/** Closed loop, one client, on a versioned events table: about half the
  * ops are seeded writes (append, merge upsert, DV delete, copy-on-write
  * delete, purge, optimize + vacuum), half are reads (snapshot, time
  * travel, skipping range, metadata row count). The benchmark keeps its own
  * model of the live keys and checks every read and every commit's row
  * count against it. */
final class LakeMixed(ctx: Ctx) extends Workload(ctx) {
  import graft.sources.Lake
  private val nRows = 20000L
  private var dir: Path = _
  private var table: String = _
  private val rnd = new scala.util.Random(ctx.seed)
  private val live = mutable.TreeSet.empty[Long]
  private var nextId = nRows
  private var dvsLive = false
  /** version → (commit wall-clock millis, live rows) of every retained version. */
  private val versions = mutable.TreeMap.empty[Long, (Long, Long)]
  private var writes = 0

  private def events(ids: Seq[Long], tag: Int): DataFrame =
    Gen.eventRows(spark.createDataset(ids)(org.apache.spark.sql.Encoders.scalaLong).toDF("id"),
      ctx.seed, nRows / 60, tag)

  override def generate(d: Path): Unit = Gen.events(spark, d.resolve("src").toString, ctx.seed, nRows)

  def prepare(d: Path): Unit = {
    dir = d
    table = d.resolve("events_lake").toString
    val v = Lake.writeVersioned(spark, graft.Tables.events(spark, d.resolve("src").toString), table)
    Lake.writeStats(spark, table, Seq("event_id"))
    live.clear(); live ++= (0L until nRows)
    nextId = nRows; dvsLive = false; versions.clear(); writes = 0
    versions(v) = (System.currentTimeMillis(), nRows)
  }

  private def committed(v: Long): Unit = ctx.checking {
    val n = Lake.rowCount(spark, table)
    ctx.expect(n == live.size, s"lake: rowCount $n after commit $v, model has ${live.size}")
    versions(v) = (System.currentTimeMillis(), live.size.toLong)
    writes += 1
  }

  private def pickLive(k: Int): Seq[Long] = {
    val arr = live.toIndexedSeq
    Seq.fill(k)(arr(rnd.nextInt(arr.size))).distinct
  }

  private def write(name: String)(body: => Long): Unit =
    ctx.op("write", name)(ctx.trace.span(s"lake.$name")(body)).foreach(committed)

  private def purgeIfDvs(): Unit = if (dvsLive) {
    write("purge") {
      Lake.purgeDeletes(spark, table)
      Lake.appendStats(spark, table, Seq("event_id"))
      Lake.listVersions(spark, table).last
    }
    dvsLive = false
  }

  private def read(name: String, expect: Long)(build: => DataFrame): Unit = {
    val r = ctx.op("read", name) {
      val df = ctx.trace.span("lake.read_build")(build)
      ctx.trace.span("plans")(df.queryExecution.executedPlan)
      ctx.trace.span("exec")(Harness.materialize(df))
    }
    r.foreach { case (n, _) => ctx.checking(ctx.expect(n == expect, s"lake $name: $n rows, expected $expect")) }
  }

  /** One untimed pass over every op kind. */
  def warm(): Unit = {
    cycle.distinct.foreach(run)
    ctx.ops.clear()
  }

  /** One cycle of the op mix: about half writes, half reads. Runs measure
    * whole cycles in a fixed order, so every run measures the same mix; the
    * seed picks keys and ranges. The three skipping reads put several ops
    * of one kind at the middle of the latency distribution, so its median
    * does not hang on a single op. */
  private val cycle = Seq("append", "snapshot", "delete_dv", "time_travel", "merge", "skipping",
    "skipping", "skipping", "delete", "rowcount", "append", "snapshot", "optimize", "time_travel")
  private var pos = 0
  override def cycleDone: Boolean = pos % cycle.size == 0

  def step(): Unit = {
    val next = cycle(pos % cycle.size)
    pos += 1
    run(next)
  }

  private def run(kind: String): Unit = kind match {
    case "append" =>
      val ids = nextId until nextId + 200
      nextId += 200
      live ++= ids
      write("append") {
        val v = Lake.appendVersioned(spark, events(ids, 29), table)
        Lake.appendStats(spark, table, Seq("event_id")); v
      }
    case "merge" =>
      purgeIfDvs()
      val upd = pickLive(50)
      val ins = nextId until nextId + 50
      nextId += 50
      live ++= ins
      write("merge") {
        val (v, _) = Lake.mergeInto(spark, table, events(upd ++ ins, 39), Seq("event_id"))
        Lake.appendStats(spark, table, Seq("event_id")); v
      }
    case "delete_dv" =>
      val ids = pickLive(20)
      live --= ids
      dvsLive = true
      write("delete_dv") {
        Lake.deleteWhereDv(spark, table, col("event_id").isin(ids: _*))
        Lake.listVersions(spark, table).last
      }
    case "delete" =>
      val lo = live.toIndexedSeq(rnd.nextInt(live.size))
      live --= live.range(lo, lo + 30).toSeq
      write("delete") {
        Lake.deleteWhere(spark, table, col("event_id").between(lo, lo + 29))
        Lake.appendStats(spark, table, Seq("event_id"))
        Lake.listVersions(spark, table).last
      }
    case "optimize" =>
      purgeIfDvs()
      write("optimize") {
        Lake.optimizeVersioned(spark, table)
        Lake.appendStats(spark, table, Seq("event_id"))
        Lake.listVersions(spark, table).last
      }
      val dropped = ctx.op("write", "vacuum")(ctx.trace.span("lake.vacuum")(Lake.vacuum(spark, table, 8)))
      dropped.foreach(ds => versions --= ds)
    case "snapshot" =>
      read("snapshot", live.size.toLong)(Lake.readVersioned(spark, table))
    case "time_travel" =>
      // always three commits back, so every run reads the same kind of
      // version; `at` was taken after v's commit returned and before the
      // next write began, so it resolves to v
      val keys = versions.keys.toIndexedSeq
      val v = keys(math.max(0, keys.size - 4))
      val (at, n) = versions(v)
      read("time_travel", n)(Lake.readVersionedAsOf(spark, table, at))
    case "skipping" =>
      purgeIfDvs()
      val lo = live.toIndexedSeq(rnd.nextInt(live.size))
      val want = live.range(lo, lo + 500).size.toLong
      read("skipping", want)(Lake.readSkipping(spark, table,
        Lake.skipRange("event_id", lit(lo), lit(lo + 499)))
        .filter(col("event_id").between(lo, lo + 499)))
    case "rowcount" =>
      ctx.op("read", "rowcount")(ctx.trace.span("lake.rowcount")(Lake.rowCount(spark, table)))
        .foreach(n => ctx.checking(ctx.expect(n == live.size, s"lake rowCount $n, model ${live.size}")))
  }

  override def check(): Unit = {
    ctx.layers("lake.versions") = Lake.listVersions(spark, table).size.toDouble
    ctx.layers("lake.files_live") = Lake.readVersioned(spark, table).inputFiles.length.toDouble
    ctx.layers("lake.jobs_per_write") =
      ctx.trace.sum("jobs", s => s.startsWith("lake.") && s != "lake.read_build" && s != "lake.rowcount") /
        math.max(1, writes)
    ctx.layers("lake.bytes_written") = ctx.trace.sum("output_bytes", _.startsWith("lake."))
    val snap = Harness.materialize(Lake.readVersioned(spark, table))._1
    ctx.expect(snap == live.size, s"lake: final snapshot has $snap rows, model ${live.size}")
  }

  def inputBytes: Long = {
    val src = Harness.du(dir.resolve("src").resolve("events.parquet"))
    (src.toDouble * live.size / nRows).toLong
  }
  def tableBytes: Long = Harness.du(Paths.get(table))
}

// ---- iot_ingest -----------------------------------------------------------------

/** Open loop: one generator thread lands raw JSON files at a fixed rate
  * whether or not the pipeline keeps up; the client drains repeatedly
  * through the bronze → silver → gold pipeline and reads gold after each
  * drain. An op is a landed file whose gold commit became visible within
  * the measured phase, timed from when it was due until then (freshness).
  * Files still in the backlog when the phase ends are drained afterwards
  * for the completeness check only, so a pipeline that falls behind the
  * offered rate completes fewer ops per second. */
final class IotIngest(ctx: Ctx) extends Workload(ctx) {
  import graft.sources.Lake
  private val filesPerSec = 10
  private val eventsPerFile = 50
  private val nLoc = 40
  private var landing: Path = _
  private var silver, gold, ckpt: String = _
  // per landed file: (due nanos, landed nanos, admitted (loc, sensor) → (n, quarters))
  private val landed = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Map[(String, String), (Long, Long)])]
  private val files = mutable.ArrayBuffer.empty[(Long, Long, Map[(String, String), (Long, Long)])]
  private var covered = 0
  private val visible = mutable.ArrayBuffer.empty[Long]
  private var nextFile = 0
  private var gen: Thread = _
  private var genStart = 0L
  private var measuredEnd = Long.MaxValue
  @volatile private var stopGen = false
  private var backlogMax = 0
  private var drains = 0
  private val t0Millis = 1717200000000L

  private def admittedOf(es: Seq[Gen.Event]) = es.filter(e => Gen.admitted(e.flag))
    .groupBy(e => (e.location, e.sensor)).map { case (k, v) => k -> (v.size.toLong, v.map(_.quarters).sum) }

  private def landNext(due: Long): Unit = {
    val i = nextFile
    nextFile += 1
    val es = Gen.landingFile(ctx.seed, i, eventsPerFile, nLoc, t0Millis)
    Gen.land(landing, f"part-$i%06d.json", es)
    landed.add((i, due, System.nanoTime(), admittedOf(es)))
  }

  def prepare(d: Path): Unit = {
    landing = Files.createDirectories(d.resolve("landing"))
    silver = d.resolve("silver").toString
    gold = d.resolve("gold").toString
    ckpt = d.resolve("checkpoint").toString
    nextFile = 0; covered = 0; files.clear(); visible.clear(); landed.clear()
    drains = 0; backlogMax = 0
    landNext(System.nanoTime())
    graft.stream.Ingest.runContinuousSilverGoldPipeline(spark, landing.toString, silver, gold, ckpt)
  }

  private def collectLanded(): Unit = {
    var e = landed.poll()
    while (e != null) {
      val (i, due, at, m) = e
      require(i == files.size, s"landing order broke at file $i")
      files += ((due, at, m))
      e = landed.poll()
    }
  }

  /** Gold per (location, sensor) → (n_events, value in quarters). */
  private def readGold(): Option[Map[(String, String), (Long, Long)]] =
    ctx.op("read", "gold_read") {
      val df = ctx.trace.span("lake.read_build")(Lake.readVersioned(spark, gold))
      ctx.trace.span("plans")(df.queryExecution.executedPlan)
      ctx.trace.span("exec")(df.collect()).map { r =>
        (r.getAs[String]("location_id"), r.getAs[String]("sensor_type")) ->
          (r.getAs[Long]("n_events"), math.round(r.getAs[Double]("value") * 4))
      }.toMap
    }

  private def drainAndRead(): Unit = {
    collectLanded()
    backlogMax = math.max(backlogMax, files.size - covered)
    val ok = ctx.op("write", "drain")(ctx.trace.span("stream")(
      graft.stream.Ingest.runContinuousSilverGoldPipeline(spark, landing.toString, silver, gold, ckpt)))
    val at = System.nanoTime()
    drains += 1
    collectLanded()
    if (ok.isDefined) readGold().foreach { g => ctx.checking(settle(g, at)) }
  }

  /** The files gold newly covers became visible at `at`. */
  private def settle(g: Map[(String, String), (Long, Long)], at: Long): Unit =
    IotIngest.coveredPrefix(files.map(_._3).toSeq, g) match {
      case Left(err) => ctx.fail(err)
      case Right(k) if k < covered => ctx.fail(s"iot: gold went back from $covered files to $k")
      case Right(k) => while (covered < k) { visible += at; covered += 1 }
    }

  /** Files landed before the measured phase: file 0 (drained in set-up)
    * and the warm files. They are the baseline, not measured requests. */
  private var baseline = 0
  /** Untimed drains of a steady-state backlog (one second of files each)
    * before the measured phase. */
  private val warmDrains = 2

  def warm(): Unit = {
    collectLanded()
    readGold().foreach(g => settle(g, System.nanoTime()))
    (1 to warmDrains).foreach { _ =>
      (1 to filesPerSec).foreach(_ => landNext(System.nanoTime()))
      drainAndRead()
    }
    baseline = covered
    drains = 0; backlogMax = 0
    ctx.ops.clear()
  }

  /** Freshness depends on how drains fall relative to landings, and its
    * tail on the slowest drain of a run, so a run measures at least this
    * many drains. */
  private val minDrains = 8
  override def cycleDone: Boolean = drains >= minDrains

  private var started = false
  def step(): Unit = {
    if (!started) {
      started = true
      genStart = System.nanoTime()
      gen = new Thread(() => {
        var i = 0
        while (!stopGen) {
          val due = genStart + (i.toLong * 1000000000L) / filesPerSec
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          if (!stopGen) { landNext(due); i += 1 }
        }
      }, "perfbench-generator")
      gen.setDaemon(true)
      gen.start()
    }
    drainAndRead()
  }

  override def finish(): Unit = if (gen != null) {
    measuredEnd = System.nanoTime()
    stopGen = true
    gen.join()
    drainAndRead()
  }

  override def check(): Unit = {
    ctx.expect(covered == files.size, s"iot: ${files.size - covered} landed files never reached gold")
    val fresh = opLatencies
    ctx.extras("freshness_ms_p50") = if (fresh.nonEmpty) Stats.median(fresh) else 0.0
    ctx.extras("freshness_ms_p90") = if (fresh.nonEmpty) Stats.tail(fresh)._1 else 0.0
    val late = files.map { case (due, at, _) => (at - due) / 1e6 }.toSeq
    ctx.layers("stream.generator_late_ms_p90") = if (late.nonEmpty) Stats.tail(late)._1 else 0.0
    ctx.layers("stream.backlog_files_max") = backlogMax
    ctx.layers("stream.drains") = drains
    val events = inMeasured.map(_._1._3.values.map(_._1).sum).sum
    ctx.extras("events_per_s") = events / offeredS
  }

  /** (file, visible at) of the measured files gold held when the measured
    * phase ended. */
  private def inMeasured = files.slice(baseline, covered).zip(visible.drop(baseline))
    .filter(_._2 <= measuredEnd).toSeq
  /** Seconds from the first measured landing to the end of the measured phase. */
  private def offeredS = (measuredEnd - genStart) / 1e9

  override def opLatencies: Seq[Double] = inMeasured.map { case ((due, _, _), at) => (at - due) / 1e6 }
  override def opsPerSecond(measuredS: Double): Double = opLatencies.size / offeredS

  def inputBytes: Long = Harness.du(landing)
  def tableBytes: Long = Harness.du(Paths.get(silver)) + Harness.du(Paths.get(gold))
}

object IotIngest {
  type Sums = Map[(String, String), (Long, Long)]

  /** Gold must equal the admitted rows of exactly a prefix of the landed
    * files, per (location, sensor): event count and value in quarters.
    * Returns that prefix's length, or what is wrong. */
  def coveredPrefix(files: Seq[Sums], gold: Sums): Either[String, Int] = {
    val total = gold.values.map(_._1).sum
    var k = 0
    var acc = 0L
    while (k < files.size && acc < total) { acc += files(k).values.map(_._1).sum; k += 1 }
    if (acc != total)
      return Left(s"iot: gold holds $total events, not the admitted rows of a prefix of ${files.size} files")
    val want = files.take(k).flatten.groupBy(_._1).map { case (key, vs) =>
      key -> (vs.map(_._2._1).sum, vs.map(_._2._2).sum) }
    if (want == gold) Right(k)
    else Left(s"iot: gold per-key counts or sums differ from the admitted rows of files 0..${k - 1}")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
}
