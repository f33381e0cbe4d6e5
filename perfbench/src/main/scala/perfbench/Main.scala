package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <file>`.
  * Writes the run's result as one JSON object to `--out`; the runner
  * (`run.py`) adds the oracle comparison and prints the final line.
  */
object Main {

  /** Set-up passes per run; set-up time reports their median. */
  val PreparePasses = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Files.createDirectories(Paths.get(a("work")).toAbsolutePath)
    val out = Paths.get(a("out"))
    // the runner holds our stdin: when it goes away, so do we
    val orphanWatch = new Thread(() => {
      while (System.in.read() != -1) {}
      Runtime.getRuntime.halt(3)
    }, "perfbench-orphan-watch")
    orphanWatch.setDaemon(true)
    orphanWatch.start()

    val cpus = Runtime.getRuntime.availableProcessors()
    val h0 = System.nanoTime()
    val hostStart = Host.sample(cpus)
    val hostNanos = System.nanoTime() - h0
    // task slots + the workload's own threads stay within the host's cpus
    val slots = math.max(1, cpus - Workloads.extraThreads(name))
    val spark = SparkSession.builder()
      .master(s"local[$slots]")
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (ManagementFactory.getRuntimeMXBean.getUptime * 1e6 - hostNanos) / 1e9

    val trace = new Trace(spark, traced)
    val ctx = new Ctx(spark, trace, seed)
    val wl = Workloads(name, ctx)
    val tg = System.nanoTime()
    val inputs = Files.createDirectories(work.resolve("inputs"))
    wl.generate(inputs)
    val genS = (System.nanoTime() - tg) / 1e9
    val prepS = (1 to PreparePasses).map { i =>
      val d = work.resolve(s"prepare$i")
      copyTree(inputs, d)
      val t = System.nanoTime()
      wl.prepare(d)
      (System.nanoTime() - t) / 1e9
    }
    val tw = System.nanoTime()
    wl.warm()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Stats.median(prepS) + warmS

    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val cpu0 = os.getProcessCpuTime
    trace.start()
    val t0 = System.nanoTime()
    def elapsed = System.nanoTime() - t0 - ctx.checkNanos
    while (elapsed < seconds * 1e9 || !wl.cycleDone) wl.step()
    val measuredS = elapsed / 1e9
    wl.finish()
    val cpuMs = (os.getProcessCpuTime - cpu0) / 1e6
    trace.stop()
    val gcMs = (gcBeans.map(_.getCollectionTime).sum - gc0).toDouble
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    wl.check()
    val hostEnd = Host.sample(cpus)

    val ops = ctx.ops.toSeq
    val lat = wl.opLatencies
    val reads = ops.filter(o => o.ok && o.kind == "read").map(_.ms)
    val writes = ops.filter(o => o.ok && o.kind == "write").map(_.ms)
    def p50(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def p90(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.tail(xs)._1
    val userOps = math.max(1, lat.size)
    val e2e = Seq(
      "setup_s" -> setupS,
      "ops_per_s" -> wl.opsPerSecond(measuredS),
      "op_ms_p50" -> p50(lat),
      "op_ms_p90" -> p90(lat),
      "cpu_ms_per_op" -> cpuMs / userOps,
      "mem_peak_mb" -> Host.peakRssMb())
    val failed = ops.count(!_.ok)
    ctx.extras("op_ms_p50") = p50(lat)
    ctx.extras("read_ms_p50") = p50(reads)
    ctx.extras("read_ms_p90") = p90(reads)
    ctx.extras("write_ms_p50") = p50(writes)
    ctx.extras("write_ms_p90") = p90(writes)
    ctx.extras("fail_frac") = failed.toDouble / math.max(1, ops.size)
    ctx.extras("storage_amp") = wl.tableBytes.toDouble / math.max(1L, wl.inputBytes)
    ctx.extras("samples") = Map("op" -> lat.size, "read" -> reads.size, "write" -> writes.size)
    ctx.extras("tail_percentile") = Map(
      "op" -> (if (lat.isEmpty) 0.0 else Stats.tail(lat)._2),
      "read" -> (if (reads.isEmpty) 0.0 else Stats.tail(reads)._2),
      "write" -> (if (writes.isEmpty) 0.0 else Stats.tail(writes)._2))
    ctx.extras("setup_parts_s") = Map("session" -> sessionS, "prepare_median" -> Stats.median(prepS),
      "warm" -> warmS)
    ctx.extras("input_generation_s") = genS
    ctx.extras("op_ms_p50_by_name") = ops.filter(_.ok).groupBy(_.name).toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Stats.median(v.map(_.ms)) }
    ctx.extras("measured_s") = measuredS
    ctx.extras("session") = s"local[$slots], shuffle.partitions=$slots, extra threads=${cpus - slots}"

    val layers = if (traced) perLayer(ctx, trace, gcMs, heapPeakMb) else Seq.empty
    val result = Seq(
      "workload" -> Json.str(name),
      "correct" -> ctx.errors.isEmpty.toString,
      "attempted" -> ops.size.toString,
      "failed" -> failed.toString,
      "errors" -> ctx.errors.map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> obj(e2e),
      "per_layer" -> obj(layers),
      "extras" -> value(ctx.extras.toSeq),
      "host" -> Host.label(hostStart, hostEnd),
      "results_dir" -> Json.str(work.resolve("results").toString))
    Files.writeString(out, result.map { case (k, v) => Json.str(k) + ":" + v }.mkString("{", ",", "}"))
    spark.stop()
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val q = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
      ()
    } finally s.close()
  }

  private def obj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case d: Double => Json.num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => Json.str(s)
    case m: Map[_, _] => value(m.toSeq.map { case (k, x) => k.toString -> x })
    case kv: Seq[_] => kv.map { case (k: String, x) => Json.str(k) + ":" + value(x) }
      .mkString("{", ",", "}")
    case other => Json.str(other.toString)
  }

  /** The per-layer metrics. Counts and times are per op (or per drain, per
    * call of the named span) so runs of different lengths compare. */
  def perLayer(ctx: Ctx, t: Trace, gcMs: Double, heapPeakMb: Double): Seq[(String, Double)] = {
    val nOps = math.max(1, ctx.ops.size).toDouble
    def mean(span: String) = { val (n, ms) = t.spans(_ == span); if (n == 0) 0.0 else ms / n }
    def per(span: String, k: String) = { val (n, _) = t.spans(_ == span); if (n == 0) 0.0 else t.sum(k, _ == span) / n }
    def lay(k: String) = ctx.layers.getOrElse(k, 0.0)
    val drains = lay("stream.drains")
    def perDrain(x: Double) = if (drains == 0) 0.0 else x / drains
    val jobMs = t.sum("job_ms")
    val streamWall = t.spans(_ == "stream")._2
    val exec = Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "task_gc_ms",
      "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
      "input_records", "output_bytes", "failed_tasks").map(k => s"exec.$k" -> t.sum(k) / nOps)
    Seq(
      "tables.build_ms" -> mean("tables"),
      "tables.jobs" -> per("tables", "jobs"),
      "plans.plan_ms" -> t.planMs / nOps,
      "exec.run_ms" -> jobMs / nOps) ++ exec ++ Seq(
      "exec.cpu_per_run" -> (if (jobMs == 0) 0.0 else t.sum("task_cpu_ms") / jobMs),
      "exec.rdds_leaked" -> ctx.rddsLeaked.toDouble,
      "exec.jobs_drop_ops" -> ctx.jobsDropOps.toDouble,
      "exec.count_undertime_ms" -> lay("exec.count_undertime_ms"),
      "stream.drains" -> drains,
      "stream.batches" -> t.stream("batches"),
      "stream.batches_per_drain" -> perDrain(t.stream("batches")),
      "stream.useful_frac" -> (if (t.stream("progress") == 0) 0.0 else t.stream("batches") / t.stream("progress")),
      "stream.start_ms" -> perDrain(streamWall - t.stream("triggerExecution_ms"))) ++
      Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
        "triggerExecution").map(k => s"stream.${k}_ms" -> perDrain(t.stream(s"${k}_ms"))) ++ Seq(
      "stream.input_rows" -> perDrain(t.stream("input_rows")),
      "stream.backlog_files_max" -> lay("stream.backlog_files_max"),
      "stream.generator_late_ms_p90" -> lay("stream.generator_late_ms_p90")) ++
      Seq("append", "merge", "delete", "delete_dv", "purge", "optimize", "vacuum", "read_build",
        "rowcount").map(k => s"lake.${k}_ms" -> mean(s"lake.$k")) ++ Seq(
      "lake.jobs_per_write" -> lay("lake.jobs_per_write"),
      "lake.files_live" -> lay("lake.files_live"),
      "lake.versions" -> lay("lake.versions"),
      "lake.bytes_written" -> lay("lake.bytes_written")) ++
      Seq("dedup", "ann", "text").map(k => s"ext.${k}_ms" -> mean(s"ext.$k")) ++ Seq(
      "jvm.gc_ms" -> gcMs,
      "jvm.heap_peak_mb" -> heapPeakMb)
  }
}
