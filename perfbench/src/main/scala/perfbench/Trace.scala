package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchShims, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer accounting from outside the program. The benchmark wraps each
  * call into a module in a named span; the span name rides on a Spark
  * local property, so every job, stage and task the call starts (also on
  * a streaming query's own thread, which inherits the property) is charged
  * to it. Planning phases and micro-batch phases are summed for the whole
  * measured phase, except while the benchmark runs its own checks
  * (`unrecorded`). With tracing off nothing is registered and spans only
  * run their body.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val lock = new Object
  private val byspan = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val jobSpan = mutable.Map.empty[Int, (String, Long)]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val planPhases = mutable.Map.empty[String, Double]
  private val streamPhases = mutable.Map.empty[String, Double]
  private val spanMs = mutable.Map.empty[String, (Long, Double)]
  @volatile private var recording = false

  private def add(span: String, k: String, v: Double): Unit =
    byspan.getOrElseUpdate(span, mutable.Map.empty[String, Double])(k) =
      byspan(span).getOrElse(k, 0.0) + v

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      span.foreach { s =>
        jobSpan(e.jobId) = (s, e.time)
        e.stageIds.foreach(stageSpan(_) = s)
        add(s, "jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpan.remove(e.jobId).foreach { case (s, t0) => add(s, "job_ms", (e.time - t0).toDouble) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(add(_, "stages", 1))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        add(s, "tasks", 1)
        if (!e.taskInfo.successful) add(s, "failed_tasks", 1)
        Option(e.taskMetrics).foreach { m =>
          add(s, "task_run_ms", m.executorRunTime.toDouble)
          add(s, "task_cpu_ms", m.executorCpuTime / 1e6)
          add(s, "task_gc_ms", m.jvmGCTime.toDouble)
          add(s, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(s, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add(s, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add(s, "input_bytes", m.inputMetrics.bytesRead.toDouble)
          add(s, "input_records", m.inputMetrics.recordsRead.toDouble)
          add(s, "output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
    }
  }

  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) lock.synchronized {
        qe.tracker.phases.foreach { case (k, v) =>
          planPhases(k) = planPhases.getOrElse(k, 0.0) + v.durationMs }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (recording) lock.synchronized {
        val p = e.progress
        def bump(k: String, v: Double) = streamPhases(k) = streamPhases.getOrElse(k, 0.0) + v
        bump("progress", 1)
        if (p.numInputRows > 0) bump("batches", 1)
        bump("input_rows", p.numInputRows.toDouble)
        p.durationMs.asScala.foreach { case (k, v) => bump(k + "_ms", v.doubleValue) }
      }
  }

  if (enabled) {
    sc.addSparkListener(JobListener)
    spark.listenerManager.register(PlanListener)
    spark.streams.addListener(StreamListener)
  }

  /** Run `body` as span `name`: its engine work is charged to `name` and
    * its wall time added to the span's total. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val ms = (System.nanoTime() - t0) / 1e6
        lock.synchronized {
          val (n, tot) = spanMs.getOrElse(name, (0L, 0.0))
          spanMs(name) = (n + 1, tot + ms)
        }
        sc.setLocalProperty(Key, prev)
      }
    }

  def start(): Unit = recording = true

  /** Run `body` with recording paused: the benchmark's own queries (checks,
    * probes) are not the program's work, and the plan and stream listeners
    * see no span, so they are kept out this way. */
  def unrecorded[T](body: => T): T =
    if (!enabled || !recording) body
    else {
      stop()
      try body
      finally { stop(); start() }
    }

  /** Stop recording and wait until the listeners have seen every event. */
  def stop(): Unit = {
    if (enabled) PerfbenchShims.drainListeners(sc)
    recording = false
  }

  /** Counter `k` summed over spans whose name satisfies `p`. */
  def sum(k: String, p: String => Boolean = _ => true): Double = lock.synchronized {
    byspan.iterator.filter(e => p(e._1)).map(_._2.getOrElse(k, 0.0)).sum
  }
  /** (calls, total wall ms) of spans whose name satisfies `p`. */
  def spans(p: String => Boolean): (Long, Double) = lock.synchronized {
    spanMs.iterator.filter(e => p(e._1)).map(_._2).foldLeft((0L, 0.0)) {
      case ((a, b), (c, d)) => (a + c, b + d) }
  }
  def planMs: Double = lock.synchronized(planPhases.values.sum)
  def stream(k: String): Double = lock.synchronized(streamPhases.getOrElse(k, 0.0))
}

object Trace {
  val Key = "perfbench.span"
}
