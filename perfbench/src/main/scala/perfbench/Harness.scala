package perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, PerfbenchShims, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

/** One timed operation as a user sees it. */
final case class Op(kind: String, name: String, ms: Double, ok: Boolean)

/** What every workload shares: the session, the trace, the op log and the
  * checks that failed. */
final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long) {
  val ops = mutable.ArrayBuffer.empty[Op]
  val errors = mutable.ArrayBuffer.empty[String]
  /** Per-layer values a workload adds beyond the shared counters. */
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Workload-specific end-to-end values printed beside the result. */
  val extras = mutable.LinkedHashMap.empty[String, Any]
  private var leaked = 0L
  private val firstJobs = mutable.Map.empty[String, Double]
  private val dropped = mutable.Set.empty[String]
  /** Wall time spent in the benchmark's own checks during the measured
    * phase; it is not charged to the workload, and a traced run records
    * none of their engine work. */
  var checkNanos = 0L

  def fail(msg: String): Unit = { errors += msg; System.err.println(s"[perfbench] CHECK FAILED: $msg") }
  def expect(cond: Boolean, msg: => String): Unit = if (!cond) fail(msg)

  def checking[T](body: => T): T = {
    val t0 = System.nanoTime()
    try trace.unrecorded(body) finally checkNanos += System.nanoTime() - t0
  }

  /** Time `body` as one op of `kind` ("read" or "write"). A throw is a
    * failed op. With tracing on, the op's persisted-RDD growth is added to
    * the leak count and an op whose job count drops below its first timed
    * run is flagged (a cache left behind makes a repeat do less work). */
  def op[T](kind: String, name: String)(body: => T): Option[T] = {
    val rdds0 = spark.sparkContext.getPersistentRDDs.size
    val jobs0 = if (trace.enabled) { trace.stop(); trace.start(); trace.sum("jobs") } else 0.0
    val t0 = System.nanoTime()
    val r = Try(body)
    val ms = (System.nanoTime() - t0) / 1e6
    ops += Op(kind, name, ms, r.isSuccess)
    if (trace.enabled) {
      leaked += math.max(0, spark.sparkContext.getPersistentRDDs.size - rdds0)
      trace.stop(); trace.start()
      val jobs = trace.sum("jobs") - jobs0
      firstJobs.get(name) match {
        case None => firstJobs(name) = jobs
        case Some(j0) => if (jobs < j0) dropped += name
      }
    }
    r match {
      case Success(v) => Some(v)
      case Failure(e) =>
        System.err.println(s"[perfbench] op $name failed: $e")
        None
    }
  }

  def rddsLeaked: Long = leaked
  def jobsDropOps: Int = dropped.size
}

object Harness {

  /** Fully materialize `df` through its executed plan (sorts and every
    * column included, unlike `count()`), returning (rows, an
    * order-insensitive 64-bit content hash). */
  def materialize(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    PerfbenchShims.withExecution(qe, "perfbench.materialize") {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = proj(r)
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator((n, h))
      }.collect().foldLeft((0L, 0L)) { (acc, x) => (acc._1 + x._1, acc._2 + x._2) }
    }
  }

  /** A read op split at the layer boundaries: build the DataFrame
    * (`tables`), force its physical plan (`plans`), materialize (`exec`). */
  def timedRead(ctx: Ctx, build: => DataFrame): (Long, Long) = {
    val df = ctx.trace.span("tables")(build)
    ctx.trace.span("plans")(df.queryExecution.executedPlan)
    ctx.trace.span("exec")(materialize(df))
  }

  def du(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
}
