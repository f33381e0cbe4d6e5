package graft

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.GraftSqlShims
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-row engine census under [[Session]]: for each named registry row,
  * the wall time of building the frame plus its `count()`, the Spark jobs
  * it started, the stages it completed and their tasks, and — for stream
  * rows — the micro-batch count with every `durationMs` phase summed over
  * the row's batches (plus `stateCommit`, the state-store commit time).
  *
  *   sbt "runMain graft.Prof /root/testdata/sf0.1 q3_shipping stream_cdf_equiv"
  */
object Prof {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Prof <sfDir> <query> [<query> ...]")
    val (sfDir, names) = (args.head, args.toSeq.tail)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"names not in the registry: ${unknown.mkString(", ")}")
    val spark = Session()
    val jobs, stages, tasks = new AtomicLong
    val phases = scala.collection.mutable.TreeMap.empty[String, Long]
    var batches = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks.toLong)
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ms = p.durationMs.asScala.map { case (k, v) => k -> v.longValue } +
          ("stateCommit" -> p.stateOperators.map(_.commitTimeMs).sum)
        phases.synchronized {
          batches += 1
          ms.foreach { case (k, v) => phases(k) = phases.getOrElse(k, 0L) + v }
        }
      }
    })
    // drain the listener bus, then read and zero every counter
    def take(): (Long, Long, Long, Long, Seq[(String, Long)]) = {
      GraftSqlShims.drainListeners(spark.sparkContext)
      phases.synchronized {
        val r = (jobs.getAndSet(0), stages.getAndSet(0), tasks.getAndSet(0),
          batches, phases.toSeq)
        batches = 0L
        phases.clear()
        r
      }
    }
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      take()
      names.foreach { q =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val (j, s, k, b, ph) = take()
        println(f"[prof] $q%-34s $dt%7.2f s  jobs=$j%-4d stages=$s%-4d " +
          f"tasks=$k%-5d batches=$b" + ph.map { case (n, v) => s" $n=$v" }.mkString)
      }
    } finally spark.stop()
  }
}
