package graft

import graft.stream.Ingest
import java.nio.file.Files

/** CLI surface for the streaming medallion pipeline: lands JSON files in a
  * temp dir in two batches, drains bronze→silver with Trigger.AvailableNow
  * (checkpointed), refreshes gold, prints layer counts.
  *
  * Usage: runMain graft.StreamDemo [landingDir]
  * With no arg, generates its own sample landing data.
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = Session()

    val root = Files.createTempDirectory("graft-stream-demo")
    val landing = args.headOption.getOrElse {
      val dir = Files.createDirectory(root.resolve("landing"))
      def evt(id: String, loc: String, ts: String, st: String, qf: String, v: Double) =
        s"""{"device_id":"$id","location_id":"$loc","timestamp":"$ts","sensor_type":"$st","quality_flag":"$qf","unit":"C","value":$v}"""
      Files.write(dir.resolve("batch1.jsonl"), java.util.List.of(
        evt("d1", "l1", "2024-01-01T00:00:00", "temperature", "good", 20.5),
        evt("d2", "l1", "2024-01-01T00:01:00", "pressure", "bad", 1.0),
        evt("d3", "l2", "2024-01-01T00:02:00", "humidity", " Good ", 55.0)))
      dir.toString
    }
    val silverDir = root.resolve("silver").toString
    val ckpt = root.resolve("ckpt").toString

    Ingest.runSilverPipeline(spark, landing, silverDir, ckpt)
    println(s"[stream-demo] silver rows after drain 1: ${spark.read.parquet(silverDir).count()}")

    if (args.isEmpty) {
      def evt(id: String, ts: String, qf: String, v: Double) =
        s"""{"device_id":"$id","location_id":"l3","timestamp":"$ts","sensor_type":"motion","quality_flag":"$qf","unit":"b","value":$v}"""
      Files.write(java.nio.file.Paths.get(landing, "batch2.jsonl"), java.util.List.of(
        evt("d4", "2024-01-02T00:00:00", "suspect", 1.0),
        evt("d5", "2024-01-02T00:01:00", "error", 0.0)))
      Ingest.runSilverPipeline(spark, landing, silverDir, ckpt)
      println(s"[stream-demo] silver rows after drain 2: ${spark.read.parquet(silverDir).count()}")
    }

    val gold = Ingest.refreshGold(spark, silverDir)
    gold.foreach { case (name, df) => println(s"[stream-demo] $name rows: ${df.count()}") }
    spark.stop()
  }
}
