package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered engine query: the Spark implementation plus (when the
  * semantics are SQL-expressible) a DuckDB oracle with IDENTICAL output
  * column names and ordering. Queries must be deterministic: every oracled
  * query ends in a total `orderBy`.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
)

/** The one session shape every main runs under: `local[cpus]` with
  * `cpus` = `$SPARK_GRAFT_CPUS` (default: the JVM's processor count), one
  * shuffle partition per core, UTC session time, no UI, WARN logging.
  */
object Session {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Readers for the driver testdata tables (TESTDATA.md / FIXTURES.md §B).
  * Each frame takes its schema from the one footer Spark's inference would
  * read, read on the driver, so building it starts no Spark job.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Lake.readParquet(spark, s"$dir/$name.parquet")

  /** Schema-adaptive read of the events table. Driver fixtures have shipped
    * `ts` two ways across regenerations:
    *   - TIMESTAMP(NANOS), which Spark's vectorized reader rejects — read as
    *     epoch-nanos LONG (`nanosAsLong`) and convert. Integer `div` keeps
    *     the math exact (epoch-nanos ≈ 1.7e18 overflows the 2^53
    *     exact-double range, so a double division would corrupt it).
    *   - timestamp[us] with isAdjustedToUTC=false — with NTZ inference
    *     disabled this loads directly as TimestampType with the stored
    *     micros taken as UTC instants (the pre-NTZ Spark behavior), which
    *     matches the DuckDB oracle's naive reading, independent of the
    *     session time zone.
    * Branch on the LOADED type, not the fixture era, so both keep working.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.LongType
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val df = apply(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _        => df // already TimestampType (micro instants)
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
}
