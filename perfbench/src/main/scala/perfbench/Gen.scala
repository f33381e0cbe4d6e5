package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a pure function of (seed, row
  * id, column tag), so the same seed gives the same bytes whatever the
  * partitioning; each table is written as one parquet file so the file
  * bytes are stable too. Domains follow the program's fixture tables
  * (region/nation/customer/supplier/part/orders/lineitem, events,
  * documents, embeddings).
  */
object Gen {

  private def h(seed: Long, tag: Int, id: Column): Column =
    xxhash64(id, lit(seed), lit(tag))
  private def u(seed: Long, tag: Int, id: Column, n: Long): Column =
    pmod(h(seed, tag, id), lit(n))
  private def pick(seed: Long, tag: Int, id: Column, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (u(seed, tag, id, xs.size.toLong) + 1).cast("int"))
  /** Exact cents as a double: an integer in [lo, hi] divided by 100. */
  private def cents(seed: Long, tag: Int, id: Column, lo: Long, hi: Long): Column =
    ((u(seed, tag, id, hi - lo + 1) + lo) / 100.0).cast("double")

  private val words = Seq("the", "a", "fast", "slow", "big", "small", "key",
    "order", "sort", "table", "scan", "merge", "part", "window", "hash",
    "join", "batch", "stream", "spark", "value", "data", "row", "column",
    "filter", "group", "agg", "line", "query", "customer", "vector", "dup")

  private def write(df: DataFrame, dir: String, name: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** Write the tables concurrently: each is one small single-task job, so
    * they share the task slots instead of queueing. */
  private def writeAll(dir: String, tables: Seq[(String, DataFrame)]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try tables.map { case (name, df) => pool.submit(new Runnable { def run(): Unit = write(df, dir, name) }) }.foreach(_.get())
    finally pool.shutdown()
  }

  /** The relational + events tables at scale factor `sf` (lineitem is
    * about 6M·sf rows, as in TPC-H). */
  def relational(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val tables = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    def add(df: DataFrame, name: String): Unit = tables += name -> df
    val id = col("id")
    val nCust = math.max(150L, (150000 * sf).toLong)
    val nSupp = math.max(10L, (10000 * sf).toLong)
    val nPart = math.max(200L, (200000 * sf).toLong)
    val nOrd = math.max(1500L, (1500000 * sf).toLong)
    val nEv = math.max(1000L, (1000000 * sf).toLong)
    add(spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (id + 1).cast("int")).as("r_name")), "region")
    add(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"), (id % 5).cast("int").as("n_regionkey")), "nation")
    add(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u(seed, 1, id, 25).cast("int").as("c_nationkey"),
      cents(seed, 2, id, -99999, 999999).as("c_acctbal"),
      pick(seed, 3, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")), "customer")
    add(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      u(seed, 4, id, 25).cast("int").as("s_nationkey"),
      cents(seed, 5, id, -99999, 999999).as("s_acctbal")), "supplier")
    add(spark.range(nPart).select(id.as("p_partkey"),
      concat_ws(" ", pick(seed, 6, id, Seq("cold", "hot", "old", "new", "small",
        "large", "red", "blue")), pick(seed, 7, id, Seq("widget", "bolt", "anvil",
        "ring", "plate", "gear", "rod"))).as("p_name"),
      concat(lit("Brand#"), u(seed, 8, id, 25) + 1).as("p_brand"),
      pick(seed, 9, id, Seq("ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL",
        "PROMO")).as("p_type"),
      (u(seed, 10, id, 50) + 1).cast("int").as("p_size"),
      ((id % 200 + 9000) / 10.0).as("p_retailprice")), "part")
    val orders = spark.range(nOrd).select(id.as("o_orderkey"),
      u(seed, 11, id, nCust).as("o_custkey"),
      pick(seed, 12, id, Seq("F", "O", "P")).as("o_orderstatus"),
      cents(seed, 13, id, 100000, 50000000).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) + u(seed, 14, id, 2404) * 86400)
        .as("o_orderdate"),
      pick(seed, 15, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    add(orders, "orders")
    val lines = spark.range(nOrd)
      .select(id.as("o"), explode(sequence(lit(1L), u(seed, 16, id, 7) + 1)).as("ln"))
      .select((col("o") * 8 + col("ln")).as("id"), col("o"), col("ln"))
    val qty = u(seed, 18, id, 50) + 1
    add(lines.select(col("o").as("l_orderkey"),
      u(seed, 17, id, nPart).as("l_partkey"),
      u(seed, 19, id, nSupp).as("l_suppkey"),
      col("ln").cast("int").as("l_linenumber"),
      qty.cast("double").as("l_quantity"),
      ((qty * (u(seed, 20, id, 2000) + 90000)) / 100.0).as("l_extendedprice"),
      (u(seed, 21, id, 11) / 100.0).as("l_discount"),
      (u(seed, 22, id, 9) / 100.0).as("l_tax"),
      pick(seed, 23, id, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 24, id, Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(788918400L) + (u(seed, 14, col("o"), 2404) +
        u(seed, 25, id, 120) + 1) * 86400).as("l_shipdate")), "lineitem")
    add(eventRows(spark.range(nEv).toDF(), seed, math.max(15L, nEv / 60)), "events")
    writeAll(dir, tables.toSeq)
  }

  /** The events table alone: `n` events over n/60 users in January 2024. */
  def events(spark: SparkSession, dir: String, seed: Long, n: Long): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    write(eventRows(spark.range(n).toDF(), seed, math.max(15L, n / 60)), dir, "events")
  }

  /** Event rows for the ids in the one-column frame `ids` (column `id`);
    * `valueTag` varies the value column, so an upsert can change it. */
  def eventRows(ids: DataFrame, seed: Long, nUsers: Long, valueTag: Int = 29): DataFrame = {
    val id = col("id")
    ids.select(id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + u(seed, 26, id, 30L * 86400 * 1000000))
        .as("ts"),
      u(seed, 27, id, nUsers).as("user_id"),
      pick(seed, 28, id, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      cents(seed, valueTag, id, 1, 33000).as("value"),
      format_string("{\"k\": %d}", u(seed, 30, id, 100)).as("props"))
  }

  /** documents + embeddings: `nDocs` documents of 8–120 words drawn from a
    * small vocabulary, with exact copies (every 20th doc repeats an
    * earlier one) and near copies (every 20th+1 swaps one word), and
    * 64-dim embeddings clustered around one centre per label. */
  def corpus(spark: SparkSession, dir: String, seed: Long, nDocs: Long): Unit = {
    val tables = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    def add(df: DataFrame, name: String): Unit = tables += name -> df
    val id = col("id")
    // every 20th doc (past the first 50) copies one of the 50 before it
    val src = s"CASE WHEN id % 20 = 0 AND id > 50 THEN " +
      s"id - pmod(xxhash64(id, ${seed}L, 31), 50L) - 1 ELSE id END"
    val text = expr(s"concat_ws(' ', transform(sequence(1, int(pmod(xxhash64($src, ${seed}L, 32), " +
      s"113L) + 8)), i -> element_at(array(${words.map(w => s"'$w'").mkString(",")}), " +
      s"int(pmod(xxhash64($src, ${seed}L, 33, i), ${words.size}L)) + 1)))")
    val near = when(id % 20 === 1 && id > 50,
      regexp_replace(text, "^\\S+", "vector")).otherwise(text)
    add(spark.range(nDocs).select(id.as("doc_id"), near.as("text"),
      pick(seed, 34, id, Seq("en", "de", "fr", "es", "zh")).as("lang"),
      concat(lit("src"), u(seed, 35, id, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")
    val label = u(seed, 36, id, 10)
    val emb = expr("transform(sequence(0, 63), i -> float(" +
      s"(pmod(xxhash64(pmod(xxhash64(id, ${seed}L, 36), 10L), ${seed}L, 37, i), 2001L) - 1000) / 5000.0 + " +
      s"(pmod(xxhash64(id, ${seed}L, 38, i), 2001L) - 1000) / 20000.0))")
    add(spark.range(nDocs).select(id.as("vec_id"), emb.as("embedding"),
      label.cast("int").as("label")), "embeddings")
    writeAll(dir, tables.toSeq)
  }

  /** A 64-bit digest of every regular file under `dir`, in path order,
    * names excluded (Spark's part-file names carry a random id). */
  def digest(dir: Path): Long = {
    val s = Files.walk(dir)
    val files = try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .filterNot(p => p.getFileName.toString.startsWith(".") ||
        p.getFileName.toString.startsWith("_"))
      .sortBy(p => dir.relativize(p.getParent).toString)
      finally s.close()
    files.foldLeft(1469598103934665603L) { (acc, p) =>
      val b = Files.readAllBytes(p)
      var x = acc
      b.foreach { c => x = (x ^ (c & 0xff)) * 1099511628211L }
      x
    }
  }

  // ---- IoT landing files (the open-loop generator) -----------------------

  val Sensors: Seq[(String, String)] =
    Seq("temperature" -> "C", "pressure" -> "hPa", "humidity" -> "%", "motion" -> "bool")
  /** Raw quality flags; normalized good/suspect are admitted at silver. */
  val Flags: Seq[String] = Seq("good", "good", "good", " Good ", "suspect", "SUSPECT",
    "bad", "error")
  def admitted(flag: String): Boolean =
    Set("good", "suspect").contains(flag.trim.toLowerCase)

  final case class Event(device: String, location: String, tsMillis: Long,
      sensor: String, unit: String, flag: String, quarters: Long)

  /** File `i` of the landing stream: `n` events, Zipf(1.1)-skewed over
    * `nLoc` locations, timestamps up to 30 s out of order, values in
    * quarter units so sums are exact in binary. File 0's first row is
    * always admitted so every file moves gold. */
  def landingFile(seed: Long, i: Int, n: Int, nLoc: Int, t0Millis: Long): Seq[Event] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + i)
    val cdf = {
      val w = (1 to nLoc).map(k => 1.0 / math.pow(k, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    (0 until n).map { j =>
      val (sensor, unit) = Sensors(rnd.nextInt(Sensors.size))
      val x = rnd.nextDouble()
      val loc = cdf.indexWhere(_ >= x) match { case -1 => nLoc - 1; case k => k }
      Event(f"dev${rnd.nextInt(200)}%03d", f"loc$loc%03d",
        t0Millis + i * 100L - rnd.nextInt(30000), sensor, unit,
        if (j == 0) "good" else Flags(rnd.nextInt(Flags.size)),
        rnd.nextLong(-400, 4000))
    }
  }

  def json(e: Event): String = {
    val ts = java.time.Instant.ofEpochMilli(e.tsMillis).toString.replace("T", " ")
      .stripSuffix("Z")
    s"""{"device_id":"${e.device}","location_id":"${e.location}","timestamp":"$ts",""" +
      s""""sensor_type":"${e.sensor}","quality_flag":"${e.flag}","unit":"${e.unit}",""" +
      s""""value":${e.quarters / 4.0}}"""
  }

  /** Land a file atomically: write under a hidden name the file source
    * ignores, then rename into place. */
  def land(dir: Path, name: String, events: Seq[Event]): Unit = {
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, events.map(json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}
