package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.Lake

class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-lake").toString

  private def sample = Seq(
    (1L, "click", "2024-01-01", 1.0), (2L, "view", "2024-01-01", 2.0),
    (3L, "click", "2024-01-02", 3.0), (4L, "purchase", "2024-01-02", 4.0),
  ).toDF("event_id", "event_type", "day", "value")

  test("partitioned write prunes non-matching partitions at planning time") {
    val dir = tmp()
    Lake.writePartitioned(sample, dir, "event_type")
    val scan = Lake.readPartitioned(spark, dir).filter(col("event_type") === "click")
    assert(scan.count() == 2)
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    // data filter must NOT appear as a post-scan filter — pruning happens
    // before I/O, and only the matching directory is listed
    val scanned = scan.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(scanned.contains("event_type=click")
      || plan.contains("(event_type#"), plan)
  }

  test("bucketed tables join without any shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val facts = (1L to 1000L).map(i => (i % 100, i)).toDF("k", "v")
      val dims = (0L until 100L).map(i => (i, s"name$i")).toDF("k", "name")
      Lake.writeBucketed(facts, "lake_facts", "k", 8)
      Lake.writeBucketed(dims, "lake_dims", "k", 8)
      val joined = spark.table("lake_facts")
        .join(spark.table("lake_dims"), "k")
      assert(joined.count() == 1000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS lake_facts")
      spark.sql("DROP TABLE IF EXISTS lake_dims")
    }
  }

  test("bucketed groupBy on the bucket key aggregates without a shuffle") {
    try {
      val facts = (1L to 1000L).map(i => (i % 100, i)).toDF("k", "v")
      Lake.writeBucketed(facts, "lake_agg", "k", 8)
      val agg = spark.table("lake_agg").groupBy("k").agg(sum("v").as("s"))
      assert(agg.count() == 100)
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed aggregation must not shuffle:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS lake_agg")
  }

  test("schema evolution: mergeSchema unions old and new column sets") {
    val dir = tmp()
    Seq((1L, "a")).toDF("id", "old_col").write.parquet(s"$dir/p=1")
    Seq((2L, 3.5)).toDF("id", "new_col").write.parquet(s"$dir/p=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "old_col", "new_col", "p"))
    val rows = merged.orderBy("id")
      .select("id", "old_col", "new_col")
      .collect()
    assert(rows(0).getAs[String]("old_col") == "a" && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getAs[Double]("new_col") == 3.5)
  }

  test("evolving writes: adds null-fill, renames fold, guards refuse abuse") {
    val dir = tmp() + "/t"
    // v1: (id, amt int)
    assert(Lake.writeEvolving(spark,
      Seq((1L, 10), (2L, 20)).toDF("id", "amt"), dir) == 1L)
    // v2: amt renamed to amount (and widened int->long), tag added
    assert(Lake.writeEvolving(spark,
      Seq((3L, 30L, "x")).toDF("id", "amount", "tag"), dir,
      renames = Map("amt" -> "amount")) == 2L)
    assert(Lake.schemaVersions(spark, dir) == Seq(1L, 2L))
    val out = Lake.readEvolving(spark, dir).orderBy("id")
    // logical schema = latest version's columns, in its order
    assert(out.columns.toSeq == Seq("id", "amount", "tag"))
    val rows = out.collect()
    // era-1 rows carry their values under the NEW name, null for the add
    assert(rows.map(_.getLong(1)).toSeq == Seq(10L, 20L, 30L))
    assert(rows(0).isNullAt(2) && rows(1).isNullAt(2))
    assert(rows(2).getString(2) == "x")
    // guards: rename on first write, unknown source, type change in place
    intercept[IllegalArgumentException] {
      Lake.writeEvolving(spark, Seq(1L).toDF("id"), tmp() + "/t2",
        renames = Map("a" -> "b"))
    }
    intercept[IllegalArgumentException] {
      Lake.writeEvolving(spark, Seq((1L, 1L)).toDF("id", "zz"), dir,
        renames = Map("nope" -> "zz"))
    }
    intercept[IllegalArgumentException] {
      Lake.writeEvolving(spark,
        Seq((1L, "s", "t")).toDF("id", "amount", "tag"), dir)
    }
    // a RETIRED name may never return: the physical union still carries
    // its v1 entry and the fold would swallow the new column's data
    intercept[IllegalArgumentException] {
      Lake.writeEvolving(spark,
        Seq((9L, 9L, "x", 5L)).toDF("id", "amount", "tag", "amt"), dir)
    }
    // a silent DROP (column just omitted) is refused: the physical union
    // would keep its entry and a later re-add would resurrect old values
    intercept[IllegalArgumentException] {
      Lake.writeEvolving(spark, Seq((5L, 50L)).toDF("id", "amount"), dir)
    }
    // a rename target may not collide with a name an earlier version wrote
    intercept[IllegalArgumentException] {
      Lake.writeEvolving(spark, Seq((5L, 50L, "z")).toDF("id", "amount", "id2"),
        dir, renames = Map("tag" -> "id"))
    }
    // rename CHAIN across versions: v3 renames amount -> amount_c
    assert(Lake.writeEvolving(spark,
      Seq((4L, 40L, "y")).toDF("id", "amount_c", "tag"), dir,
      renames = Map("amount" -> "amount_c")) == 3L)
    val chained = Lake.readEvolving(spark, dir).orderBy("id")
    assert(chained.columns.toSeq == Seq("id", "amount_c", "tag"))
    assert(chained.collect().map(_.getLong(1)).toSeq == Seq(10L, 20L, 30L, 40L))
    // the evolving reader never pays a footer sweep: its scan schema is
    // manifest-built, so even a corrupt mergeSchema setting is irrelevant
    val scan = Lake.readEvolving(spark, dir).queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString
    assert(scan.contains("ReadSchema"), scan)
  }

  test("the first evolution of a table holding data refuses dropping its columns") {
    val dir = tmp() + "/t"
    Lake.writeVersioned(spark, Seq((1L, 10L)).toDF("id", "v"), dir)
    // the table's schema is the log's first version: omitting `v` is a drop
    val e = intercept[IllegalArgumentException](
      Lake.writeEvolving(spark, Seq((2L, "w")).toDF("id", "w"), dir))
    assert(e.getMessage.contains("column 'v'"), e.getMessage)
    assert(Lake.schemaVersions(spark, dir).isEmpty)
    assert(Lake.readVersioned(spark, dir).columns.toSeq == Seq("id", "v"))
    // carrying it evolves the table; the seeded version keeps its number
    assert(Lake.writeEvolving(spark, Seq((2L, 20L, "w")).toDF("id", "v", "w"),
      dir) == 2L)
    assert(Lake.schemaVersions(spark, dir) == Seq(1L, 2L))
    assert(Lake.readVersioned(spark, dir).orderBy("id").as[(Long, Long, String)]
      .collect().toSeq == Seq((1L, 10L, null), (2L, 20L, "w")))
    // a plain dir seeds its log the same way
    val plain = tmp() + "/p"
    Seq((1L, 10L)).toDF("id", "v").write.parquet(plain)
    intercept[IllegalArgumentException](
      Lake.writeEvolving(spark, Seq((2L, "w")).toDF("id", "w"), plain))
  }

  test("schema evolution widens int->long and float->double, refuses narrowing") {
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val dir = tmp() + "/t"
    // v1: amt int, ratio float
    Lake.writeEvolving(spark,
      Seq((1L, 10, 1.5f)).toDF("id", "amt", "ratio"), dir)
    // v2: both widened — values only a wide type can hold
    Lake.writeEvolving(spark,
      Seq((2L, 5000000000L, 2.5d)).toDF("id", "amt", "ratio"), dir)
    val out = Lake.readEvolving(spark, dir).orderBy("id")
    assert(out.schema("amt").dataType == LongType)
    assert(out.schema("ratio").dataType == DoubleType)
    val rows = out.collect()
    // era-1 values survive the up-cast exactly; era-2 needs the width
    assert(rows.map(_.getLong(1)).toSeq == Seq(10L, 5000000000L))
    assert(rows.map(_.getDouble(2)).toSeq == Seq(1.5d, 2.5d))
    // NARROWING refused (long -> int), cross-family refused (long -> double)
    intercept[IllegalArgumentException] {
      Lake.writeEvolving(spark, Seq((3L, 3, 3.5d)).toDF("id", "amt", "ratio"), dir)
    }
    intercept[IllegalArgumentException] {
      Lake.writeEvolving(spark,
        Seq((3L, 3.5d, 3.5d)).toDF("id", "amt", "ratio"), dir)
    }
    // widening composes with skipping: stats over the mixed-width eras
    Lake.writeStats(spark, dir, Seq("id"))
    val skim = Lake.readSkipping(spark, dir, Lake.skipRange("id", lit(1), lit(2)))
    assert(skim.schema("amt").dataType == LongType)
    assert(skim.filter(col("id") === 1L).select("amt").as[Long].head() == 10L)
  }

  test("compaction and skipping read evolved tables through the manifests") {
    val dir = tmp() + "/t"
    Lake.writeEvolving(spark,
      (1L to 40L).map(i => (i, i * 10)).toDF("id", "amt"), dir)
    Lake.writeEvolving(spark,
      (41L to 80L).map(i => (i, i * 10L, s"s$i")).toDF("id", "amount", "tag"),
      dir, renames = Map("amt" -> "amount"))
    val before = Lake.readEvolving(spark, dir).orderBy("id")
      .collect().map(_.toString).toSeq
    // stats over the LOGICAL column work across both physical eras
    Lake.writeStats(spark, dir, Seq("id"))
    val skim = Lake.readSkipping(spark, dir, Lake.skipRange("id", lit(1), lit(45)))
    assert(skim.columns.toSeq == Seq("id", "amount", "tag"))
    assert(skim.filter(col("id") === 30L).select("amount")
      .as[Long].head() == 300L, "pre-rename era must fold through the subset read")
    // the fold must rewrite through the schema log — a footer-bound read
    // would silently drop one era's columns — and carry the log along
    val nb = Lake.readVersioned(spark, dir).inputFiles.length
    Lake.optimizeVersioned(spark, dir, targetFileBytes = 1L << 20)
    val na = Lake.readVersioned(spark, dir).inputFiles.length
    assert(na < nb, s"expected a rewrite, got $nb -> $na")
    assert(Lake.schemaVersions(spark, dir).nonEmpty)
    val after = Lake.readEvolving(spark, dir).orderBy("id")
      .collect().map(_.toString).toSeq
    assert(after == before, "compaction changed the evolved table's content")
    // the regenerated stats manifest still answers metadata counts
    assert(Lake.rowCountFromManifest(spark, dir).contains(80L))
  }

  test("appendStats covers only new files and matches a full rebuild") {
    val dir = tmp() + "/t"
    def rows(r: Seq[Int]) = r.map(i => (f"$i%06d", i.toLong)).toDF("k", "v")
    rows(1 to 1000).repartitionByRange(4, col("k")).write.parquet(dir)
    Lake.writeStats(spark, dir, Seq("k"))
    rows(1001 to 1200).coalesce(1).write.mode("append").parquet(dir)
    rows(1201 to 1300).coalesce(1).write.mode("append").parquet(dir)
    // exactly the two appended files get fresh manifest rows
    assert(Lake.appendStats(spark, dir, Seq("k")) == 2L)
    assert(Lake.appendStats(spark, dir, Seq("k")) == 0L) // idempotent
    // the merged manifest answers metadata counts and skips like a full
    // rebuild would
    assert(Lake.rowCountFromManifest(spark, dir).contains(1300L))
    val probed = Lake.readLookup(spark, dir, Seq(f"${1250}%06d").toDF("k"))
      .select("k", "v").collect().map(_.toString).sorted.toSeq
    Lake.writeStats(spark, dir, Seq("k")) // full rebuild, same data
    val rebuilt = Lake.readLookup(spark, dir, Seq(f"${1250}%06d").toDF("k"))
      .select("k", "v").collect().map(_.toString).sorted.toSeq
    assert(probed == rebuilt && probed.nonEmpty)
  }

  test("appendStats keeps bounds for EVERY tracked column, not the subset asked") {
    val dir = tmp() + "/t"
    def rows(r: Seq[Int]) = r.map(i => (f"$i%06d", f"${i * 3}%06d")).toDF("k", "k2")
    rows(1 to 400).repartitionByRange(4, col("k")).write.parquet(dir)
    Lake.writeStats(spark, dir, Seq("k", "k2")) // two tracked columns
    rows(401 to 450).coalesce(1).write.mode("append").parquet(dir)
    assert(Lake.appendStats(spark, dir, Seq("k")) == 1L) // asks for one
    // both columns still prune after the append — the merged manifest
    // must carry k2's bounds for every file (old and fresh)
    val (kk, _) = Lake.probeDataFiles(spark, dir, "k", Seq(f"${50}%06d"))
    val (k2, t2) = Lake.probeDataFiles(spark, dir, "k2", Seq(f"${150}%06d"))
    assert(kk.nonEmpty && k2.nonEmpty && k2.size < t2, s"${k2.size}/$t2")
  }

  test("compactStats folds N append manifests to one file, pruning identical") {
    val dir = tmp() + "/t"
    def rows(r: Seq[Int]) = r.map(i => (f"$i%06d", i.toLong)).toDF("k", "v")
    rows(1 to 400).repartitionByRange(4, col("k")).write.parquet(dir)
    Lake.writeStats(spark, dir, Seq("k"))
    for (b <- 0 until 5) {
      rows(401 + b * 10 to 410 + b * 10).coalesce(1)
        .write.mode("append").parquet(dir)
      assert(Lake.appendStats(spark, dir, Seq("k")) == 1L)
    }
    def statsFiles() = new java.io.File(dir, "_graft_stats").listFiles()
      .count(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
    assert(statsFiles() == 6) // base rebuild + 5 per-admit appends
    val probe = Seq(f"${105}%06d", f"${425}%06d")
    val (k1, t1) = Lake.probeDataFiles(spark, dir, "k", probe)
    val (nb, na) = Lake.compactStats(spark, dir)
    assert(nb == 6 && na == 1, s"$nb -> $na")
    assert(statsFiles() == 1)
    // identical pruning decisions and metadata counts after the fold
    val (k2, t2) = Lake.probeDataFiles(spark, dir, "k", probe)
    assert(k1.toSet == k2.toSet && t1 == t2 && k1.nonEmpty)
    assert(Lake.rowCountFromManifest(spark, dir).contains(450L))
    // idempotent: an already-compact manifest is untouched
    assert(Lake.compactStats(spark, dir) == (1L, 1L))
  }

  test("probe pruning refuses numeric stats bounds (lexicographic hazard)") {
    val dir = tmp() + "/t"
    (1L to 100L).map(i => (i, i)).toDF("id", "v")
      .repartitionByRange(4, col("id")).write.parquet(dir)
    Lake.writeStats(spark, dir, Seq("id"))
    val e = intercept[IllegalArgumentException] {
      Lake.probeDataFiles(spark, dir, "id", Seq("20"))
    }
    assert(e.getMessage.contains("skipRange"), e.getMessage)
  }

  test("rerange restores probe pruning after appends span the key range") {
    val dir = tmp() + "/t"
    def rows(r: Seq[Int]) = r.map(i => (f"$i%06d", i.toLong)).toDF("k", "v")
    rows(1 to 4000).repartitionByRange(8, col("k")).write.parquet(dir)
    Lake.writeStats(spark, dir, Seq("k"))
    val probes = Seq(f"${77}%06d")
    val (k1, t1) = Lake.probeDataFiles(spark, dir, "k", probes)
    assert(k1.size == 1 && t1 == 8, s"${k1.size}/$t1")
    // an admitted batch lands as ONE file spanning the whole key range:
    // the probe now hits it too — pruning degrades, correctness doesn't
    rows(1 to 4000 by 97).coalesce(1).write.mode("append").parquet(dir)
    Lake.writeStats(spark, dir, Seq("k"))
    val (k2, _) = Lake.probeDataFiles(spark, dir, "k", probes)
    assert(k2.size == 2, s"append should degrade pruning: ${k2.size}")
    val before = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    // the plain table's 9 files become version 1, the re-range version 2
    val (v, na) = Lake.rerangeVersioned(spark, dir, "k", targetFileRows = 550)
    val nb = Lake.readVersioned(spark, dir, Some(1L)).inputFiles.length
    assert(v == 2L && nb == 9 && na == 8, s"v$v: $nb -> $na")
    // tight bounds restored; content byte-identical
    val (k3, _) = Lake.probeDataFiles(spark, dir, "k", probes)
    assert(k3.size == 1, s"rerange should restore pruning: ${k3.size}")
    assert(Lake.readVersioned(spark, dir).collect().map(_.toString).sorted.toSeq ==
      before)
  }

  test("rerange on an evolved table folds eras and keeps the manifests") {
    val dir = tmp() + "/t"
    Lake.writeEvolving(spark,
      (1L to 100L).map(i => (f"$i%06d", i)).toDF("k", "amt"), dir)
    Lake.writeEvolving(spark,
      (101L to 200L).map(i => (f"$i%06d", i, s"s$i")).toDF("k", "amount", "tag"),
      dir, renames = Map("amt" -> "amount"))
    val before = Lake.readEvolving(spark, dir).orderBy("k")
      .collect().map(_.toString).toSeq
    Lake.rerangeVersioned(spark, dir, "k", targetFileRows = 50)
    assert(Lake.schemaVersions(spark, dir).nonEmpty, "schema log lost")
    val after = Lake.readEvolving(spark, dir).orderBy("k")
      .collect().map(_.toString).toSeq
    assert(after == before, "rerange changed the evolved table's content")
    // the rewritten layout prunes on the rename-folded LOGICAL column set
    val (kept, total) = Lake.probeDataFiles(spark, dir, "k", Seq(f"${7}%06d"))
    assert(kept.size == 1 && total >= 4, s"${kept.size}/$total")
  }

  private def dataFileCount(dir: String): Int =
    new java.io.File(dir).listFiles().count(f => f.isFile &&
      !f.getName.startsWith("_") && !f.getName.startsWith("."))

  test("compaction folds small files to the target size, reads identical") {
    val dir = tmp() + "/t"
    val df = spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
    df.repartition(20).write.parquet(dir)
    assert(dataFileCount(dir) == 20)
    val before = spark.read.parquet(dir).collect().toSet
    val (nBefore, nAfter) = Lake.compact(spark, dir, targetFileBytes = 1L << 20)
    assert(nBefore == 20 && nAfter < 20, s"$nBefore -> $nAfter")
    assert(dataFileCount(dir) == nAfter)
    assert(spark.read.parquet(dir).collect().toSet == before)
    // idempotent: an already-compact dir is not rewritten
    assert(Lake.compact(spark, dir, targetFileBytes = 1L << 20)
      == (nAfter, nAfter))
  }

  test("compaction preserves hive partition layout and pruning") {
    val dir = tmp() + "/t"
    val df = spark.range(4000)
      .select(col("id"), (col("id") % 3).as("p"), (col("id") * 2).as("v"))
    df.repartition(10).write.partitionBy("p").parquet(dir)
    val before = spark.read.parquet(dir).collect().toSet
    val (nBefore, nAfter) = Lake.compact(spark, dir, targetFileBytes = 1L << 20)
    assert(nBefore == 30 && nAfter == 3, s"$nBefore -> $nAfter") // one per leaf
    assert(spark.read.parquet(dir).collect().toSet == before)
    val pruned = spark.read.parquet(dir).filter(col("p") === 1)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    // partition values come back int-inferred from the dir names
    assert(pruned.count() == before.count(_.getAs[Number]("p").longValue == 1L))
  }

  test("compaction refuses a live streaming-sink dir unless frozen") {
    val dir = tmp() + "/t"
    spark.range(100).repartition(5).write.parquet(dir)
    Files.createDirectory(java.nio.file.Paths.get(dir, "_spark_metadata"))
    intercept[IllegalArgumentException] { Lake.compact(spark, dir, 1L << 20) }
    val (nBefore, nAfter) =
      Lake.compact(spark, dir, 1L << 20, dropStreamingMetadata = true)
    assert(nBefore == 5 && nAfter == 1)
    assert(!new java.io.File(dir, "_spark_metadata").exists())
  }

  test("lake lifecycle: stream sink -> freeze -> compact -> manifest -> skip") {
    // The full small-file story end-to-end: a streaming sink accretes one
    // file per micro-batch; freezing + compacting folds them; the manifest
    // then lets a range read skip whole files. Each piece is tested alone
    // above — this pins that they COMPOSE (freeze drops the sink log
    // before compaction, stats run on the compacted layout, the skipped
    // read sees exactly the streamed rows).
    val root = tmp()
    val (srcDir, outDir, ckpt) = (root + "/src", root + "/out", root + "/ck")
    new java.io.File(srcDir).mkdirs()
    import spark.implicits._
    // three micro-batches of 100 rows each, ids disjoint and ordered
    for (b <- 0 until 3) {
      (b * 100 until (b + 1) * 100).map(i => (i.toLong, s"r$i"))
        .toDF("id", "payload").coalesce(1)
        .write.json(s"$srcDir/batch$b.json")
      val q = spark.readStream
        .schema("id LONG, payload STRING").json(s"$srcDir/*")
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(new java.io.File(outDir, "_spark_metadata").exists())
    assert(dataFileCount(outDir) >= 3)
    val (nBefore, nAfter) =
      Lake.compact(spark, outDir, 1L << 20, dropStreamingMetadata = true)
    assert(nAfter < nBefore)
    assert(Lake.writeStats(spark, outDir, Seq("id")) == nAfter)
    val skipped = Lake.readSkipping(spark, outDir,
      Lake.skipRange("id", lit(0), lit(299)))
    assert(skipped.count() == 300)
    assert(skipped.agg(sum(col("id"))).head().getLong(0) == 299L * 300 / 2)
  }

  test("data skipping prunes files by min/max, reads stay identical") {
    val dir = tmp() + "/t"
    // range layout gives each file a tight id interval — the write-time
    // locality the manifest exploits
    spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
      .repartitionByRange(10, col("id")).write.parquet(dir)
    assert(Lake.writeStats(spark, dir, Seq("id")) == 10)
    val skipped = Lake.readSkipping(spark, dir,
      Lake.skipRange("id", lit(2500), lit(2600)))
    // the skip is a superset guarantee, not a filter: re-apply the
    // predicate and compare against the unskipped read
    val got = skipped.filter(col("id").between(2500, 2600)).collect().toSet
    val want = spark.read.parquet(dir)
      .filter(col("id").between(2500, 2600)).collect().toSet
    assert(got == want && want.size == 101)
    assert(skipped.inputFiles.length < 10,
      s"no files were skipped: ${skipped.inputFiles.length}")
    // empty intersection → zero files, empty frame, same schema
    val none = Lake.readSkipping(spark, dir,
      Lake.skipRange("id", lit(50000), lit(60000)))
    assert(none.isEmpty && none.schema == skipped.schema)
  }

  test("bloom index prunes hash-clustered files; never a false negative") {
    val dir = tmp() + "/t"
    // HASH layout: every file spans the whole id domain, so min/max stats
    // are provably useless here — exactly the case the bloom index serves
    spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(16, col("id")).write.parquet(dir)
    assert(Lake.writeBloomIndex(spark, dir, "id", expectedPerFile = 1000L) == 16L)
    // min/max keeps every file on this layout (sanity: the bloom index is
    // not redundant with stats)
    Lake.writeStats(spark, dir, Seq("id"))
    val ranged = Lake.readSkipping(spark, dir,
      Lake.skipRange("id", lit(42), lit(42)))
    assert(ranged.inputFiles.length == 16,
      "hash layout should defeat min/max skipping entirely")
    val ids = Seq(42L, 4242L, 9999L)
    val probes = ids.toDF("id")
    val (kept, total) = Lake.bloomProbeFiles(spark, dir, "id", probes)
    assert(total == 16)
    assert(kept.size < total, s"bloom pruned nothing: $kept")
    // no false negatives: every file that truly holds a probe is kept
    val holding = spark.read.parquet(dir).filter(col("id").isin(ids: _*))
      .select(input_file_name()).distinct().collect()
      .map(r => new java.net.URI(r.getString(0)).getPath).toSet
    assert(holding.subsetOf(kept.toSet),
      s"false negative: ${holding -- kept.toSet}")
    // superset guarantee: pruned read + equality filter == full scan
    val got = Lake.readLookup(spark, dir, probes)
      .filter(col("id").isin(ids: _*)).collect().toSet
    val want = spark.read.parquet(dir)
      .filter(col("id").isin(ids: _*)).collect().toSet
    assert(got == want && want.size == 3)
    // probe set over the cap degrades to the full read, never refuses
    val (keptAll, t2) = Lake.bloomProbeFiles(spark, dir, "id",
      spark.range(100).toDF("id"), maxProbes = 10)
    assert(keptAll.size == t2 && t2 == 16)
  }

  test("bloom index: stale refusal, incremental append, all-null files") {
    val dir = tmp() + "/t"
    (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
      .repartition(4, col("id")).write.parquet(dir)
    assert(Lake.appendBloomIndex(spark, dir, "id") == 4L) // no index → full build
    assert(Lake.appendBloomIndex(spark, dir, "id") == 0L) // fully covered
    // a fresh file lands: the index must REFUSE (stale) rather than skip it
    (101L to 120L).map(i => (i, s"v$i")).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(dir)
    val probe = Seq(110L).toDF("id")
    val e = intercept[IllegalArgumentException] {
      Lake.bloomProbeFiles(spark, dir, "id", probe)
    }
    assert(e.getMessage.contains("appendBloomIndex"), e.getMessage)
    // incremental repair sketches ONLY the fresh file, then finds the row
    assert(Lake.appendBloomIndex(spark, dir, "id") == 1L)
    val got = Lake.readLookup(spark, dir, probe)
      .filter(col("id") === 110L).select("v").as[String].collect().toSeq
    assert(got == Seq("v110"))
    // an ALL-NULL file still gets covered (no eternal staleness) and is
    // provably probe-free → prunable
    Seq((null.asInstanceOf[java.lang.Long], "n1"))
      .toDF("id", "v").write.mode("append").parquet(dir)
    assert(Lake.appendBloomIndex(spark, dir, "id") == 1L)
    val (kept, total) = Lake.bloomProbeFiles(spark, dir, "id", probe)
    assert(total == 6 && kept.size <= 5,
      s"all-null file must be prunable: kept ${kept.size} of $total")
  }

  test("compactBloomIndex folds append manifests; probes identical; dead rows dropped") {
    val dir = tmp() + "/t"
    def rows(r: Range) = r.map(i => (i.toLong, s"v$i")).toDF("id", "v")
    Lake.writeVersioned(spark, rows(1 to 200).repartition(3, col("id")), dir)
    Lake.writeBloomIndex(spark, dir, "id")
    // four commits → four append-*.json manifests via the keep-alive hook
    (1 to 4).foreach(i =>
      Lake.appendVersioned(spark,
        rows((200 + i * 10) to (209 + i * 10)).coalesce(1), dir))
    val probe = Seq(5L, 225L).toDF("id")
    val before = Lake.bloomProbeFiles(spark, dir, "id", probe)
    val (nb, na) = Lake.compactBloomIndex(spark, dir, "id")
    assert(na == 1L && nb >= 5L, s"$nb -> $na")
    // identical pruning decisions after the fold
    val after = Lake.bloomProbeFiles(spark, dir, "id", probe)
    assert(after._1.toSet == before._1.toSet && after._2 == before._2)
    // a delete + vacuum kills files physically; compaction drops their
    // rows but keeps coverage of everything still current
    Lake.deleteWhere(spark, dir, col("id") <= 100L)
    Lake.vacuum(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    val rowsBefore = spark.read.json(s"$dir/_graft_bloom/id").count()
    Lake.compactBloomIndex(spark, dir, "id")
    assert(spark.read.json(s"$dir/_graft_bloom/id").count() < rowsBefore,
      "vacuumed files' manifest rows were not dropped")
    val got = Lake.readLookup(spark, dir, Seq(150L).toDF("id"))
      .filter(col("id") === 150L).count()
    assert(got == 1L)
  }

  test("manifest self-folding bounds bloom/stats append-file counts") {
    val dir = tmp() + "/t"
    def one(i: Int) = Seq((i.toLong, s"v$i")).toDF("id", "v")
    one(0).coalesce(1).write.parquet(dir)
    Lake.writeBloomIndex(spark, dir, "id")
    Lake.writeStats(spark, dir, Seq("id"))
    def files(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .count(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
    // 70 incremental maintenance rounds would accrete 70 append files
    // each without the fold; the threshold bounds both manifests
    for (i <- 1 to 70) {
      one(i).coalesce(1).write.mode("append").parquet(dir)
      Lake.appendBloomIndex(spark, dir, "id")
      Lake.appendStats(spark, dir, Seq("id"))
      assert(files("_graft_bloom/id") <= 65, s"round $i: bloom manifest unbounded")
      assert(files("_graft_stats") <= 65, s"round $i: stats manifest unbounded")
    }
    // correctness unchanged through the folds
    val got = Lake.readLookup(spark, dir, Seq(37L).toDF("id"))
      .filter(col("id") === 37L).select("v").as[String].collect().toSeq
    assert(got == Seq("v37"))
    assert(Lake.rowCountFromManifest(spark, dir).contains(71L))
  }

  test("bloom skipping on a versioned table never resurrects deleted rows") {
    val dir = tmp() + "/t"
    val base = (1L to 200L).map(i => (i, i % 5)).toDF("id", "g")
      .repartition(4, col("id"))
    Lake.writeVersioned(spark, base, dir)
    Lake.writeBloomIndex(spark, dir, "id")
    val (removed, _) = Lake.deleteWhere(spark, dir, col("id") === 42L)
    assert(removed >= 1L)
    // the delete rewrote files, and the commit hook auto-refreshed the
    // index over the rewrites (same keep-alive invariant as _graft_stats)
    // — NO manual repair step, and the deleted key must stay gone
    assert(Lake.appendBloomIndex(spark, dir, "id") == 0L,
      "commit hook should have covered the rewrites already")
    val got = Lake.readLookup(spark, dir, Seq(42L).toDF("id"))
      .filter(col("id") === 42L)
    assert(got.isEmpty, "bloom read resurrected a deleted row")
    // a surviving key still resolves through the repaired index
    val live = Lake.readLookup(spark, dir, Seq(41L).toDF("id"))
      .filter(col("id") === 41L)
    assert(live.count() == 1L)
  }

  test("composed lookup intersects stats and bloom prunes; each alone is looser") {
    val dir = tmp() + "/t"
    // range layout on a ZERO-PADDED string key: stats bounds are tight
    // per file AND the bloom can still discriminate within a range
    val rows = (1 to 2000).map(i => (f"$i%06d", i.toLong)).toDF("k", "v")
    rows.repartitionByRange(10, col("k")).write.parquet(dir)
    Lake.writeStats(spark, dir, Seq("k"))
    Lake.writeBloomIndex(spark, dir, "k", expectedPerFile = 500L)
    val probes = Seq(f"${42}%06d", f"${1777}%06d").toDF("k")
    val (both, total) = Lake.lookupFiles(spark, dir, probes)
    val (statsOnly0, _) = Lake.probeDataFiles(spark, dir, "k",
      Seq(f"${42}%06d", f"${1777}%06d"))
    // compare in the scheme-less identity lookupFiles uses
    val statsOnly = statsOnly0.map(f => new java.net.URI(f).getPath)
    val (bloomOnly, _) = Lake.bloomProbeFiles(spark, dir, "k", probes)
    assert(total == 10)
    assert(both.toSet.subsetOf(statsOnly.toSet), "intersection ⊄ stats prune")
    assert(both.toSet.subsetOf(bloomOnly.toSet), "intersection ⊄ bloom prune")
    assert(both.size <= 2 && both.nonEmpty, s"kept ${both.size} of $total")
    // superset contract end-to-end
    val got = Lake.readLookup(spark, dir, probes)
      .filter(col("k").isin(f"${42}%06d", f"${1777}%06d"))
      .collect().toSet
    val want = spark.read.parquet(dir)
      .filter(col("k").isin(f"${42}%06d", f"${1777}%06d"))
      .collect().toSet
    assert(got == want && want.size == 2)
    // numeric-stats table: the stats index is UNSOUND for lexicographic
    // probes — with a bloom present the lookup quietly uses bloom only
    val dir2 = tmp() + "/t2"
    spark.range(1000).select(col("id"), (col("id") % 3).as("g"))
      .repartition(8, col("id")).write.parquet(dir2)
    Lake.writeStats(spark, dir2, Seq("id"))
    Lake.writeBloomIndex(spark, dir2, "id", expectedPerFile = 200L)
    val (kept2, total2) = Lake.lookupFiles(spark, dir2,
      Seq(77L).toDF("id"))
    assert(total2 == 8 && kept2.size < 8, s"kept ${kept2.size}")
    // …and with ONLY numeric stats it refuses loudly (skipRange is the
    // sound path there), never prunes wrong
    val dir3 = tmp() + "/t3"
    spark.range(100).toDF("id").repartition(2).write.parquet(dir3)
    Lake.writeStats(spark, dir3, Seq("id"))
    intercept[IllegalArgumentException] {
      Lake.lookupFiles(spark, dir3, Seq(5L).toDF("id"))
    }
  }

  test("multi-column bloom lookup: per-column verdicts AND to a tighter prune") {
    val dir = tmp() + "/t"
    // 2-D grid layout: file (i, j) holds exactly rows with a % 4 = i and
    // b % 4 = j, so EACH column's bloom keeps 4 of 16 files and only the
    // intersection pins the single file holding (a, b) — the user_id+day
    // point-lookup shape a single-column probe cannot serve
    val rows = spark.range(4000).select(
      col("id"), (col("id") % 64).as("a"),
      floor(col("id") / 64).cast("long").as("b"))
      .withColumn("bucket", (col("a") % 4) * 4 + col("b") % 4)
    // repartition on bucket first: one task per bucket value, so each
    // partition dir holds exactly one data file (16 total, not one file
    // per input task per dir)
    rows.repartition(16, col("bucket")).write.partitionBy("bucket").parquet(dir)
    Lake.writeBloomIndex(spark, dir, "a", expectedPerFile = 300L)
    Lake.writeBloomIndex(spark, dir, "b", expectedPerFile = 300L)
    val probes = Seq((5L, 10L)).toDF("a", "b")
    val (aOnly, totalA) = Lake.bloomProbeFiles(spark, dir, "a", probes.select("a"))
    val (bOnly, totalB) = Lake.bloomProbeFiles(spark, dir, "b", probes.select("b"))
    val (both, total) = Lake.lookupFiles(spark, dir, probes)
    assert(total == 16 && totalA == 16 && totalB == 16)
    assert(aOnly.size == 4 && bOnly.size == 4,
      s"single-column prunes: a=${aOnly.size}, b=${bOnly.size}")
    assert(both.toSet == aOnly.toSet.intersect(bOnly.toSet),
      "multi prune must be the intersection of the per-column verdicts")
    assert(both.size == 1, s"expected the one (a%4, b%4) grid file, got $both")
    // superset contract end-to-end: pruned read + filters == full scan
    val got = Lake.readLookup(spark, dir, probes)
      .filter(col("a") === 5L && col("b") === 10L).select("id").collect().toSet
    val want = spark.read.parquet(dir)
      .filter(col("a") === 5L && col("b") === 10L).select("id").collect().toSet
    assert(got == want && want.nonEmpty)
    // on this bloom-only table a probe column with no bloom is skipped
    // (the indexed columns still prune), and a fully unindexed probe set
    // refuses loudly
    val (withUnindexed, _) = Lake.lookupFiles(spark, dir,
      probes.withColumn("zz", lit(1L)))
    assert(withUnindexed.toSet == both.toSet,
      "an unindexed extra column must not change the bloom-only prune")
    intercept[IllegalArgumentException] {
      Lake.lookupFiles(spark, dir, Seq(1L).toDF("zz"))
    }
    // a probe frame past the cap weakens the prune to every file and
    // never breaks the read
    val (capped, totalCapped) = Lake.lookupFiles(spark, dir, probes, maxProbes = 0)
    assert(capped.size == 16 && totalCapped == 16, s"kept ${capped.size}")
    val gotCapped = Lake.readLookup(spark, dir, probes, maxProbes = 0)
      .filter(col("a") === 5L && col("b") === 10L).select("id").collect().toSet
    assert(gotCapped == want)
  }

  test("WAP: stage is invisible, audit sees the union, publish folds it in") {
    val dir = tmp() + "/t"
    Lake.writeVersioned(spark, (1L to 10L).map(i => (i, i * 2)).toDF("k", "v"), dir)
    val batch = (11L to 15L).map(i => (i, i * 2)).toDF("k", "v")
    val id = Lake.stageAppend(spark, batch, dir)
    // no reader impact: the published table is exactly the pre-stage state
    assert(Lake.readVersioned(spark, dir).count() == 10)
    assert(Lake.listStaged(spark, dir) == Seq(id))
    // audit surfaces: batch-only and would-be-union reads
    assert(Lake.readStagedBatch(spark, dir, id).count() == 5)
    assert(Lake.readStaged(spark, dir, id).count() == 15)
    val v = Lake.publishStaged(spark, dir, id)
    assert(Lake.readVersioned(spark, dir).count() == 15)
    assert(Lake.listStaged(spark, dir).isEmpty)
    // publish is a normal commit: time travel to the pre-publish version
    assert(Lake.readVersioned(spark, dir, Some(v - 1)).count() == 10)
  }

  test("WAP: abort leaves zero trace; constraint gate refuses but keeps the stage") {
    val dir = tmp() + "/t"
    Lake.writeVersioned(spark, (1L to 10L).map(i => (i, i * 2)).toDF("k", "v"), dir)
    Lake.addCheckConstraint(spark, dir, "v_nonneg", "v >= 0")
    val before = Lake.readVersioned(spark, dir).orderBy("k")
      .collect().map(_.toString).toSeq
    // a violating batch STAGES fine (that's the point of WAP: land first,
    // audit before anyone sees it) …
    val bad = Seq((99L, -5L)).toDF("k", "v")
    val id = Lake.stageAppend(spark, bad, dir)
    // … but the publish gate refuses, and the stage survives for
    // inspection instead of half-committing
    val e = intercept[IllegalArgumentException] {
      Lake.publishStaged(spark, dir, id)
    }
    assert(e.getMessage.contains("v_nonneg"), e.getMessage)
    assert(Lake.listStaged(spark, dir) == Seq(id))
    Lake.abortStaged(spark, dir, id)
    assert(Lake.listStaged(spark, dir).isEmpty)
    assert(Lake.readVersioned(spark, dir).orderBy("k")
      .collect().map(_.toString).toSeq == before)
    // the claimed dir was reclaimed outright
    assert(!new java.io.File(s"$dir/v=${id.stripPrefix("stage")}").exists())
  }

  test("WAP: staged batches survive vacuum and rebase over concurrent appends") {
    val dir = tmp() + "/t"
    Lake.writeVersioned(spark, (1L to 10L).map(i => (i, i * 2)).toDF("k", "v"), dir)
    val id = Lake.stageAppend(spark, Seq((90L, 1L)).toDF("k", "v"), dir)
    // churn some versions, then vacuum with a ZERO grace window — without
    // the staged-marker live root this would reap the staged files as
    // crash orphans
    Lake.appendVersioned(spark, Seq((50L, 1L)).toDF("k", "v"), dir)
    Lake.appendVersioned(spark, Seq((51L, 1L)).toDF("k", "v"), dir)
    Lake.vacuum(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    assert(Lake.readStagedBatch(spark, dir, id).count() == 1,
      "vacuum reclaimed a staged batch")
    // publish after concurrent appends: append-commuting rebase — both
    // the concurrent rows and the staged row land
    Lake.publishStaged(spark, dir, id)
    val ks = Lake.readVersioned(spark, dir).select("k")
      .as[Long].collect().toSet
    assert(ks.contains(90L) && ks.contains(50L) && ks.contains(51L))
    assert(ks.size == 13)
  }

  test("WAP: a stage publishes exactly once — double calls, races, replays, crashes") {
    val dir = tmp() + "/t"
    Lake.writeVersioned(spark, (1L to 10L).map(i => (i, i)).toDF("k", "v"), dir)
    // sequential double publish: second call refuses, rows appear once
    val id1 = Lake.stageAppend(spark, Seq((11L, 11L)).toDF("k", "v"), dir)
    Lake.publishStaged(spark, dir, id1)
    val e1 = intercept[IllegalArgumentException] {
      Lake.publishStaged(spark, dir, id1)
    }
    assert(e1.getMessage.contains("no staged batch"), e1.getMessage)
    assert(Lake.readVersioned(spark, dir).filter(col("k") === 11L).count() == 1)
    // TRUE RACE: two threads fold the same stage — the claim rename lets
    // exactly one through; a lost race must refuse, never duplicate
    val id2 = Lake.stageAppend(spark, Seq((12L, 12L)).toDF("k", "v"), dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val results = try {
      import scala.jdk.CollectionConverters._
      pool.invokeAll(Seq(
        (() => scala.util.Try(Lake.publishStaged(spark, dir, id2))): java.util.concurrent.Callable[scala.util.Try[Long]],
        (() => scala.util.Try(Lake.publishStaged(spark, dir, id2))): java.util.concurrent.Callable[scala.util.Try[Long]],
      ).asJava).asScala.map(_.get()).toSeq
    } finally pool.shutdown()
    assert(results.count(_.isSuccess) == 1, results.toString)
    assert(Lake.readVersioned(spark, dir).filter(col("k") === 12L).count() == 1)
    // micro-batch REPLAY: same streamBatchId arrives again (fresh stage);
    // the gate aborts the redundant stage and returns the head unchanged
    val id3 = Lake.stageAppend(spark, Seq((13L, 13L)).toDF("k", "v"), dir)
    val v3 = Lake.publishStaged(spark, dir, id3, streamBatchId = Some(77L))
    val id3b = Lake.stageAppend(spark, Seq((13L, 13L)).toDF("k", "v"), dir)
    assert(Lake.publishStaged(spark, dir, id3b, streamBatchId = Some(77L)) == v3)
    assert(Lake.listStaged(spark, dir).isEmpty, "replayed stage not aborted")
    assert(Lake.readVersioned(spark, dir).filter(col("k") === 13L).count() == 1)
    // crash BEFORE the manifest landed: marker claimed, publisher died.
    // A blind publish call must REFUSE (it can't tell dead from
    // in-flight); the operator's explicit recovery hands the stage back
    val id4 = Lake.stageAppend(spark, Seq((14L, 14L)).toDF("k", "v"), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker4 = new org.apache.hadoop.fs.Path(dir, s"_graft_staged/$id4.json")
    val claim4 = new org.apache.hadoop.fs.Path(dir, s"_graft_staged/.$id4.publishing")
    assert(fs.rename(marker4, claim4))
    val e4 = intercept[IllegalArgumentException] {
      Lake.publishStaged(spark, dir, id4)
    }
    assert(e4.getMessage.contains("recoverStagedPublish"), e4.getMessage)
    Lake.recoverStagedPublish(spark, dir, id4)
    Lake.publishStaged(spark, dir, id4)
    assert(Lake.readVersioned(spark, dir).filter(col("k") === 14L).count() == 1)
    assert(!fs.exists(claim4))
    // crash AFTER the manifest landed (cleanup lost): a leftover claim
    // whose entries are already at the head reconciles without refolding
    val id5 = Lake.stageAppend(spark, Seq((15L, 15L)).toDF("k", "v"), dir)
    val marker5 = new org.apache.hadoop.fs.Path(dir, s"_graft_staged/$id5.json")
    val content5 = {
      val in = fs.open(marker5)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    Lake.publishStaged(spark, dir, id5)
    val claim5 = new org.apache.hadoop.fs.Path(dir, s"_graft_staged/.$id5.publishing")
    val out = fs.create(claim5, true)
    out.write(content5.getBytes("UTF-8")); out.close()
    Lake.publishStaged(spark, dir, id5) // reconcile, no refold
    assert(!fs.exists(claim5))
    assert(Lake.readVersioned(spark, dir).filter(col("k") === 15L).count() == 1)
  }

  test("WAP: publish refuses when the schema drifted since staging") {
    val dir = tmp() + "/t"
    Lake.writeVersioned(spark, (1L to 5L).map(i => (i, i * 2)).toDF("k", "v"), dir)
    val id = Lake.stageAppend(spark, Seq((10L, 20L)).toDF("k", "v"), dir)
    // a drifting append lands between stage and publish
    Lake.appendVersioned(spark,
      Seq((6L, 12L, "x")).toDF("k", "v", "tag"), dir)
    val e = intercept[IllegalArgumentException] {
      Lake.publishStaged(spark, dir, id)
    }
    assert(e.getMessage.contains("restage"), e.getMessage)
    Lake.abortStaged(spark, dir, id)
    assert(Lake.listStaged(spark, dir).isEmpty)
  }

  test("stats pruning joins URL-encoded paths: a space in the dir still prunes") {
    // input_file_name URL-encodes ('%20' for the space below) while
    // candidate paths are URI.getPath-decoded; the normalization must
    // percent-decode or these files silently lose pruning forever
    val dir = tmp() + "/sp ace"
    spark.range(1000).select(col("id"))
      .repartitionByRange(10, col("id")).write.parquet(dir)
    assert(Lake.writeStats(spark, dir, Seq("id")) == 10)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val abs0 = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.toUri.getPath)
    val kept = Lake.pruneCandidatesWithStats(spark,
      new org.apache.hadoop.fs.Path(dir, "_graft_stats"),
      Lake.skipRange("id", lit(100), lit(150)), abs0)
    assert(kept.nonEmpty && kept.size < abs0.size,
      s"encoded paths broke the stats join: kept ${kept.size}/${abs0.size}")
    // and a literal '+' in the path must NOT decode to a space
    val plusDir = tmp() + "/a+b"
    spark.range(100).select(col("id")).repartition(2).write.parquet(plusDir)
    Lake.writeStats(spark, plusDir, Seq("id"))
    val pfs = new org.apache.hadoop.fs.Path(plusDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pabs = pfs.listStatus(new org.apache.hadoop.fs.Path(plusDir)).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_"))
      .map(_.getPath.toUri.getPath)
    val pkept = Lake.pruneCandidatesWithStats(spark,
      new org.apache.hadoop.fs.Path(plusDir, "_graft_stats"),
      Lake.skipRange("id", lit(1000), lit(2000)), pabs)
    assert(pkept.isEmpty,
      s"'+' mishandled: stats rows failed to join, superset rule kept " +
        s"${pkept.size} files that provably exclude the range")
  }

  test("data skipping works on hive-partitioned layouts: guard + schema") {
    val dir = tmp() + "/t"
    spark.range(1000).select(col("id"), (col("id") / 250).cast("int").as("p"))
      .write.partitionBy("p").parquet(dir)
    Lake.writeStats(spark, dir, Seq("id"))
    val skipped = Lake.readSkipping(spark, dir,
      Lake.skipRange("id", lit(100), lit(180)))
    // partition column must survive the file-subset read (basePath)
    assert(skipped.columns.toSet == Set("id", "p"),
      s"partition column lost: ${skipped.columns.mkString(",")}")
    assert(skipped.filter(col("id").between(100, 180)).count() == 81)
    assert(skipped.inputFiles.length < spark.read.parquet(dir).inputFiles.length,
      "no partition-dir files were skipped")
    // the stale guard must see files INSIDE partition dirs: append into a
    // leaf and the manifest must be refused, not pass vacuously
    spark.range(2000, 2100).select(col("id"), lit(1).as("p"))
      .write.mode("append").partitionBy("p").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Lake.readSkipping(spark, dir, Lake.skipRange("id", lit(0), lit(10)))
    }
    assert(e.getMessage.contains("stale"))
  }

  test("compact republishes the stats manifest it invalidates") {
    val dir = tmp() + "/t"
    spark.range(5000).toDF("id").repartitionByRange(16, col("id"))
      .write.parquet(dir)
    Lake.writeStats(spark, dir, Seq("id"))
    val (before, after) = Lake.compact(spark, dir, targetFileBytes = 1L << 20)
    assert(before == 16 && after < before)
    // manifest must describe the POST-compact files: readSkipping would
    // refuse a stale one, and the data must round-trip complete
    val skipped = Lake.readSkipping(spark, dir,
      Lake.skipRange("id", lit(0), lit(4999)))
    assert(skipped.count() == 5000)
  }

  test("zorder layout skips files on EVERY clustered column") {
    val dir = tmp() + "/t"
    // two independent uniform columns: range layout on x would leave y
    // bounds spanning the whole domain (zero y-skipping); the z-curve
    // must give both dimensions usable per-file bounds
    val df = spark.range(20000).select(
      (col("id") % 200).as("x"), ((col("id") * 7919) % 200).as("y"),
      col("id").as("v"))
    Lake.zorderWrite(spark, df, dir, Seq("x", "y"), nFiles = 16)
    val total = spark.read.parquet(dir).inputFiles.length
    val byX = Lake.readSkipping(spark, dir, Lake.skipRange("x", lit(0), lit(24)))
    val byY = Lake.readSkipping(spark, dir, Lake.skipRange("y", lit(0), lit(24)))
    assert(byX.inputFiles.length < total, "x predicate skipped nothing")
    assert(byY.inputFiles.length < total, "y predicate skipped nothing")
    // superset guarantee both ways: re-filter equals the unskipped answer
    val want = df.filter(col("x") <= 24).agg(sum("v")).head().getLong(0)
    assert(byX.filter(col("x") <= 24).agg(sum("v")).head().getLong(0) == want)
    val wantY = df.filter(col("y") <= 24).agg(sum("v")).head().getLong(0)
    assert(byY.filter(col("y") <= 24).agg(sum("v")).head().getLong(0) == wantY)
  }

  test("data skipping refuses a stale manifest after new writes") {
    val dir = tmp() + "/t"
    spark.range(1000).toDF("id").repartitionByRange(4, col("id"))
      .write.parquet(dir)
    Lake.writeStats(spark, dir, Seq("id"))
    spark.range(1000, 1100).toDF("id").write.mode("append").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Lake.readSkipping(spark, dir, Lake.skipRange("id", lit(0), lit(10)))
    }
    assert(e.getMessage.contains("stale"))
    // re-running writeStats heals it and the new rows are visible
    Lake.writeStats(spark, dir, Seq("id"))
    val all = Lake.readSkipping(spark, dir,
      Lake.skipRange("id", lit(1050), lit(1060)))
    assert(all.filter(col("id").between(1050, 1060)).count() == 11)
  }

  test("versioned writes time-travel and vacuum keeps the published version") {
    val dir = tmp() + "/t"
    assert(Lake.writeVersioned(spark, spark.range(10).toDF("id"), dir) == 1L)
    assert(Lake.writeVersioned(spark, spark.range(20).toDF("id"), dir) == 2L)
    assert(Lake.writeVersioned(spark, spark.range(30).toDF("id"), dir) == 3L)
    assert(Lake.readVersioned(spark, dir).count() == 30) // latest via pointer
    assert(Lake.readVersioned(spark, dir, Some(2L)).count() == 20) // time travel
    assert(Lake.listVersions(spark, dir) == Seq(1L, 2L, 3L))
    assert(Lake.vacuum(spark, dir, keepLast = 1) == Seq(1L, 2L))
    assert(Lake.listVersions(spark, dir) == Seq(3L))
    assert(Lake.readVersioned(spark, dir).count() == 30)
    val gone = intercept[IllegalArgumentException] {
      Lake.readVersioned(spark, dir, Some(2L))
    }
    assert(gone.getMessage.contains("does not exist"))
    // next write after vacuum continues the version sequence
    assert(Lake.writeVersioned(spark, spark.range(5).toDF("id"), dir) == 4L)
    assert(Lake.readVersioned(spark, dir).count() == 5)
  }

  test("deleteWhere: audit-first takedown, vacuum makes it physical") {
    val dir = tmp() + "/t"
    val rows = Seq((1L, "keep"), (2L, "drop"), (3L, "keep"),
      (4L, null.asInstanceOf[String]))
      .toDF("id", "tag")
    Lake.writeVersioned(spark, rows, dir)
    val (v, removed) = Lake.deleteWhere(spark, dir, col("tag") === "drop")
    assert(v == 2L && removed == 1L)
    // null predicate KEEPS the row (SQL DELETE semantics)
    assert(Lake.readVersioned(spark, dir).select("id")
      .as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
    // audit trail: the pre-delete version shows exactly what was removed
    assert(Lake.readVersioned(spark, dir, Some(1L)).count() == 4L)
    // vacuum is the deliberate physical-destruction step
    assert(Lake.vacuum(spark, dir, keepLast = 1) == Seq(1L))
    intercept[IllegalArgumentException] {
      Lake.readVersioned(spark, dir, Some(1L))
    }
  }

  /** Every data file under `dir`, rel path -> (length, mtime) — the
    * identity fingerprint file-granular commits must preserve.
    */
  private def fileIdentity(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.getName.startsWith("_") || f.getName.startsWith(".")) Seq.empty
      else if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
      .map(f => (f.getAbsolutePath.stripPrefix(dir + "/"),
        (f.length(), f.lastModified()))).toMap
  }

  test("deleteWhere rewrites only matched files; untouched survive by identity") {
    val dir = tmp() + "/t"
    (1 to 1000).map(i => (f"$i%06d", i.toLong)).toDF("k", "v")
      .repartitionByRange(8, col("k")).write.parquet(dir)
    Lake.writeStats(spark, dir, Seq("k"))
    val before = fileIdentity(dir)
    assert(before.size == 8)
    val (lo, hi) = (f"${100}%06d", f"${110}%06d")
    val (v, removed) = Lake.deleteWhere(spark, dir, col("k").between(lo, hi),
      filePrune = Some(Lake.skipRange("k", lit(lo), lit(hi))))
    // bootstrap made the plain table version 1; the delete published 2
    assert(v == 2L && removed == 11L)
    val after = fileIdentity(dir)
    // NO original file was rewritten in place: all 8 survive by identity
    // (the matched one stays on disk for time travel until vacuum) and the
    // delete's only writes landed under the new version's dir
    assert(before.forall { case (p, id) => after.get(p).contains(id) },
      "a pre-delete file was rewritten in place")
    val rewritten = after.keySet -- before.keySet
    assert(rewritten.nonEmpty && rewritten.forall(_.startsWith("v=2/")),
      rewritten.toString)
    // reads: current excludes the range, v1 is the full pre-delete table
    assert(Lake.readVersioned(spark, dir).count() == 989)
    assert(Lake.readVersioned(spark, dir, Some(1L)).count() == 1000)
    // the skipping manifest stayed live across the delete (incremental
    // append for the rewritten files): probes prune and cannot resurrect
    val gone = Lake.readLookup(spark, dir, Seq(f"${105}%06d").toDF("k"))
    assert(gone.filter(col("k") === f"${105}%06d").count() == 0)
    val there = Lake.readLookup(spark, dir, Seq(f"${500}%06d").toDF("k"))
    assert(there.filter(col("k") === f"${500}%06d").count() == 1)
    // vacuum makes the delete physical: exactly ONE of the 8 range-laid
    // files matched and goes; the 7 others are shared with v2 by
    // reference and stay byte-identical; v1 is no longer readable
    assert(Lake.vacuum(spark, dir, keepLast = 1) == Seq(1L))
    val postVacuum = fileIdentity(dir)
    val survivors = before.filter { case (p, id) =>
      postVacuum.get(p).contains(id) }
    assert(survivors.size == 7, s"survivors=${survivors.size}")
    assert(postVacuum.size == 7 + rewritten.size)
    intercept[IllegalArgumentException] {
      Lake.readVersioned(spark, dir, Some(1L))
    }
    assert(Lake.readVersioned(spark, dir).count() == 989)
    // stats-manifest hygiene: compactStats drops the vacuumed file's rows
    // (readers already ignored them; this stops unbounded manifest growth)
    Lake.compactStats(spark, dir)
    assert(spark.read.json(s"$dir/_graft_stats").count() ==
      7L + rewritten.size)
    val again = Lake.readLookup(spark, dir, Seq(f"${500}%06d").toDF("k"))
    assert(again.filter(col("k") === f"${500}%06d").count() == 1)
  }

  test("appendVersioned links prior files by reference and writes O(batch)") {
    val dir = tmp() + "/t"
    def rows(r: Seq[Int]) = r.map(i => (i.toLong, s"r$i")).toDF("id", "s")
    assert(Lake.writeVersioned(spark, rows(1 to 100), dir) == 1L)
    val before = fileIdentity(dir)
    assert(Lake.appendVersioned(spark, rows(101 to 120), dir) == 2L)
    val after = fileIdentity(dir)
    // every v1 file carried by identity; only batch-sized v=2 files added
    assert(before.forall { case (p, id) => after.get(p).contains(id) })
    assert((after.keySet -- before.keySet).forall(_.startsWith("v=2/")))
    assert(Lake.readVersioned(spark, dir).count() == 120)
    assert(Lake.readVersioned(spark, dir, Some(1L)).count() == 100)
    // appends are not schema evolution: name or type drift is refused
    intercept[IllegalArgumentException] {
      Lake.appendVersioned(spark,
        Seq((1L, 2L)).toDF("id", "n"), dir)
    }
    // vacuum drops v1 but deletes NO shared file: v2 references them all
    assert(Lake.vacuum(spark, dir, keepLast = 1) == Seq(1L))
    assert(Lake.readVersioned(spark, dir).count() == 120)
    assert(Lake.listVersions(spark, dir) == Seq(2L))
    assert(before.forall { case (p, id) =>
      fileIdentity(dir).get(p).contains(id) })
  }

  test("deleteWhere composes with schema evolution: evolve, delete, time travel") {
    val dir = tmp() + "/t"
    Lake.writeEvolving(spark,
      (1L to 40L).map(i => (i, i * 10)).toDF("id", "amt"), dir)
    Lake.writeEvolving(spark,
      (41L to 80L).map(i => (i, i * 10L, s"s$i")).toDF("id", "amount", "tag"),
      dir, renames = Map("amt" -> "amount"))
    val (v, removed) = Lake.deleteWhere(spark, dir, col("id") % 10 === 0)
    assert(v == 3L && removed == 8L)
    // current read: latest logical schema, deleted rows gone, folds intact
    val cur = Lake.readEvolving(spark, dir).orderBy("id")
    assert(cur.columns.toSeq == Seq("id", "amount", "tag"))
    assert(cur.count() == 72)
    assert(cur.filter(col("id") === 30L).isEmpty)
    assert(cur.filter(col("id") === 31L).select("amount").as[Long].head() == 310L)
    // time travel: version 2 is the complete pre-delete table, read under
    // the same (current) logical column mapping
    val v1 = Lake.readVersioned(spark, dir, Some(2L))
    assert(v1.columns.toSeq == Seq("id", "amount", "tag"))
    assert(v1.count() == 80)
    assert(v1.filter(col("id") === 30L).select("amount").as[Long].head() == 300L)
    // an evolving append AFTER the delete publishes the next version and
    // both manifest chains stay consistent
    Lake.writeEvolving(spark,
      Seq((81L, 810L, "s81")).toDF("id", "amount", "tag"), dir)
    assert(Lake.readEvolving(spark, dir).count() == 73)
    assert(Lake.listVersions(spark, dir) == Seq(1L, 2L, 3L, 4L))
    assert(Lake.readVersioned(spark, dir, Some(3L)).count() == 72)
  }

  test("optimizeVersioned folds only small files, links compact ones, O(tail)") {
    val dir = tmp() + "/t"
    def rows(r: Seq[Int]) = r.map(i => (i.toLong, s"payload-$i")).toDF("id", "s")
    // one compact base file + many tiny O(batch) append commits
    Lake.writeVersioned(spark, rows(1 to 20000).coalesce(1), dir)
    for (b <- 0 until 5)
      Lake.appendVersioned(spark,
        rows(20001 + b * 10 to 20010 + b * 10).coalesce(1), dir)
    val before = Lake.readVersioned(spark, dir).collect().toSet
    val beforeFiles = fileIdentity(dir)
    // the base file (~100s of KB) is already above half the 64 KB target;
    // the five tiny append files fold into one
    val (v, folded) = Lake.optimizeVersioned(spark, dir, targetFileBytes = 64L << 10)
    assert(v == 7L && folded == 5L, s"v=$v folded=$folded")
    assert(Lake.readVersioned(spark, dir).collect().toSet == before)
    // the compact base file is carried BY REFERENCE (same path, same bytes)
    val base = beforeFiles.filter(_._1.startsWith("v=1/"))
    assert(base.size == 1 &&
      base.forall { case (p, id) => fileIdentity(dir).get(p).contains(id) })
    // time travel to a pre-optimize version still works; vacuum then
    // reclaims the folded originals but never the shared base file
    assert(Lake.readVersioned(spark, dir, Some(6L)).collect().toSet == before)
    assert(Lake.vacuum(spark, dir, keepLast = 1) == (1L to 6L))
    assert(Lake.readVersioned(spark, dir).collect().toSet == before)
    assert(base.forall { case (p, id) => fileIdentity(dir).get(p).contains(id) })
    // idempotent: a second optimize finds nothing to fold
    assert(Lake.optimizeVersioned(spark, dir, 64L << 10) == (7L, 0L))
  }

  test("deleteWhere refuses hive-partitioned layouts (partition cols would vanish)") {
    val dir = tmp() + "/t"
    spark.range(100).select(col("id"), (col("id") % 3).as("p"))
      .write.partitionBy("p").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Lake.deleteWhere(spark, dir, col("id") < 10)
    }
    assert(e.getMessage.contains("hive-partitioned"), e.getMessage)
    // per-leaf delete is the documented path and works
    val (v, removed) = Lake.deleteWhere(spark, s"$dir/p=1", col("id") < 10)
    assert(v == 2L && removed == 3L) // ids 1,4,7
  }

  test("versioned commits are delta manifests: O(batch) metadata, capped chains") {
    val dir = tmp() + "/t"
    // a table with many base files
    Lake.writeVersioned(spark,
      spark.range(10000).toDF("id").repartition(40), dir)
    def manifestLen(v: Long) =
      new java.io.File(s"$dir/_graft_versions/v=$v.json").length()
    // one tiny append commits O(batch) metadata, not a file-list rewrite:
    // the delta manifest is a fraction of the 40-entry full manifest
    Lake.appendVersioned(spark,
      spark.range(10000, 10010).toDF("id").coalesce(1), dir)
    assert(manifestLen(2) * 5 < manifestLen(1),
      s"delta ${manifestLen(2)}B vs full ${manifestLen(1)}B")
    // a LONG commit chain stays readable (depth-capped self-checkpointing
    // bounds resolution) and every version resolves the right row count
    for (b <- 0 until 40)
      Lake.appendVersioned(spark,
        spark.range(20000 + b * 10, 20010 + b * 10).toDF("id").coalesce(1), dir)
    assert(Lake.readVersioned(spark, dir).count() == 10000 + 10 + 400)
    assert(Lake.readVersioned(spark, dir, Some(2L)).count() == 10010)
    assert(Lake.readVersioned(spark, dir, Some(22L)).count() == 10210)
    // at least one mid-chain manifest is a full checkpoint (depth cap) —
    // visible as a manifest whose size is in the full-manifest class
    val lens = (2L to 42L).map(manifestLen)
    assert(lens.exists(_ > manifestLen(1) / 2),
      s"no checkpoint in chain: max=${lens.max} full=${manifestLen(1)}")
    // vacuum drops most of the chain; retained versions materialize and
    // stay correct even though their delta bases are gone
    val dropped = Lake.vacuum(spark, dir, keepLast = 3)
    assert(dropped.size == 39)
    assert(Lake.readVersioned(spark, dir).count() == 10410)
    assert(Lake.readVersioned(spark, dir, Some(40L)).count() == 10390)
  }

  test("mergeInto upserts file-granularly: untouched files carry by reference") {
    val dir = tmp() + "/t"
    def rows(r: Seq[Int], tag: String) =
      r.map(i => (f"$i%06d", tag)).toDF("k", "s")
    Lake.writeVersioned(spark,
      rows(1 to 800, "old").repartitionByRange(8, col("k")), dir)
    Lake.writeStats(spark, dir, Seq("k"))
    val before = fileIdentity(dir)
    // source: update keys 100-110 (live in ONE range file), insert 2 new
    val src = rows((100 to 110) ++ Seq(900, 901), "new")
    val (lo, hi) = (f"${100}%06d", f"${901}%06d")
    val (v, (updated, inserted)) = Lake.mergeInto(spark, dir, src, Seq("k"),
      filePrune = Some(Lake.skipRange("k", lit(lo), lit(hi))))
    assert(v == 2L && updated == 11L && inserted == 2L, s"$v $updated $inserted")
    // no original file rewritten in place; 7 of 8 never even retired
    assert(before.forall { case (p, id) =>
      fileIdentity(dir).get(p).contains(id) })
    val cur = Lake.readVersioned(spark, dir)
    assert(cur.count() == 802)
    assert(cur.filter(col("s") === "new").count() == 13)
    assert(cur.filter(col("k") === f"${105}%06d").select("s")
      .as[String].head() == "new")
    assert(cur.filter(col("k") === f"${500}%06d").select("s")
      .as[String].head() == "old")
    // keys stay unique after the upsert; time travel shows the old state
    assert(cur.select("k").distinct().count() == 802)
    assert(Lake.readVersioned(spark, dir, Some(1L)).count() == 800)
    // the skipping manifest stayed live; probes keep pruning
    val probed = Lake.readLookup(spark, dir, Seq(f"${900}%06d").toDF("k"))
    assert(probed.filter(col("k") === f"${900}%06d").count() == 1)
    // dup-keyed source refused
    intercept[IllegalArgumentException] {
      Lake.mergeInto(spark, dir, rows(Seq(5, 5), "dup"), Seq("k"))
    }
    // post-vacuum: only the matched files are gone (the 11-key range can
    // straddle one range-file boundary, so 1 or 2 of 8 files matched)
    assert(Lake.vacuum(spark, dir, keepLast = 1) == Seq(1L))
    val survivors = before.filter { case (p, id) =>
      fileIdentity(dir).get(p).contains(id) }
    assert(survivors.size >= 6, s"survivors=${survivors.size}")
    assert(Lake.readVersioned(spark, dir).count() == 802)
  }

  test("mergeInto composes with schema evolution (logical-schema source)") {
    val dir = tmp() + "/t"
    Lake.writeEvolving(spark,
      (1L to 30L).map(i => (i, i * 10)).toDF("id", "amt"), dir)
    Lake.writeEvolving(spark,
      (31L to 60L).map(i => (i, i * 10L, s"s$i")).toDF("id", "amount", "tag"),
      dir, renames = Map("amt" -> "amount"))
    // source speaks the LATEST LOGICAL schema; ids 10,40 update, 99 inserts
    val src = Seq((10L, 1L, "upd"), (40L, 2L, "upd"), (99L, 3L, "new"))
      .toDF("id", "amount", "tag")
    val (v, (updated, inserted)) = Lake.mergeInto(spark, dir, src, Seq("id"))
    assert(v == 3L && updated == 2L && inserted == 1L)
    val cur = Lake.readEvolving(spark, dir).orderBy("id")
    assert(cur.count() == 61)
    // era-1 rows still fold through the rename; merged rows replaced
    assert(cur.filter(col("id") === 5L).select("amount").as[Long].head() == 50L)
    assert(cur.filter(col("id") === 10L).select("tag").as[String].head() == "upd")
    assert(cur.filter(col("id") === 40L).select("amount").as[Long].head() == 2L)
    assert(cur.filter(col("id") === 99L).count() == 1)
    // a source speaking a RETIRED physical schema is refused
    intercept[IllegalArgumentException] {
      Lake.mergeInto(spark, dir,
        Seq((7L, 70L)).toDF("id", "amt"), Seq("id"))
    }
  }

  test("deleteWhere matching everything empties the table, schema survives") {
    val dir = tmp() + "/t"
    Lake.writeVersioned(spark,
      Seq((1L, "a"), (2L, "b")).toDF("id", "tag"), dir)
    val (v, removed) = Lake.deleteWhere(spark, dir, lit(true))
    assert(v == 2L && removed == 2L)
    val cur = Lake.readVersioned(spark, dir)
    assert(cur.isEmpty && cur.columns.toSeq == Seq("id", "tag"))
    // and a no-match delete publishes nothing at all
    val (v2, r2) = Lake.deleteWhere(spark, dir, col("id") === 99L)
    assert(v2 == 2L && r2 == 0L)
    assert(Lake.listVersions(spark, dir) == Seq(1L, 2L))
  }

  test("vacuum reclaims crash-orphaned commit dirs, never shared or live files") {
    val dir = tmp() + "/t"
    Lake.writeVersioned(spark, spark.range(100).toDF("id"), dir)
    Lake.appendVersioned(spark, spark.range(100, 120).toDF("id"), dir)
    // simulate a crash: a commit wrote its data files to the next v= dir
    // but died before publishing the manifest
    spark.range(900, 950).toDF("id").write.parquet(s"$dir/v=3")
    assert(Lake.listVersions(spark, dir) == Seq(1L, 2L)) // invisible
    // the next commit CHAINS contiguously (manifest 3 = base 2 + 1) while
    // its DATA claims the fresh dir v=4 — dir numbers are a namespace,
    // never colliding with the orphan
    assert(Lake.appendVersioned(spark, spark.range(120, 130).toDF("id"), dir) == 3L)
    assert(Lake.readVersioned(spark, dir).count() == 130)
    // vacuum drops v1+v2 (keepLast=1), reclaims the orphan files (grace 0:
    // the test IS the crashed writer), but keeps every file the live
    // version still references (v1/v2 files are shared forward)
    assert(Lake.vacuum(spark, dir, keepLast = 1, orphanGraceMs = 0L)
      == Seq(1L, 2L))
    assert(!new java.io.File(s"$dir/v=3").exists(), "orphan dir survived")
    assert(Lake.readVersioned(spark, dir).count() == 130)
    // the DEFAULT grace protects a live writer's unpublished files: a
    // fresh unreferenced dir survives a default vacuum untouched
    spark.range(990, 995).toDF("id").write.parquet(s"$dir/v=9")
    Lake.vacuum(spark, dir, keepLast = 1)
    assert(new java.io.File(s"$dir/v=9").exists(), "live workspace deleted")
    assert(Lake.readVersioned(spark, dir).count() == 130)
  }

  test("versioned commit sequences == in-memory model (randomized)") {
    // model-based check over the delta-manifest machinery: random
    // sequences of append / delete / merge / mergeCdc / optimize /
    // rerange / zorder / restore / vacuum / dvDelete / purgeDeletes must
    // keep the published version's content equal to a plain in-memory
    // map; restore rolls the model back to the state recorded at the
    // target version (re-applying that version's tombstone sidecars)
    for (round <- 1 to 3) {
      val rnd = new scala.util.Random(round * 104729L)
      val dir = tmp() + s"/t$round"
      val viewDir = tmp() + s"/view$round"
      var model = Map.empty[Long, Long] // k -> v
      // content snapshot per published version, for restore targets
      var history = Map.empty[Long, Map[Long, Long]]
      var nextKey = 0L
      def frame(rows: Seq[(Long, Long)]) =
        rows.toDF("k", "v").repartition(1 + rnd.nextInt(3))
      def freshRows(n: Int): Seq[(Long, Long)] = (0 until n).map { _ =>
        val k = nextKey; nextKey += 1; (k, rnd.nextLong(1000L))
      }
      val init = freshRows(30)
      model = init.toMap
      Lake.writeVersioned(spark, frame(init), dir)
      // round 2 runs the whole random sequence under the auto-compaction
      // policy: maintenance commits interleave with every commit type and
      // must stay content-invariant (the model does not know about them)
      if (round == 2)
        Lake.setAutoOptimize(spark, dir, smallFileLimit = 4,
          targetFileBytes = 32L << 10)
      // WAP stages left pending across arms: must never surface in any
      // published read, must survive every interleaved vacuum, and must
      // publish cleanly at the end
      var pending = List.empty[(String, Seq[(Long, Long)])]
      for (_ <- 0 until 16) {
        rnd.nextInt(12) match {
          case 0 => // O(batch) append of new keys
            val rows = freshRows(1 + rnd.nextInt(8))
            model = model ++ rows
            Lake.appendVersioned(spark, frame(rows), dir)
          case 1 => // range delete
            val lo = rnd.nextLong(math.max(1L, nextKey))
            val hi = lo + rnd.nextInt(10)
            model = model.filterNot { case (k, _) => k >= lo && k <= hi }
            Lake.deleteWhere(spark, dir, col("k").between(lo, hi))
          case 2 => // merge: update a sample of existing keys + insert new
            val updates = model.keys.toSeq.sorted
              .filter(_ => rnd.nextInt(5) == 0)
              .map(k => (k, rnd.nextLong(1000L)))
            val inserts = freshRows(rnd.nextInt(4))
            val src = updates ++ inserts
            if (src.nonEmpty) {
              model = model ++ src
              // merge refuses under live deletion vectors; the purge it
              // demands is content-invariant, so the model is untouched
              Lake.purgeDeletes(spark, dir)
              Lake.mergeInto(spark, dir, frame(src), Seq("k"))
            }
          case 3 =>
            Lake.optimizeVersioned(spark, dir, targetFileBytes = 32L << 10)
          case 4 =>
            Lake.vacuum(spark, dir, keepLast = 1 + rnd.nextInt(3))
          case 5 => // CDC merge: disjoint update/delete arms + absent-key delete
            val keys = model.keys.toSeq.sorted
            val (updKeys, delKeys) = keys.partition(_ % 2 == 0)
            val upd = updKeys.filter(_ => rnd.nextInt(6) == 0)
              .map(k => (k, rnd.nextLong(1000L), false))
            val dels = delKeys.filter(_ => rnd.nextInt(6) == 0)
              .map(k => (k, 0L, true)) :+ ((nextKey + 500000L, 0L, true))
            if (upd.nonEmpty || dels.size > 1) {
              model = model ++ upd.map(t => t._1 -> t._2) --
                dels.map(_._1)
              Lake.purgeDeletes(spark, dir) // see the mergeInto arm
              Lake.mergeCdc(spark, dir,
                (upd ++ dels).toDF("k", "v", "_del"), Seq("k"), col("_del"))
            }
          case 6 => // content-invariant re-cluster (single column)
            Lake.rerangeVersioned(spark, dir, "k",
              targetFileRows = 1L + rnd.nextInt(50))
          case 7 => // content-invariant re-cluster (z-curve)
            Lake.zorderVersioned(spark, dir, Seq("k", "v"),
              targetFileRows = 1L + rnd.nextInt(50))
          case 8 => // metadata-only rollback to a random retained version
            val vs = Lake.listVersions(spark, dir)
              .filter(history.contains)
            if (vs.nonEmpty) {
              val target = vs(rnd.nextInt(vs.size))
              Lake.restoreVersion(spark, dir, target)
              model = history(target)
            }
          case 9 => // merge-on-read range delete (tombstone sidecar)
            val lo = rnd.nextLong(math.max(1L, nextKey))
            val hi = lo + rnd.nextInt(10)
            model = model.filterNot { case (k, _) => k >= lo && k <= hi }
            Lake.deleteWhereDv(spark, dir, col("k").between(lo, hi))
          case 10 => // materialize whatever tombstones are live
            Lake.purgeDeletes(spark, dir)
          case 11 => // WAP: stage invisibly; publish, abort, or leave pending
            val rows = freshRows(1 + rnd.nextInt(5))
            val sid = Lake.stageAppend(spark, frame(rows), dir)
            rnd.nextInt(5) match {
              case 0 | 1 =>
                model = model ++ rows
                Lake.publishStaged(spark, dir, sid)
              case 2 | 3 => Lake.abortStaged(spark, dir, sid)
              case _ => pending ::= (sid, rows)
            }
        }
        val vNow = Lake.listVersions(spark, dir).last
        history += vNow -> model
        val got = Lake.readVersioned(spark, dir).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(got.size == got.map(_._1).distinct.size,
          s"round $round: duplicate keys surfaced")
        assert(got.toMap == model,
          s"round $round: table diverged from the model")
        // the METADATA-ONLY count (manifest n_rows minus live tombstones)
        // must agree with the scan after every commit type
        assert(Lake.rowCount(spark, dir) == model.size.toLong,
          s"round $round: metadata rowCount diverged from the model")
        // a FEED-MAINTAINED per-key view folds alongside the same random
        // commit stream (~every third commit); when a vacuum consumed the
        // feed window the refresh refuses loudly and forceFull is the
        // recovery — exactly the production contract
        if (rnd.nextInt(3) == 0) {
          try Lake.refreshIncremental(spark, dir, viewDir,
            keys = Seq("k"), sumCols = Seq("v"), countCol = "n")
          catch { case _: RuntimeException =>
            Lake.refreshIncremental(spark, dir, viewDir,
              keys = Seq("k"), sumCols = Seq("v"), countCol = "n",
              forceFull = true) }
          val viewGot = Lake.readVersioned(spark, viewDir).collect()
            .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
          assert(viewGot == model.map { case (k, v) => k -> ((1L, v)) },
            s"round $round: maintained view diverged from the model")
        }
        // KEYED change feed under the same random stream: fold the feed
        // from a random recorded version onto that version's model state
        // — must land exactly on the current model; carried rows must be
        // no-ops and every update image must pair. Vacuumed windows
        // refuse loudly (readChangeFeed's contract) — skip those.
        if (rnd.nextInt(3) == 1) {
          val head = Lake.listVersions(spark, dir).last
          val starts = history.keys.filter(_ < head).toSeq.sorted
          if (starts.nonEmpty) {
            val from = starts(rnd.nextInt(starts.size))
            try {
              val feed = Lake.readChangeFeedKeyed(spark, dir,
                  from + 1, head, keys = Seq("k"))
                .select("k", "v", "_change_type", "_commit_version")
                .collect()
                .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
                  r.getLong(3)))
              var st = history(from)
              feed.groupBy(_._4).toSeq.sortBy(_._1).foreach { case (_, rows) =>
                rows.filter(_._3 == "delete").foreach(r => st -= r._1)
                rows.filter(r => r._3 == "insert" || r._3 == "update_postimage")
                  .foreach(r => st += r._1 -> r._2)
              }
              assert(st == model,
                s"round $round: keyed feed fold $from->$head diverged")
              val pre = feed.filter(_._3 == "update_preimage")
              val post = feed.filter(_._3 == "update_postimage")
              // carried (identical) pairs must have been dropped entirely
              assert(pre.map(r => (r._4, r._1, r._2)).toSet
                  .intersect(post.map(r => (r._4, r._1, r._2)).toSet).isEmpty,
                s"round $round: carried rows emitted as phantom updates")
              // surviving images pair one-to-one on (commit, key)
              assert(pre.map(r => (r._4, r._1)).toSet
                  == post.map(r => (r._4, r._1)).toSet,
                s"round $round: unpaired update images in the keyed feed")
            } catch { case _: RuntimeException => () } // window vacuumed
          }
        }
      }
      // resolve the stages left pending through the whole random stream:
      // every one survived the interleaved vacuums (live-root contract)
      // and publishes/aborts cleanly on top of whatever state won
      pending.foreach { case (sid, rows) =>
        if (rnd.nextBoolean()) {
          model = model ++ rows
          Lake.publishStaged(spark, dir, sid)
        } else Lake.abortStaged(spark, dir, sid)
      }
      assert(Lake.listStaged(spark, dir).isEmpty)
      val fin = Lake.readVersioned(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(fin == model,
        s"round $round: final state diverged after pending WAP resolution")
    }
  }

  test("auto-optimize bounds the live file count under a steady append stream") {
    val dir = tmp() + "/autoopt"
    def one(i: Int) = Seq((i.toLong, i.toLong)).toDF("k", "v").repartition(1)
    Lake.writeVersioned(spark, one(0), dir)
    Lake.setAutoOptimize(spark, dir, smallFileLimit = 8,
      targetFileBytes = 1L << 20)
    for (i <- 1 to 30) {
      Lake.appendVersioned(spark, one(i), dir)
      val files = Lake.readVersioned(spark, dir).inputFiles.length
      assert(files <= 8,
        s"append $i: $files live files — the policy never folded")
    }
    // content is never disturbed by the maintenance commits
    val got = Lake.readVersioned(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0 to 30).map(i => (i.toLong, i.toLong)).toSet)
    // old versions still time-travel (optimize links, never destroys)
    Lake.listVersions(spark, dir).foreach(v =>
      Lake.readVersioned(spark, dir, Some(v)).count())
    // clearing the policy stops the folding: the count grows again
    Lake.clearAutoOptimize(spark, dir)
    val base = Lake.readVersioned(spark, dir).inputFiles.length
    for (i <- 31 to 40) Lake.appendVersioned(spark, one(i), dir)
    assert(Lake.readVersioned(spark, dir).inputFiles.length == base + 10)
  }

  test("auto-optimize also bounds a streamed sink's file count across drains") {
    // the commitStreamVersion path (one adopted file set per drain) hits
    // the same policy check as appendVersioned
    val dir = tmp() + "/autostream"
    def one(i: Int) = Seq((i.toLong, i.toLong)).toDF("k", "v").repartition(1)
    one(0).write.parquet(dir)
    Lake.commitStreamVersion(spark, dir)
    Lake.setAutoOptimize(spark, dir, smallFileLimit = 6,
      targetFileBytes = 1L << 20)
    for (i <- 1 to 20) {
      one(i).write.mode("append").parquet(dir)
      Lake.commitStreamVersion(spark, dir)
      assert(Lake.readVersioned(spark, dir).inputFiles.length <= 6,
        s"drain $i: streamed sink accreted past the policy limit")
    }
    val got = Lake.readVersioned(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (0 to 20).map(i => (i.toLong, i.toLong)).toSet)
  }

  test("mergeCdc applies insert/update/delete in ONE file-granular commit") {
    val dir = tmp() + "/t"
    def rows(r: Seq[Int], tag: String) =
      r.map(i => (f"$i%06d", tag)).toDF("k", "s")
    Lake.writeVersioned(spark,
      rows(1 to 800, "old").repartitionByRange(8, col("k")), dir)
    Lake.writeStats(spark, dir, Seq("k"))
    val before = fileIdentity(dir)
    // batch: update 100-105, DELETE 300-310, delete absent 950 (no-op),
    // insert 900-901 — one commit, the delete flag riding as an extra col
    val batch =
      (rows(100 to 105, "new").withColumn("_del", lit(false)))
        .unionByName(rows(300 to 310, "x").withColumn("_del", lit(true)))
        .unionByName(rows(Seq(950), "x").withColumn("_del", lit(true)))
        .unionByName(rows(Seq(900, 901), "new").withColumn("_del", lit(false)))
    val (v, (updated, inserted, deleted)) = Lake.mergeCdc(spark, dir, batch,
      Seq("k"), col("_del"),
      filePrune = Some(Lake.skipRange("k", lit(f"${100}%06d"), lit(f"${950}%06d"))))
    assert(v == 2L, s"v=$v")
    assert(updated == 6L && inserted == 2L && deleted == 11L,
      s"upd=$updated ins=$inserted del=$deleted")
    // every original file survives by identity (rewrites land in v=2;
    // matched originals stay on disk for time travel until vacuum)
    assert(before.forall { case (p, id) =>
      fileIdentity(dir).get(p).contains(id) })
    val cur = Lake.readVersioned(spark, dir)
    assert(cur.count() == 800 - 11 + 2)
    assert(cur.filter(col("k") === f"${105}%06d").select("s")
      .as[String].head() == "new")
    assert(cur.filter(col("k").between(f"${300}%06d", f"${310}%06d")).isEmpty)
    assert(cur.filter(col("k") === f"${950}%06d").isEmpty) // no-op delete
    assert(cur.filter(col("k") === f"${900}%06d").count() == 1)
    // audit-first: time travel still shows the pre-CDC state
    assert(Lake.readVersioned(spark, dir, Some(1L)).count() == 800)
    // a key that both deletes and updates in one batch is refused
    intercept[IllegalArgumentException] {
      Lake.mergeCdc(spark, dir,
        rows(Seq(5), "a").withColumn("_del", lit(false))
          .unionByName(rows(Seq(5), "b").withColumn("_del", lit(true))),
        Seq("k"), col("_del"))
    }
  }

  test("mergeInto over the size guard plans a shuffle join, same result") {
    val dir1 = tmp() + "/broadcasted"
    val dir2 = tmp() + "/shuffled"
    def rows(r: Seq[Int], tag: String) =
      r.map(i => (f"$i%06d", tag)).toDF("k", "s")
    for (d <- Seq(dir1, dir2))
      Lake.writeVersioned(spark,
        rows(1 to 400, "old").repartitionByRange(4, col("k")), d)
    val src = rows((50 to 60) ++ Seq(500), "new")
    val r1 = Lake.mergeInto(spark, dir1, src, Seq("k"))
    // maxBroadcastKeys = 0: the guard refuses the hint, AQE plans the
    // joins unhinted — the scale path a backfill-sized source would take
    val r2 = Lake.mergeInto(spark, dir2, src, Seq("k"), maxBroadcastKeys = 0L)
    assert(r1 == r2, s"$r1 vs $r2")
    assert(r1._2 == ((11L, 1L)))
    assert(Lake.readVersioned(spark, dir1).orderBy("k").collect().toSeq ==
      Lake.readVersioned(spark, dir2).orderBy("k").collect().toSeq)
  }

  test("asOf timestamp travel: newest version <= ts, edges refused") {
    val dir = tmp() + "/t"
    def rows(r: Seq[Int]) = r.map(i => (f"$i%06d", i.toLong)).toDF("k", "v")
    Lake.writeVersioned(spark, rows(1 to 100), dir)
    Thread.sleep(15) // commit stamps are millis; force strict ordering
    Lake.appendVersioned(spark, rows(101 to 200), dir)
    Thread.sleep(15)
    Lake.appendVersioned(spark, rows(201 to 300), dir)
    val hist = Lake.versionHistory(spark, dir)
    assert(hist.map(_._1) == Seq(1L, 2L, 3L))
    // the DESCRIBE HISTORY surface also names each commit's operation
    assert(hist.map(_._3) == Seq("snapshot", "append", "append"))
    val ts = hist.map(t => t._1 -> t._2).toMap
    assert(ts.values.toSeq.distinct.size == 3, s"stamps not distinct: $hist")
    // exactly-at, between-commits, and after-latest resolution
    assert(Lake.versionAsOf(spark, dir, ts(1L)) == 1L)
    assert(Lake.versionAsOf(spark, dir, ts(2L) - 1) == 1L)
    assert(Lake.versionAsOf(spark, dir, ts(2L)) == 2L)
    assert(Lake.versionAsOf(spark, dir, ts(3L) + 60000) == 3L)
    assert(Lake.readVersionedAsOf(spark, dir, ts(2L)).count() == 200)
    // before-first-commit is refused: there was no table then
    intercept[IllegalArgumentException] {
      Lake.versionAsOf(spark, dir, ts(1L) - 1)
    }
    // vacuum's checkpoint materialization preserves the ORIGINAL stamps:
    // asOf resolution is identical before and after
    Lake.vacuum(spark, dir, keepLast = 2)
    val hist2 = Lake.versionHistory(spark, dir)
    assert(hist2 == hist.filter(_._1 >= 2L), s"$hist2 vs $hist")
    assert(Lake.versionAsOf(spark, dir, ts(2L)) == 2L)
    assert(Lake.readVersionedAsOf(spark, dir, ts(2L)).count() == 200)
    // time-based retention: retain-everything keeps all, retain-nothing
    // folds to the newest version only (the VACUUM ... RETAIN form)
    assert(Lake.vacuumOlderThan(spark, dir, retainMs = 86400000L) == Seq.empty)
    assert(Lake.vacuumOlderThan(spark, dir, retainMs = 0L) == Seq(2L))
    assert(Lake.listVersions(spark, dir) == Seq(3L))
    assert(Lake.readVersioned(spark, dir).count() == 300)
  }

  test("zorderVersioned restores BOTH columns' pruning on a versioned table") {
    val dir = tmp() + "/t"
    // two independent coordinates; base laid out on neither, then
    // accreted — no single-column rerange can serve both
    def frame(r: Seq[Int]) =
      r.map(i => (i.toLong % 97, (i.toLong * 31) % 89, i.toLong))
        .toDF("x", "y", "v")
    Lake.writeVersioned(spark, frame(0 until 2000).repartition(8), dir)
    Lake.writeStats(spark, dir, Seq("x", "y"))
    for (b <- 0 until 2)
      Lake.appendVersioned(spark,
        frame(2000 + b * 500 until 2500 + b * 500).coalesce(1), dir)
    def keptFiles(c: String, lo: Int, hi: Int): Int =
      Lake.readSkipping(spark, dir,
        Lake.skipRange(c, lit(lo), lit(hi))).inputFiles.length
    val total = Lake.readVersioned(spark, dir).inputFiles.length
    // random layout: narrow ranges on either column prune ~nothing
    assert(keptFiles("x", 10, 12) == total)
    assert(keptFiles("y", 10, 12) == total)
    val (v, nFiles) = Lake.zorderVersioned(spark, dir, Seq("x", "y"),
      targetFileRows = 200L)
    assert(v == 4L, s"v=$v")
    // z-curve locality: BOTH columns now prune whole files
    assert(keptFiles("x", 10, 12) < nFiles,
      s"x range kept ${keptFiles("x", 10, 12)} of $nFiles")
    assert(keptFiles("y", 10, 12) < nFiles,
      s"y range kept ${keptFiles("y", 10, 12)} of $nFiles")
    // correctness: pruned reads equal full-scan filters; old versions live
    val full = Lake.readVersioned(spark, dir)
    assert(Lake.readSkipping(spark, dir, Lake.skipRange("x", lit(10), lit(12)))
      .filter(col("x").between(10, 12)).count() ==
      full.filter(col("x").between(10, 12)).count())
    assert(full.count() == 3000)
    assert(Lake.readVersioned(spark, dir, Some(1L)).count() == 2000)
    assert(Lake.versionHistory(spark, dir).last._3 == "zorder")
  }

  test("rerangeVersioned restores probe pruning; old versions still travel") {
    val dir = tmp() + "/t"
    def rows(r: Seq[Int]) = r.map(i => (f"$i%06d", i.toLong)).toDF("k", "v")
    Lake.writeVersioned(spark,
      rows(1 to 1000).repartitionByRange(8, col("k")), dir)
    Lake.writeStats(spark, dir, Seq("k"))
    val probe = Seq(f"${500}%06d")
    val (kept0, total0) = Lake.probeDataFiles(spark, dir, "k", probe)
    assert(total0 == 8 && kept0.size == 1, s"${kept0.size}/$total0")
    // three appends, each SPANNING the whole key domain (the accretion
    // pattern that degrades range pruning: every new file overlaps every
    // probe) — keys "000000b0".."000990b2" interleave across the range
    for (b <- 0 until 3)
      Lake.appendVersioned(spark,
        (0 until 100).map(i => (f"${i * 10}%06db$b", (2000 + b * 100 + i).toLong))
          .toDF("k", "v").coalesce(1), dir)
    val (kept1, total1) = Lake.probeDataFiles(spark, dir, "k", probe)
    assert(total1 == 11 && kept1.size == 4,
      s"${kept1.size}/$total1 - every appended file should overlap")
    val (v, nFiles) = Lake.rerangeVersioned(spark, dir, "k",
      targetFileRows = 200L)
    assert(v == 5L, s"v=$v")
    assert(nFiles >= 6L && nFiles <= 8L, s"1300 rows / 200 ≈ 7, got $nFiles")
    val (kept2, total2) = Lake.probeDataFiles(spark, dir, "k", probe)
    assert(total2 == nFiles && kept2.size == 1,
      s"${kept2.size}/$total2 - rerange must restore one-file probes")
    // nothing lost, old versions intact, stats manifest still validates
    assert(Lake.readVersioned(spark, dir).count() == 1300)
    assert(Lake.readVersioned(spark, dir, Some(1L)).count() == 1000)
    assert(Lake.readLookup(spark, dir, probe.toDF("k"))
      .filter(col("k") === probe.head).count() == 1)
  }

  test("concurrent appends rebase: both land, union resolves, no lost update") {
    val dir = tmp() + "/t"
    def rows(r: Seq[Int], tag: String) =
      r.map(i => (f"$i%06d", tag)).toDF("k", "s")
    Lake.writeVersioned(spark, rows(1 to 100, "base"), dir)
    // two appends released simultaneously: whichever loses the manifest
    // race must REBASE behind the winner (never fork a sibling lineage or
    // fail) — the union must resolve whatever the interleaving
    val latch = new java.util.concurrent.CountDownLatch(2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    def run(batch: Seq[Int], tag: String) = Future {
      latch.countDown(); latch.await()
      Lake.appendVersioned(spark, rows(batch, tag), dir)
    }
    val (fa, fb) = (run(101 to 200, "a"), run(201 to 300, "b"))
    val va = Await.result(fa, scala.concurrent.duration.Duration("120s"))
    val vb = Await.result(fb, scala.concurrent.duration.Duration("120s"))
    assert(va != vb, s"two commits cannot share a version: $va $vb")
    assert(Set(va, vb) == Set(2L, 3L), s"$va $vb")
    val cur = Lake.readVersioned(spark, dir)
    assert(cur.count() == 300)
    assert(cur.select("k").distinct().count() == 300)
    assert(cur.filter(col("s") === "a").count() == 100)
    assert(cur.filter(col("s") === "b").count() == 100)
    // the later version CONTAINS the earlier one (chained, not sibling)
    assert(Lake.readVersioned(spark, dir, Some(2L)).count() == 200)
    assert(Lake.listVersions(spark, dir) == Seq(1L, 2L, 3L))
  }

  test("restoreVersion rolls the table back metadata-only; history survives") {
    val dir = tmp() + "/t"
    def rows(r: Seq[Int], tag: String) =
      r.map(i => (f"$i%06d", tag)).toDF("k", "s")
    Lake.writeVersioned(spark, rows(1 to 100, "a"), dir)
    Lake.appendVersioned(spark, rows(101 to 200, "b"), dir)
    val (_, removed) = Lake.deleteWhere(spark, dir, col("s") === "a")
    assert(removed == 100L)
    val before = fileIdentity(dir)
    // restore to v1: latest state becomes the old state, NO data moves
    assert(Lake.restoreVersion(spark, dir, 1L) == 4L)
    assert(fileIdentity(dir) == before, "restore must be metadata-only")
    val cur = Lake.readVersioned(spark, dir)
    assert(cur.count() == 100 && cur.filter(col("s") === "b").isEmpty)
    // the rolled-back states stay travelable; history names the op
    assert(Lake.readVersioned(spark, dir, Some(3L)).count() == 100)
    assert(Lake.readVersioned(spark, dir, Some(2L)).count() == 200)
    assert(Lake.versionHistory(spark, dir).last._3 == "restore")
    // restoring the current latest is a no-op; unknown versions refuse
    assert(Lake.restoreVersion(spark, dir, 4L) == 4L)
    intercept[RuntimeException] { Lake.restoreVersion(spark, dir, 99L) }
    // vacuum keeps every file the restore re-referenced
    Lake.vacuum(spark, dir, keepLast = 1, orphanGraceMs = 0L)
    assert(Lake.readVersioned(spark, dir).count() == 100)
  }

  test("CHECK constraints: violating commits refuse before publishing") {
    val dir = tmp() + "/t"
    def rows(r: Seq[(Int, Long)]) = r.map { case (k, v) => (f"$k%06d", v) }
      .toDF("k", "v")
    Lake.writeVersioned(spark, rows((1 to 100).map(i => i -> i.toLong)), dir)
    // adding a constraint the existing data violates is refused
    intercept[IllegalArgumentException] {
      Lake.addCheckConstraint(spark, dir, "v_big", "v > 50")
    }
    Lake.addCheckConstraint(spark, dir, "v_nonneg", "v >= 0")
    assert(Lake.checkConstraints(spark, dir) == Seq("v_nonneg" -> "v >= 0"))
    intercept[IllegalArgumentException] { // duplicate name
      Lake.addCheckConstraint(spark, dir, "v_nonneg", "v >= 0")
    }
    // valid append passes; violating append refuses with NOTHING
    // published — not even an unpublished data dir (the constraint itself
    // is version 2: an alter commit)
    assert(Lake.appendVersioned(spark, rows(Seq(101 -> 5L)), dir) == 3L)
    val before = fileIdentity(dir)
    val e = intercept[IllegalArgumentException] {
      Lake.appendVersioned(spark, rows(Seq(102 -> -7L)), dir)
    }
    assert(e.getMessage.contains("v_nonneg (1 rows)"), e.getMessage)
    assert(Lake.listVersions(spark, dir) == Seq(1L, 2L, 3L))
    assert(fileIdentity(dir) == before, "refused commit left files behind")
    // merge: the UPSERT arm is checked; a delete-only CDC batch is exempt
    // (its data columns never enter the table)
    intercept[IllegalArgumentException] {
      Lake.mergeInto(spark, dir, rows(Seq(5 -> -1L)), Seq("k"))
    }
    val (_, (_, _, del)) = Lake.mergeCdc(spark, dir,
      rows(Seq(5 -> -999L)).withColumn("_del", lit(true)),
      Seq("k"), col("_del"))
    assert(del == 1L)
    // null passes (SQL CHECK semantics) and drop re-opens the gate
    assert(Lake.appendVersioned(spark,
      rows(Seq(103 -> 0L)).withColumn("v", lit(null).cast("long")), dir) > 0)
    assert(Lake.dropCheckConstraint(spark, dir, "v_nonneg"))
    Lake.appendVersioned(spark, rows(Seq(104 -> -7L)), dir)
    assert(Lake.readVersioned(spark, dir).filter(col("v") < 0).count() == 1)
    // the evolution boundary is two-sided: constrained tables refuse to
    // start evolving, evolving tables refuse constraints
    Lake.addCheckConstraint(spark, dir, "v2", "v IS NOT NULL OR v IS NULL")
    intercept[IllegalArgumentException] {
      Lake.writeEvolving(spark, rows(Seq(105 -> 1L)), dir)
    }
    val evDir = tmp() + "/ev"
    Lake.writeEvolving(spark, rows(Seq(1 -> 1L)), evDir)
    intercept[IllegalArgumentException] {
      Lake.addCheckConstraint(spark, evDir, "c", "v >= 0")
    }
  }

  test("concurrent delete vs append: serialized or refused, never corrupted") {
    // non-commuting pairs keep the fail-loudly contract: a delete whose
    // file-set view raced an append either serializes cleanly (its commit
    // landed before/after the append) or REFUSES at the manifest rename —
    // under no interleaving may deleted rows survive, appended rows
    // vanish, or a sibling lineage fork
    val dir = tmp() + "/t"
    def rows(r: Seq[Int], tag: String) =
      r.map(i => (f"$i%06d", tag)).toDF("k", "s")
    Lake.writeVersioned(spark,
      rows(1 to 400, "base").repartitionByRange(4, col("k")), dir)
    val latch = new java.util.concurrent.CountDownLatch(2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val del = Future {
      latch.countDown(); latch.await()
      try Right(Lake.deleteWhere(spark, dir,
        col("k") <= f"${50}%06d"))
      catch { case e: IllegalArgumentException => Left(e.getMessage) }
    }
    val app = Future {
      latch.countDown(); latch.await()
      Lake.appendVersioned(spark, rows(401 to 450, "new"), dir)
    }
    val delR = Await.result(del, scala.concurrent.duration.Duration("120s"))
    Await.result(app, scala.concurrent.duration.Duration("120s"))
    val cur = Lake.readVersioned(spark, dir)
    // the append ALWAYS lands (it rebases); every appended row is present
    assert(cur.filter(col("s") === "new").count() == 50)
    delR match {
      case Right((_, removed)) =>
        assert(removed == 50L)
        assert(cur.count() == 400L)
        assert(cur.filter(col("k") <= f"${50}%06d").isEmpty)
      case Left(msg) => // refused loudly mid-race: table state untouched
        assert(msg.contains("already published"), msg)
        assert(cur.count() == 450L)
    }
    // whatever happened, the lineage is a single CHAIN (no forks): every
    // version resolves and the newest contains the append
    Lake.listVersions(spark, dir).foreach(v =>
      Lake.readVersioned(spark, dir, Some(v)).count())
  }

  test("strict deleteWhere: a rebased delete re-checks winner-added matching rows") {
    // the concurrent append lands rows MATCHING the delete predicate —
    // under default isolation they'd silently survive a rebase; strict
    // mode guarantees the delete's published version holds no matching
    // row among the data visible when it published
    val dir = tmp() + "/strictdel"
    def rows(r: Seq[Int], tag: String) =
      r.map(i => (f"$i%06d", tag)).toDF("k", "s")
    Lake.writeVersioned(spark,
      rows(1 to 400, "base").repartitionByRange(4, col("k")), dir)
    val latch = new java.util.concurrent.CountDownLatch(2)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val del = Future {
      latch.countDown(); latch.await()
      Lake.deleteWhere(spark, dir, col("k") <= f"${50}%06d", strict = true)
    }
    val app = Future {
      latch.countDown(); latch.await()
      Lake.appendVersioned(spark, rows(1 to 50, "late").repartition(1), dir)
    }
    val (vDel, removed) = Await.result(del,
      scala.concurrent.duration.Duration("120s"))
    val vApp = Await.result(app, scala.concurrent.duration.Duration("120s"))
    val cur = Lake.readVersioned(spark, dir)
    assert(cur.filter(col("s") === "base").count() == 350) // unmatched carried
    if (vDel > vApp) {
      // delete published after the append was visible → strict re-check
      // caught the late matching rows too
      assert(cur.filter(col("k") <= f"${50}%06d").isEmpty,
        "strict delete let concurrently-appended matching rows survive")
      assert(removed == 100L, s"removed $removed")
    } else {
      // delete serialized strictly BEFORE the append: the late rows were
      // not visible to it and correctly survive
      assert(cur.filter(col("s") === "late").count() == 50)
      assert(removed == 50L, s"removed $removed")
    }
    // single chain either way
    Lake.listVersions(spark, dir).foreach(v =>
      Lake.readVersioned(spark, dir, Some(v)).count())
  }

  test("change feed: retraction-apply equals direct read, carried files never opened, reorg commits invisible") {
    val dir = tmp() + "/cdf"
    def mk(r: Range, s: String) =
      r.map(i => (i.toLong, i % 4L, s)).toDF("id", "k", "s")
    // v1: ids 1..40 range-laid on id (4 files); v2: append 41..50;
    // v3: delete ids <= 10 (rewrites only the file(s) holding them)
    Lake.writeVersioned(spark,
      mk(1 to 40, "base").repartitionByRange(4, col("id")), dir)
    Lake.appendVersioned(spark, mk(41 to 50, "new").repartition(1), dir)
    Lake.deleteWhere(spark, dir, col("id") <= 10L)
    val feed = Lake.readChangeFeed(spark, dir, 2L, 3L)
    // applying the feed (insert +1 / delete −1) on top of v1 must land on
    // exactly v3's row multiset
    val w = when(col("_change_type") === "insert", 1L).otherwise(-1L)
    val applied = Lake.readVersioned(spark, dir, Some(1L))
      .withColumn("_w", lit(1L))
      .unionByName(feed.select(col("id"), col("k"), col("s"), w.as("_w")))
      .groupBy("id", "k", "s").agg(sum("_w").as("n")).filter(col("n") > 0)
    val direct = Lake.readVersioned(spark, dir, Some(3L))
      .groupBy("id", "k", "s").agg(count(lit(1)).as("n"))
    assert(applied.except(direct).isEmpty && direct.except(applied).isEmpty,
      "feed-applied state diverges from direct v3 read")
    // files carried v1→v3 by reference must never be opened by the feed
    def paths(fs: Array[String]) =
      fs.map(f => new java.net.URI(f).getPath).toSet
    val v1Files = paths(Lake.readVersioned(spark, dir, Some(1L)).inputFiles)
    val v3Files = paths(Lake.readVersioned(spark, dir, Some(3L)).inputFiles)
    val carried = v1Files.intersect(v3Files)
    assert(carried.nonEmpty, "fixture must carry at least one file by reference")
    val feedFiles = paths(feed.inputFiles)
    assert(feedFiles.intersect(carried).isEmpty,
      s"feed re-read carried files: ${feedFiles.intersect(carried)}")
    // a row-preserving reorg commit contributes nothing to the feed
    val (vOpt, folded) = Lake.optimizeVersioned(spark, dir, targetFileBytes = 1L << 30)
    assert(folded > 0, "optimize fixture must actually fold files")
    assert(Lake.readChangeFeed(spark, dir, vOpt, vOpt).isEmpty,
      "optimize commit leaked into the change feed")
    // feed range covering v1's snapshot commit emits it as all-inserts
    val full = Lake.readChangeFeed(spark, dir, 1L, 3L)
    assert(full.filter(col("_commit_version") === 1L &&
      col("_change_type") === "insert").count() == 40)
  }

  test("disjoint-set commits: stale-base delete/optimize rebase over appends; true overlap refuses") {
    val dir = tmp() + "/oc"
    // simulate a LOST RACE deterministically: rewind the version pointer
    // so the next committer reads a stale base — exactly what a writer
    // that computed its change set before a concurrent commit landed sees
    // at publish time (the pointer is a hint; manifests stay authoritative)
    def rewindPointer(v: Long): Unit = {
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_graft_latest"), true)
      out.write(v.toString.getBytes("UTF-8")); out.close()
    }
    def mk(r: Range, s: String) = r.map(i => (i.toLong, s)).toDF("id", "s")
    Lake.writeVersioned(spark,
      mk(1 to 40, "base").repartitionByRange(4, col("id")), dir) // v1
    Lake.appendVersioned(spark, mk(41 to 50, "new").repartition(1), dir) // v2
    // delete computed against stale v1 loses the race to the append and
    // REBASES: both commits land, nothing starves
    rewindPointer(1L)
    val (dv, removed) = Lake.deleteWhere(spark, dir, col("id") <= 10L)
    assert(dv == 3L && removed == 10L, s"expected rebased v3, got ($dv, $removed)")
    val afterDel = Lake.readVersioned(spark, dir, Some(3L))
    assert(afterDel.count() == 40L)
    assert(afterDel.filter(col("s") === "new").count() == 10L)
    assert(afterDel.filter(col("id") <= 10L).isEmpty)
    // optimize computed against stale v3 rebases over another append the
    // same way; the appended file rides into the folded manifest
    Lake.appendVersioned(spark, mk(51 to 60, "new2").repartition(1), dir) // v4
    rewindPointer(3L)
    val (ov, folded) = Lake.optimizeVersioned(spark, dir, targetFileBytes = 1L << 30)
    assert(ov == 5L && folded > 0, s"expected rebased v5, got ($ov, $folded)")
    assert(Lake.readVersioned(spark, dir, Some(5L)).count() == 50L)
    // TRUE overlap still refuses: a stale delete whose rewrite target was
    // already removed by the winner must not resurrect the winner's rows
    Lake.deleteWhere(spark, dir, col("id") === 45L) // v6 rewrites the folded file
    rewindPointer(5L)
    val e = intercept[IllegalArgumentException](
      Lake.deleteWhere(spark, dir, col("id") === 46L))
    assert(e.getMessage.contains("already published"), e.getMessage)
    // refused commit left no trace: v6 is still the head state
    val head = Lake.readVersioned(spark, dir, Some(6L))
    assert(head.count() == 49L)
    assert(head.filter(col("id") === 46L).count() == 1L)
    // lineage is a single resolvable chain throughout
    Lake.listVersions(spark, dir).foreach(v =>
      Lake.readVersioned(spark, dir, Some(v)).count())
  }

  test("registerTable names versioned, snapshot, and plain tables for SQL") {
    val dir = tmp() + "/cat"
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    Lake.writeVersioned(spark, v1, dir)
    Lake.appendVersioned(spark, Seq((3L, "c")).toDF("id", "s"), dir)
    Lake.registerTable(spark, "cat_cur", dir)
    Lake.registerTable(spark, "cat_v1", dir, version = Some(1L))
    assert(spark.sql("SELECT count(*) n FROM cat_cur").head().getLong(0) == 3)
    assert(spark.sql("SELECT count(*) n FROM cat_v1").head().getLong(0) == 2)
    // a registered view is a SNAPSHOT: re-register to see a new commit
    Lake.appendVersioned(spark, Seq((4L, "d")).toDF("id", "s"), dir)
    assert(spark.sql("SELECT count(*) n FROM cat_cur").head().getLong(0) == 3)
    Lake.registerTable(spark, "cat_cur", dir)
    assert(spark.sql("SELECT count(*) n FROM cat_cur").head().getLong(0) == 4)
    // plain (unversioned) parquet dirs register too
    val plain = tmp() + "/plain"
    v1.write.parquet(plain)
    Lake.registerTable(spark, "cat_plain", plain)
    assert(spark.sql("SELECT count(*) n FROM cat_plain").head().getLong(0) == 2)
    // a version pin on an unversioned table refuses
    intercept[IllegalArgumentException](
      Lake.registerTable(spark, "cat_bad", plain, version = Some(1L)))
  }

  test("exportChangeFeedLanding: resumable, idempotent, ordered, ts-free") {
    val root = tmp() + "/cdfbridge"
    val dir = s"$root/t"
    val landing = s"$root/landing"
    def mk(r: Range) = r.map(i => (i.toLong, i % 4L)).toDF("id", "k")
    Lake.writeVersioned(spark, mk(1 to 20).repartitionByRange(2, col("id")), dir)
    Lake.appendVersioned(spark, mk(21 to 30).repartition(1), dir)
    def files() = new java.io.File(landing).listFiles()
      .filter(_.getName.startsWith("cdf-")).sortBy(_.getName)
    assert(Lake.exportChangeFeedLanding(spark, dir, landing) == 2L)
    val after2 = files()
    assert(after2.map(_.getName.take(10)).distinct.toSeq ==
      Seq("cdf-v00001", "cdf-v00002"), s"got ${after2.map(_.getName).toSeq}")
    // IDEMPOTENT: a re-call with no new commits exports nothing
    assert(Lake.exportChangeFeedLanding(spark, dir, landing) == 2L)
    assert(files().map(_.getName).toSeq == after2.map(_.getName).toSeq &&
      files().map(_.lastModified).toSeq == after2.map(_.lastModified).toSeq,
      "re-call rewrote published landing files")
    // RESUMABLE: a new commit exports ONLY its own delta
    Lake.deleteWhere(spark, dir, col("id") <= 5L)
    assert(Lake.exportChangeFeedLanding(spark, dir, landing) == 3L)
    val v3Files = files().filterNot(f => after2.exists(_.getName == f.getName))
    assert(v3Files.nonEmpty && v3Files.forall(_.getName.startsWith("cdf-v00003")),
      s"resume exported ${v3Files.map(_.getName).toSeq}")
    // ORDERED: every later version's files are mtime-after every earlier
    // version's (the file-stream replay-order contract)
    val byV = files().groupBy(_.getName.take(10)).toSeq.sortBy(_._1)
    byV.sliding(2).foreach {
      case Seq((va, fa), (vb, fb)) =>
        assert(fa.map(_.lastModified).max < fb.map(_.lastModified).min,
          s"$vb files not strictly mtime-after $va")
      case _ => ()
    }
    // TS-FREE + stamped: rows carry _change_type/_commit_version, never
    // the wall-clock _commit_timestamp (replays must be deterministic)
    val rows = spark.read.json(landing)
    assert(rows.columns.sorted.toSeq ==
      Seq("_change_type", "_commit_version", "id", "k"))
    // and the landing replays the exact feed: v2..v3 rows match
    val feed = Lake.readChangeFeed(spark, dir, 2L, 3L)
      .select("id", "k", "_change_type", "_commit_version")
    val landed = rows.filter(col("_commit_version") >= 2L)
      .select("id", "k", "_change_type", "_commit_version")
    assert(landed.except(feed).isEmpty && feed.except(landed).isEmpty,
      "landing diverges from the feed it exported")
    // a resume in a DIFFERENT format refuses (one landing, one format)
    Lake.appendVersioned(spark, mk(31 to 35).repartition(1), dir)
    val e = intercept[IllegalArgumentException](
      Lake.exportChangeFeedLanding(spark, dir, landing, format = "parquet"))
    assert(e.getMessage.contains("one landing, one format"), e.getMessage)
    // PARQUET landing (the 100 TB byte-efficiency choice): same rows,
    // same replay contract, own directory
    val pq = s"$root/landing_pq"
    assert(Lake.exportChangeFeedLanding(spark, dir, pq,
      format = "parquet") == 4L)
    val pqRows = spark.read.parquet(s"$pq/*.parquet")
    assert(pqRows.columns.sorted.toSeq ==
      Seq("_change_type", "_commit_version", "id", "k"))
    val pqLanded = pqRows.select("id", "k", "_change_type", "_commit_version")
    val fullFeed = Lake.readChangeFeed(spark, dir, 1L, 4L)
      .select("id", "k", "_change_type", "_commit_version")
    assert(pqLanded.except(fullFeed).isEmpty &&
      fullFeed.except(pqLanded).isEmpty,
      "parquet landing diverges from the feed it exported")
  }

  test("exportChangeFeedLanding: a crashed mid-publish version re-exports whole") {
    val root = tmp() + "/cdfcrash"
    val dir = s"$root/t"
    val landing = s"$root/landing"
    def mk(r: Range) = r.map(i => (i.toLong, i % 4L)).toDF("id", "k")
    Lake.writeVersioned(spark, mk(1 to 20).repartitionByRange(2, col("id")), dir)
    Lake.appendVersioned(spark, mk(21 to 30).repartitionByRange(2, col("id")), dir)
    assert(Lake.exportChangeFeedLanding(spark, dir, landing) == 2L)
    val ld = new java.io.File(landing)
    def names() = ld.listFiles().map(_.getName).sorted.toSeq
    assert(names().contains("_cdf-v00001.done") &&
      names().contains("_cdf-v00002.done"),
      s"completion markers missing: ${names()}")
    // simulate a crash BETWEEN v2's part renames: marker gone, one of the
    // two parts gone — the old resume (max published version + 1) would
    // have skipped the missing part silently
    assert(new java.io.File(ld, "_cdf-v00002.done").delete())
    val v2parts = names().filter(_.startsWith("cdf-v00002"))
    assert(v2parts.size == 2, s"expected 2 v2 parts, got $v2parts")
    assert(new java.io.File(ld, v2parts.last).delete())
    assert(Lake.exportChangeFeedLanding(spark, dir, landing) == 2L)
    assert(names().filter(_.startsWith("cdf-v00002")).size == 2 &&
      names().contains("_cdf-v00002.done"),
      s"partial v2 not re-exported whole: ${names()}")
    // the re-exported landing replays the exact full feed
    val feed = Lake.readChangeFeed(spark, dir, 1L, 2L)
      .select("id", "k", "_change_type", "_commit_version")
    val landed = spark.read.json(landing)
      .select("id", "k", "_change_type", "_commit_version")
    assert(landed.except(feed).isEmpty && feed.except(landed).isEmpty,
      "recovered landing diverges from the feed")
    // and a clean re-call after recovery still no-ops
    val before = ld.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(Lake.exportChangeFeedLanding(spark, dir, landing) == 2L)
    assert(ld.listFiles().map(f => f.getName -> f.lastModified).toMap == before,
      "post-recovery re-call rewrote sealed files")
  }

  test("pruneChangeFeedLanding: only consumer-proven versions reclaim; markers stay") {
    val root = tmp() + "/cdfprune"
    val dir = s"$root/t"
    val landing = s"$root/landing"
    def mk(r: Range) = r.map(i => (i.toLong, i % 4L)).toDF("id", "k")
    Lake.writeVersioned(spark, mk(1 to 20).repartitionByRange(2, col("id")), dir)
    Lake.appendVersioned(spark, mk(21 to 30).repartition(1), dir)
    assert(Lake.exportChangeFeedLanding(spark, dir, landing) == 2L)
    def names() = new java.io.File(landing).listFiles().map(_.getName).sorted.toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType)))
    // no checkpoint at all: nothing is provably consumed, nothing prunes
    assert(Lake.pruneChangeFeedLanding(spark, landing, s"$root/nockpt") ==
      (0L, 0L))
    // consumer A reads ONLY v1's files (maxFilesPerTrigger=1, stopped
    // after the first committed batch would be racy — instead drain a
    // glob limited to v1)
    val ckptA = s"$root/ckptA"
    def drain(glob: String, ckpt: String): Unit = {
      val q = spark.readStream.schema(schema).json(glob)
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain(s"$landing/cdf-v00001-*.json", ckptA)
    // A's checkpoint proves v1 only: v2 must survive
    val (nv1, nf1) = Lake.pruneChangeFeedLanding(spark, landing, ckptA)
    assert(nv1 == 1L && nf1 >= 1L, s"expected v1 pruned, got ($nv1, $nf1)")
    assert(names().exists(_.startsWith("cdf-v00002")),
      "prune reclaimed a version the checkpoint never named")
    assert(names().contains("_cdf-v00001.done") &&
      names().contains("_cdf-v00002.done"),
      s"markers must survive pruning (resume watermark): ${names()}")
    assert(!names().exists(_.startsWith("cdf-v00001-")),
      s"v1 data files not reclaimed: ${names()}")
    // resume after prune: a new commit exports as v3, never re-exports v1
    Lake.deleteWhere(spark, dir, col("id") <= 3L)
    assert(Lake.exportChangeFeedLanding(spark, dir, landing) == 3L)
    assert(!names().exists(_.startsWith("cdf-v00001-")),
      s"resume re-exported a pruned version: ${names()}")
    // idempotence: a second prune against the same checkpoint is a no-op
    assert(Lake.pruneChangeFeedLanding(spark, landing, ckptA) == (0L, 0L))
  }

  test("pruneChangeFeedLanding: multi-consumer intersection protects the laggard") {
    // The r19 advisor's data-loss finding, closed: per-consumer prune
    // calls are a UNION (pruning against A deletes what B still needs).
    // The Seq form takes the INTERSECTION of what every checkpoint
    // proves, and a consumer added after a prune is refused by the
    // intact gate instead of silently folding a partial history.
    val root = tmp() + "/cdfmulti"
    val dir = s"$root/t"
    val landing = s"$root/landing"
    def mk(r: Range) = r.map(i => (i.toLong, i % 4L)).toDF("id", "k")
    Lake.writeVersioned(spark, mk(1 to 20).repartitionByRange(2, col("id")), dir)
    Lake.appendVersioned(spark, mk(21 to 30).repartition(1), dir)
    assert(Lake.exportChangeFeedLanding(spark, dir, landing) == 2L)
    def names() = new java.io.File(landing).listFiles().map(_.getName).sorted.toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType)))
    def drain(glob: String, ckpt: String): Unit = {
      val q = spark.readStream.schema(schema).json(glob)
        .writeStream.format("noop").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val ckptA = s"$root/ckptA"
    val ckptB = s"$root/ckptB"
    // A consumes everything; B lags at v1
    drain(s"$landing/cdf-*.json", ckptA)
    drain(s"$landing/cdf-v00001-*.json", ckptB)
    // a consumer with NO commits yet vetoes everything
    assert(Lake.pruneChangeFeedLanding(spark, landing,
      Seq(ckptA, s"$root/ckptFresh")) == (0L, 0L))
    // intersection: v1 reclaims (both proved it), v2 survives for B
    val (nv, _) = Lake.pruneChangeFeedLanding(spark, landing,
      Seq(ckptA, ckptB))
    assert(nv == 1L, s"expected only v1 pruned, got $nv versions")
    assert(names().exists(_.startsWith("cdf-v00002-")),
      s"intersection prune deleted the laggard's unread v2: ${names()}")
    // B catches up (same checkpoint, widened glob lists the v2 files);
    // now the intersection covers v2 and it reclaims
    drain(s"$landing/cdf-*.json", ckptB)
    val (nv2, _) = Lake.pruneChangeFeedLanding(spark, landing,
      Seq(ckptA, ckptB))
    assert(nv2 == 1L, s"expected v2 pruned after B caught up, got $nv2")
    assert(!names().exists(_.startsWith("cdf-")), s"data left: ${names()}")
    // a consumer ADDED after the prune: the landing's sealed versions
    // have no data — the intact gate refuses instead of a partial fold
    val e = intercept[IllegalArgumentException] {
      Lake.requireLandingIntact(spark, landing)
    }
    assert(e.getMessage.contains("pruned"), e.getMessage)
  }

  test("requireLandingIntact: keyed on prune tombstones, not missing data") {
    // a version sealed with a legitimately EMPTY delta (an empty feed
    // writes zero part files but still seals its marker) must NOT read
    // as gutted — only pruneChangeFeedLanding's own tombstones refuse a
    // fresh consumer
    val root = tmp() + "/cdfintact"
    val dir = s"$root/t"
    val landing = s"$root/landing"
    def mk(r: Range) = r.map(i => (i.toLong, i % 4L)).toDF("id", "k")
    Lake.writeVersioned(spark, mk(1 to 20).repartitionByRange(2, col("id")), dir)
    assert(Lake.exportChangeFeedLanding(spark, dir, landing) == 1L)
    // simulate the empty-delta publish: sealed marker, zero data files
    java.nio.file.Files.write(
      java.nio.file.Paths.get(landing, "_cdf-v00002.done"),
      Array.emptyByteArray)
    Lake.requireLandingIntact(spark, landing) // must pass
    // a real prune leaves a tombstone — and THAT refuses
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType)))
    val q = spark.readStream.schema(schema).json(s"$landing/cdf-*.json")
      .writeStream.format("noop")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val (nv, _) = Lake.pruneChangeFeedLanding(spark, landing, s"$root/ckpt")
    assert(nv == 1L)
    assert(new java.io.File(landing, "_cdf-v00001.pruned").exists(),
      "prune left no tombstone")
    val e = intercept[IllegalArgumentException] {
      Lake.requireLandingIntact(spark, landing)
    }
    assert(e.getMessage.contains("pruned"), e.getMessage)
  }

  test("crashed-publish re-export is byte-identical to the first cut") {
    // The r19 advisor's determinism finding, closed: the export now
    // hash-partitions rows on their own values and sorts within each
    // part — a pure function of the data — so the re-cut after a crash
    // reproduces EXACTLY the bytes a consumer may have already ingested
    // from a partial part it saw by name (coalesce's boundaries follow
    // file-listing order, which nothing fixes across JVMs).
    val root = tmp() + "/cdfdet"
    val dir = s"$root/t"
    val landing = s"$root/landing"
    def mk(r: Range) = r.map(i => (i.toLong, i % 4L)).toDF("id", "k")
    Lake.writeVersioned(spark, mk(1 to 20).repartitionByRange(2, col("id")), dir)
    Lake.appendVersioned(spark, mk(21 to 40).repartitionByRange(3, col("id")), dir)
    assert(Lake.exportChangeFeedLanding(spark, dir, landing) == 2L)
    val ld = new java.io.File(landing)
    def bytesOf(n: String) =
      java.nio.file.Files.readAllBytes(new java.io.File(ld, n).toPath).toSeq
    val v2parts = ld.listFiles().map(_.getName)
      .filter(_.startsWith("cdf-v00002-")).sorted.toSeq
    assert(v2parts.size == 2, s"expected 2 v2 parts, got $v2parts")
    val firstCut = v2parts.map(n => n -> bytesOf(n)).toMap
    // crash window: marker gone, SECOND part gone — the first part was
    // already ingested by a consumer under its name
    assert(new java.io.File(ld, "_cdf-v00002.done").delete())
    assert(new java.io.File(ld, v2parts.last).delete())
    assert(Lake.exportChangeFeedLanding(spark, dir, landing) == 2L)
    v2parts.foreach { n =>
      assert(bytesOf(n) == firstCut(n),
        s"re-exported $n diverged from the bytes the consumer already saw")
    }
  }

  test("change feed spans schema eras: pre-drift commits resolve the evolved schema") {
    val dir = tmp() + "/cdfevo"
    Lake.writeVersioned(spark, Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v"), dir)
    // drifted append: schema chain bootstraps, commit publishes with it
    Lake.appendVersioned(spark,
      Seq((3L, 30.0, "x")).toDF("id", "v", "tag"), dir)
    val feed = Lake.readChangeFeed(spark, dir, 1L, 2L)
    assert(feed.columns.take(3).toSeq == Seq("id", "v", "tag"))
    // era-1 inserts resolve through the evolved read: tag is null there
    assert(feed.filter(col("_commit_version") === 1L &&
      col("tag").isNull).count() == 2)
    assert(feed.filter(col("_commit_version") === 2L &&
      col("tag") === "x").count() == 1)
    // and the incremental view operator folds across the boundary too
    val view = tmp() + "/cdfevo_view"
    Lake.refreshIncremental(spark, dir, view, keys = Seq("id"),
      sumCols = Seq("v"), countCol = "n")
    assert(Lake.readVersioned(spark, view).count() == 3)
  }

  test("shallow clone: zero-copy create, write isolation both directions") {
    val src = tmp() + "/clsrc"; val cl = tmp() + "/clone"
    Lake.writeVersioned(spark,
      (1L to 40L).map(i => (i, i * 10L)).toDF("id", "v")
        .repartitionByRange(4, col("id")), src)
    val dataFiles = (p: String) => {
      val d = new java.io.File(p)
      if (!d.exists()) 0
      else d.listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith("v="))
        .flatMap(_.listFiles()).count(f =>
          f.isFile && f.getName.endsWith(".parquet"))
    }
    val srcFiles = dataFiles(src)
    Lake.shallowClone(spark, src, cl)
    // zero-copy: the clone holds NO data files, yet reads the full table
    assert(dataFiles(cl) == 0, "clone must not copy data files")
    assert(Lake.readVersioned(spark, cl).count() == 40)
    // DV-deletes on a clone refuse: tombstones key files table-relatively
    // and cannot cover external ../src references — without the guard the
    // deleted rows would silently reappear on read (r16 ADVICE)
    val dvOnClone = intercept[IllegalArgumentException](
      Lake.deleteWhereDv(spark, cl, col("id") <= 10L))
    assert(dvOnClone.getMessage.contains("external references"),
      dvOnClone.getMessage)
    // delete on the clone: clone shrinks, source untouched (byte-level:
    // its file census is unchanged)
    Lake.deleteWhere(spark, cl, col("id") <= 10L)
    assert(Lake.readVersioned(spark, cl).count() == 30)
    assert(Lake.readVersioned(spark, src).count() == 40)
    assert(dataFiles(src) == srcFiles, "COW rewrite must land in the clone")
    // append on the clone stays invisible to the source
    Lake.appendVersioned(spark, Seq((99L, 0L)).toDF("id", "v"), cl)
    assert(Lake.readVersioned(spark, cl).count() == 31)
    assert(Lake.readVersioned(spark, src).count() == 40)
    // vacuum on the clone never reclaims source files
    Lake.vacuum(spark, cl, keepLast = 1, orphanGraceMs = 0L)
    assert(Lake.readVersioned(spark, src).count() == 40)
    assert(dataFiles(src) == srcFiles, "clone vacuum must not touch the source")
    // a second clone at the same path refuses; DV-bearing sources refuse
    intercept[IllegalArgumentException](Lake.shallowClone(spark, src, cl))
    val dvSrc = tmp() + "/cldv"
    Lake.writeVersioned(spark, Seq((1L, 1L)).toDF("id", "v"), dvSrc)
    Lake.deleteWhereDv(spark, dvSrc, col("id") === 1L)
    val e = intercept[IllegalArgumentException](
      Lake.shallowClone(spark, dvSrc, tmp() + "/cldv2"))
    assert(e.getMessage.contains("deletion vectors"), e.getMessage)
  }

  test("column mapping: metadata-only rename, append, time travel, drop") {
    val t = tmp() + "/cmap"
    Lake.writeVersioned(spark,
      (1L to 20L).map(i => (i, i * 10L)).toDF("id", "v")
        .repartitionByRange(2, col("id")), t)
    val dataFilesBefore = new java.io.File(t).listFiles()
      .filter(_.isDirectory).filter(_.getName.startsWith("v="))
      .flatMap(_.listFiles()).count(f => f.getName.endsWith(".parquet"))
    // rename is METADATA-ONLY: no new data file appears
    val v2 = Lake.renameColumns(spark, t, Map("id" -> "key"))
    assert(v2 == 2L)
    val afterRename = new java.io.File(t).listFiles()
      .filter(_.isDirectory).filter(_.getName.startsWith("v="))
      .flatMap(_.listFiles()).count(f => f.getName.endsWith(".parquet"))
    assert(afterRename == dataFilesBefore, "rename must not touch data files")
    // head reads resolve through the map
    val head = Lake.readVersioned(spark, t)
    assert(head.schema.fieldNames.toSeq == Seq("key", "v"))
    assert(head.count() == 20)
    assert(head.filter(col("key") <= 5L).count() == 5)
    // time travel BEFORE the rename returns that version's own names
    val v1 = Lake.readVersioned(spark, t, Some(1L))
    assert(v1.schema.fieldNames.toSeq == Seq("id", "v"))
    assert(v1.filter(col("id") <= 5L).count() == 5)
    // append arrives in the NEW logical names; old and new files read as one
    Lake.appendVersioned(spark,
      Seq((21L, 210L), (22L, 220L)).toDF("key", "v"), t)
    val merged = Lake.readVersioned(spark, t)
    assert(merged.count() == 22)
    assert(merged.filter(col("key") === 21L).select("v")
      .collect().head.getLong(0) == 210L)
    // a second rename re-maps onto the SAME frozen physical names
    Lake.renameColumns(spark, t, Map("key" -> "pk"))
    assert(Lake.readVersioned(spark, t).schema.fieldNames.toSeq
      == Seq("pk", "v"))
    assert(Lake.readVersioned(spark, t)
      .agg(sum(col("pk"))).collect().head.getLong(0) == (1L to 22L).sum)
    // metadata-only DROP: column disappears at head, survives in history
    Lake.dropColumns(spark, t, Seq("v"))
    assert(Lake.readVersioned(spark, t).schema.fieldNames.toSeq == Seq("pk"))
    assert(Lake.readVersioned(spark, t, Some(1L)).schema.fieldNames.toSeq
      == Seq("id", "v"), "pre-drop version keeps its own full schema")
    // appends after the drop carry the reduced logical set
    Lake.appendVersioned(spark, Seq(Tuple1(23L)).toDF("pk"), t)
    assert(Lake.readVersioned(spark, t).count() == 23)
  }

  test("column mapping: mutation ops refuse; materializeMapping clears") {
    val t = tmp() + "/cmapg"
    Lake.writeVersioned(spark,
      (1L to 10L).map(i => (i, i * 2L)).toDF("id", "v"), t)
    Lake.renameColumns(spark, t, Map("id" -> "key"))
    // physical-name operations refuse loudly instead of silently drifting
    for ((name, op) <- Seq[(String, () => Any)](
      ("deleteWhere", () => Lake.deleteWhere(spark, t, col("key") === 1L)),
      ("deleteWhereDv", () => Lake.deleteWhereDv(spark, t, col("key") === 1L)),
      ("mergeInto", () => Lake.mergeInto(spark, t,
        Seq((1L, 5L)).toDF("key", "v"), Seq("key"))),
      ("optimizeVersioned", () => Lake.optimizeVersioned(spark, t)),
      ("writeStats", () => Lake.writeStats(spark, t, Seq("key"))),
      ("readChangeFeed", () => Lake.readChangeFeed(spark, t, 1L, 2L)),
      // a snapshot overwrite would publish a manifest with NO colmap,
      // silently discarding the rename — it refuses like the rest
      ("writeVersioned", () => Lake.writeVersioned(spark,
        Seq((1L, 2L)).toDF("key", "v"), t)))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("column mapping"), s"$name: ${e.getMessage}")
    }
    // restore to the pre-rename version restores the old names
    val restored = Lake.restoreVersion(spark, t, 1L)
    assert(Lake.readVersioned(spark, t, Some(restored))
      .schema.fieldNames.toSeq == Seq("id", "v"))
    // re-rename, then materializeMapping rewrites once and clears the map
    Lake.renameColumns(spark, t, Map("id" -> "key"))
    val (mv, rewritten) = Lake.materializeMapping(spark, t)
    assert(rewritten > 0)
    assert(Lake.readVersioned(spark, t, Some(mv))
      .schema.fieldNames.toSeq == Seq("key", "v"))
    // the map is gone: physical-name ops work again
    Lake.deleteWhere(spark, t, col("key") === 1L)
    assert(Lake.readVersioned(spark, t).count() == 9)
    // rename refuses while column-keyed maintenance artifacts exist
    Lake.writeStats(spark, t, Seq("key"))
    val e2 = intercept[IllegalArgumentException](
      Lake.renameColumns(spark, t, Map("key" -> "k2")))
    assert(e2.getMessage.contains("stats"), e2.getMessage)
  }

  test("generated columns: computed when omitted, validated when carried") {
    val t = tmp() + "/gen"
    Lake.writeVersioned(spark,
      (1L to 10L).map(i => (i, i * 2L)).toDF("id", "twice"), t)
    Lake.addGeneratedColumn(spark, t, "twice", "id * 2")
    // omitted → computed (and the frame lands in table column order)
    Lake.appendVersioned(spark, Seq(Tuple1(11L)).toDF("id"), t)
    assert(Lake.readVersioned(spark, t).filter(col("id") === 11L)
      .select("twice").collect().head.getLong(0) == 22L)
    // carried and correct → validated, passes
    Lake.appendVersioned(spark, Seq((12L, 24L)).toDF("id", "twice"), t)
    // carried and WRONG → refused, nothing published
    val e = intercept[IllegalArgumentException](
      Lake.appendVersioned(spark, Seq((13L, 7L)).toDF("id", "twice"), t))
    assert(e.getMessage.contains("GENERATED"), e.getMessage)
    assert(Lake.readVersioned(spark, t).count() == 12)
    // merge source with a violating derivation refuses; a correct one merges
    val e2 = intercept[IllegalArgumentException](
      Lake.mergeInto(spark, t, Seq((5L, 11L)).toDF("id", "twice"), Seq("id")))
    assert(e2.getMessage.contains("GENERATED"), e2.getMessage)
    Lake.mergeInto(spark, t, Seq((5L, 10L)).toDF("id", "twice"), Seq("id"))
    assert(Lake.readVersioned(spark, t).count() == 12)
    // declaring against violating existing data rolls the spec back
    val t2 = tmp() + "/genbad"
    Lake.writeVersioned(spark,
      Seq((1L, 3L), (2L, 4L)).toDF("id", "twice"), t2)
    intercept[IllegalArgumentException](
      Lake.addGeneratedColumn(spark, t2, "twice", "id * 2"))
    assert(Lake.generatedColumns(spark, t2).isEmpty,
      "an invalid generated spec must never stick")
    // expression type must match the declared column type
    val e3 = intercept[IllegalArgumentException](
      Lake.addGeneratedColumn(spark, t, "id", "CAST(twice AS STRING)"))
    assert(e3.getMessage.contains("type"), e3.getMessage)
    // rename refuses while a generated spec references the columns
    val e4 = intercept[IllegalArgumentException](
      Lake.renameColumns(spark, t, Map("id" -> "k")))
    assert(e4.getMessage.contains("GENERATED"), e4.getMessage)
    // drop the spec → rename works again
    Lake.dropGeneratedColumn(spark, t, "twice")
    Lake.renameColumns(spark, t, Map("id" -> "k"))
    assert(Lake.readVersioned(spark, t).schema.fieldNames.head == "k")
  }

  test("generated spec declared after staging gates the publish") {
    val t = tmp() + "/genwap"
    Lake.writeVersioned(spark,
      (1L to 5L).map(i => (i, i * 2L)).toDF("id", "twice"), t)
    // stage rows that violate a derivation that does not exist yet
    val id = Lake.stageAppend(spark,
      Seq((6L, 99L)).toDF("id", "twice"), t)
    // the declaration validates PUBLISHED data only, so it sticks...
    Lake.addGeneratedColumn(spark, t, "twice", "id * 2")
    // ...and the publish-time gate catches the stale stage, unclaiming it
    val e = intercept[IllegalArgumentException](
      Lake.publishStaged(spark, t, id))
    assert(e.getMessage.contains("GENERATED"), e.getMessage)
    Lake.abortStaged(spark, t, id)
    assert(Lake.readVersioned(spark, t).count() == 5)
    // a correctly-derived stage still publishes
    val id2 = Lake.stageAppend(spark, Seq((7L, 14L)).toDF("id", "twice"), t)
    Lake.publishStaged(spark, t, id2)
    assert(Lake.readVersioned(spark, t).count() == 6)
  }

  test("restore refuses a version violating current generated/check specs") {
    val t = tmp() + "/genrestore"
    // v1 carries a wrong derivation; v2 snapshots valid rows over it
    Lake.writeVersioned(spark, Seq((1L, 3L), (2L, 4L)).toDF("id", "twice"), t)
    Lake.writeVersioned(spark,
      (1L to 5L).map(i => (i, i * 2L)).toDF("id", "twice"), t)
    // the spec validates HEAD (v2, all correct) and sticks — but restoring
    // v1 would re-publish pre-spec rows where twice != id*2 at head,
    // breaking the no-commit-publishes-a-violating-row invariant
    Lake.addGeneratedColumn(spark, t, "twice", "id * 2")
    val e = intercept[IllegalArgumentException](
      Lake.restoreVersion(spark, t, 1L))
    assert(e.getMessage.contains("GENERATED"), e.getMessage)
    assert(Lake.readVersioned(spark, t).count() == 5, "refusal publishes nothing")
    // CHECK constraints gate restore the same way: v1's twice=3 is odd
    Lake.dropGeneratedColumn(spark, t, "twice")
    Lake.addCheckConstraint(spark, t, "twice_even", "twice % 2 = 0")
    val e2 = intercept[IllegalArgumentException](
      Lake.restoreVersion(spark, t, 1L))
    assert(e2.getMessage.contains("CHECK"), e2.getMessage)
    // a restore target that satisfies the specs still restores
    Lake.appendVersioned(spark, Seq((6L, 12L)).toDF("id", "twice"), t)
    val restored = Lake.restoreVersion(spark, t, 2L)
    assert(Lake.readVersioned(spark, t, Some(restored)).count() == 5)
  }

  test("symlink export lists exactly the live files; snapshot + refusal contracts") {
    val t = tmp() + "/sym"
    Lake.writeVersioned(spark,
      (1L to 20L).map(i => (i, i * 10L)).toDF("id", "v")
        .repartitionByRange(2, col("id")), t)
    Lake.deleteWhere(spark, t, col("id") <= 5L)
    val n = Lake.exportSymlinkManifest(spark, t)
    assert(n > 0)
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(t, "_symlink_format_manifest", "manifest"))
      .toArray.map(_.toString).filter(_.nonEmpty).toSeq
    assert(lines.size == n)
    // the external-engine read: plain parquet over the listing equals the
    // versioned read — retired pre-delete files are NOT listed
    val viaManifest = spark.read.parquet(lines: _*)
    assert(viaManifest.count() == 15)
    assert(viaManifest.agg(sum(col("id"))).collect().head.getLong(0)
      == (6L to 20L).sum)
    // SNAPSHOT contract: stale until re-exported, then current
    Lake.appendVersioned(spark, Seq((21L, 210L)).toDF("id", "v"), t)
    val stale = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(t, "_symlink_format_manifest", "manifest"))
      .toArray.map(_.toString).filter(_.nonEmpty).toSeq
    assert(stale == lines, "export must be a snapshot, not live")
    Lake.exportSymlinkManifest(spark, t)
    val fresh = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(t, "_symlink_format_manifest", "manifest"))
      .toArray.map(_.toString).filter(_.nonEmpty).toSeq
    assert(spark.read.parquet(fresh: _*).count() == 16)
    // refusals: DVs (tombstones invisible to external engines) and
    // column mappings (physical names would leak)
    val dvT = tmp() + "/symdv"
    Lake.writeVersioned(spark, Seq((1L, 1L), (2L, 2L)).toDF("id", "v"), dvT)
    Lake.deleteWhereDv(spark, dvT, col("id") === 1L)
    val e1 = intercept[IllegalArgumentException](
      Lake.exportSymlinkManifest(spark, dvT))
    assert(e1.getMessage.contains("deletion vectors"), e1.getMessage)
    val cmT = tmp() + "/symcm"
    Lake.writeVersioned(spark, Seq((1L, 1L)).toDF("id", "v"), cmT)
    Lake.renameColumns(spark, cmT, Map("id" -> "key"))
    val e2 = intercept[IllegalArgumentException](
      Lake.exportSymlinkManifest(spark, cmT))
    assert(e2.getMessage.contains("column mapping"), e2.getMessage)
  }

  test("column mapping + auto-optimize: appends stay exactly-once (no retry storm)") {
    // regression: optimizeVersioned refuses mapped tables, and its throw
    // INSIDE appendVersioned's post-publish hook looked exactly like a
    // lost manifest race to the rebase loop — every retry re-published
    // the same batch (duplicate rows). maybeAutoOptimize now skips
    // mapped tables silently.
    val t = tmp() + "/cmapao"
    Lake.writeVersioned(spark,
      (1L to 10L).map(i => (i, i * 2L)).toDF("id", "v"), t)
    Lake.setAutoOptimize(spark, t, smallFileLimit = 2,
      targetFileBytes = 128L << 20)
    Lake.renameColumns(spark, t, Map("id" -> "key"))
    // several small appends would trip the policy on an unmapped table
    for (i <- 11L to 14L)
      Lake.appendVersioned(spark, Seq((i, i * 2L)).toDF("key", "v"), t)
    val got = Lake.readVersioned(spark, t)
    assert(got.count() == 14, "a retried publish duplicated the batch")
    assert(got.select("key").as[Long].collect().sorted.toSeq
      == (1L to 14L), "duplicate or missing keys after mapped appends")
    // once the map is materialized away, the policy resumes
    Lake.materializeMapping(spark, t)
    Lake.appendVersioned(spark, Seq((15L, 30L)).toDF("key", "v"), t)
    assert(Lake.readVersioned(spark, t).count() == 15)
  }

  test("column mapping survives vacuum's checkpoint materialization") {
    val t = tmp() + "/cmapv"
    Lake.writeVersioned(spark,
      (1L to 10L).map(i => (i, i * 2L)).toDF("id", "v"), t)
    Lake.appendVersioned(spark, Seq((11L, 22L)).toDF("id", "v"), t)
    Lake.renameColumns(spark, t, Map("v" -> "val"))
    Lake.appendVersioned(spark, Seq((12L, 24L)).toDF("id", "val"), t)
    // drop the early versions; the kept chain is re-checkpointed
    Lake.vacuum(spark, t, keepLast = 2, orphanGraceMs = 0L)
    val head = Lake.readVersioned(spark, t)
    assert(head.schema.fieldNames.toSeq == Seq("id", "val"))
    assert(head.count() == 12)
    assert(head.agg(sum(col("val"))).collect().head.getLong(0)
      == (1L to 12L).map(_ * 2L).sum)
  }

  test("join-view incremental fold equals recompute across fact+dim changes") {
    val fact = tmp() + "/jf"; val dim = tmp() + "/jd"; val view = tmp() + "/jv"
    Lake.writeVersioned(spark,
      Seq((1L, 10L), (1L, 5L), (2L, 7L), (3L, 1L)).toDF("k", "x"), fact)
    Lake.writeVersioned(spark,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "g"), dim)
    def fold() = Lake.refreshJoinIncremental(spark, fact, dim, view,
      joinKeys = Seq("k"), groupKeys = Seq("g"), sumCols = Seq("x"),
      countCol = "n")
    fold()
    def got = Lake.readVersioned(spark, view).orderBy("g")
      .select("g", "n", "x").as[(String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", 3L, 22L), ("b", 1L, 1L)))
    // fact-only change folds against the dim's last version
    Lake.appendVersioned(spark, Seq((2L, 100L)).toDF("k", "x"), fact)
    fold()
    assert(got == Seq(("a", 4L, 122L), ("b", 1L, 1L)))
    // dim-only change: k=2 moves a -> b — the feed's delete+insert pair
    // must retract k2's mass from 'a' and land it whole on 'b'
    Lake.mergeCdc(spark, dim,
      Seq((2L, "b", false)).toDF("k", "g", "_is_deleted"),
      Seq("k"), col("_is_deleted"))
    fold()
    assert(got == Seq(("a", 2L, 15L), ("b", 3L, 108L)))
    // BOTH sides change in one fold: the fact delete joins the dim at its
    // LAST-FOLDED version, the dim delete joins the fact at its new head
    Lake.deleteWhere(spark, fact, col("x") === 5L)
    Lake.mergeCdc(spark, dim,
      Seq((3L, "b", true)).toDF("k", "g", "_is_deleted"),
      Seq("k"), col("_is_deleted"))
    fold()
    assert(got == Seq(("a", 1L, 10L), ("b", 2L, 107L)))
    // matches a from-scratch recompute of the same join+aggregate
    val recomputed = Lake.readVersioned(spark, fact)
      .join(Lake.readVersioned(spark, dim), "k")
      .groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("x"))
      .orderBy("g").select("g", "n", "x")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == recomputed)
    // nothing new: the fold is a no-op and publishes no version
    val (v1, _, _) = fold()
    val (v2, _, _) = fold()
    assert(v1 == v2, "a no-change fold must not publish a new version")
  }

  test("drifted append keeps the skipping manifest live") {
    val dir = tmp() + "/evostat"
    Lake.writeVersioned(spark,
      (1L to 40L).map(i => (i, i * 2.0)).toDF("id", "v")
        .repartitionByRange(4, col("id")), dir)
    Lake.writeStats(spark, dir, Seq("id"))
    // drift: new column arrives; the evolve-append must extend the stats
    // manifest over its files or every later skip read refuses as stale
    Lake.appendVersioned(spark,
      (41L to 50L).map(i => (i, i * 2.0, "t")).toDF("id", "v", "tag")
        .repartition(1), dir)
    val skipped = Lake.readSkipping(spark, dir,
      Lake.skipRange("id", lit(42L), lit(45L)))
    assert(skipped.filter(col("id").between(42L, 45L)).count() == 4)
    // the pruned read opened only the appended-era file(s)
    assert(skipped.inputFiles.length == 1, skipped.inputFiles.mkString(","))
  }

  test("change feed refuses ranges the vacuum horizon consumed") {
    val dir = tmp() + "/cdfvac"
    val view = tmp() + "/cdfvac_view"
    def mk(r: Range) = r.map(i => (i.toLong, (i % 3).toString)).toDF("id", "s")
    Lake.writeVersioned(spark, mk(1 to 20), dir) // v1
    // a view maintained from v1 — about to be stranded by the vacuum
    Lake.refreshIncremental(spark, dir, view, keys = Seq("s"), countCol = "n")
    Lake.appendVersioned(spark, mk(21 to 30), dir) // v2
    Lake.appendVersioned(spark, mk(31 to 40), dir) // v3
    Lake.vacuum(spark, dir, keepLast = 2, orphanGraceMs = 0L) // drops v1; v2 materialized
    // a range containing the vacuumed version refuses — silently omitting
    // its changes would desynchronize every incremental consumer
    val e1 = intercept[IllegalArgumentException](
      Lake.readChangeFeed(spark, dir, 1L, 3L))
    assert(e1.getMessage.contains("vacuumed past retention"), e1.getMessage)
    // the materialized horizon version (full manifest, v>1) must not be
    // re-fed as whole-table inserts: its predecessor is gone, so it
    // refuses loudly instead of fabricating changes
    val e2 = intercept[RuntimeException](
      Lake.readChangeFeed(spark, dir, 2L, 3L))
    assert(e2.getMessage.contains("manifest"), e2.getMessage)
    // the still-delta tail keeps feeding normally
    assert(Lake.readChangeFeed(spark, dir, 3L, 3L)
      .filter(col("_change_type") === "insert").count() == 10)
    // the stranded view's incremental refresh (feed 2..3 with v1 gone)
    // fails LOUDLY, and forceFull re-baselines it at the head
    intercept[RuntimeException](Lake.refreshIncremental(spark, dir, view,
      keys = Seq("s"), countCol = "n"))
    Lake.refreshIncremental(spark, dir, view,
      keys = Seq("s"), countCol = "n", forceFull = true)
    val got = Lake.readVersioned(spark, view).orderBy("s")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val want = Lake.readVersioned(spark, dir).groupBy("s")
      .agg(count(lit(1)).as("n")).orderBy("s")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("keyed change feed classifies merge rewrites as update pre/post images") {
    val dir = tmp() + "/cdfkeys"
    Lake.writeVersioned(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
        .repartition(1), dir)
    // merge: update k=2, insert k=4 → ONE commit rewriting the single file
    Lake.mergeInto(spark, dir,
      Seq((2L, "B"), (4L, "d")).toDF("k", "s"), Seq("k"))
    val feed = Lake.readChangeFeedKeyed(spark, dir, 2L, 2L, keys = Seq("k"))
      .select("k", "s", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    // carried rows (k=1,3) — re-emitted by the file rewrite with identical
    // payloads — are NO-OPS (Delta table_changes semantics), not phantom
    // updates; the true update pairs; the new key stays a plain insert
    assert(feed == Set(
      (2L, "b", "update_preimage"), (2L, "B", "update_postimage"),
      (4L, "d", "insert")), feed.toString)
    // retraction semantics are preserved: pre-images count −1, post +1,
    // so a downstream fold through the keyed feed lands identically
    val w = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .otherwise(-1L)
    val net = Lake.readChangeFeedKeyed(spark, dir, 2L, 2L, keys = Seq("k"))
      .agg(sum(w)).head().getLong(0)
    assert(net == 1L) // one net new row (k=4)
  }

  test("scd2FromFeed: version-axis intervals, re-opened and null payloads") {
    val dir = tmp() + "/scd2"
    Lake.writeVersioned(spark,
      Seq((1L, "a"), (2L, null.asInstanceOf[String])).toDF("k", "s"), dir)
    Lake.mergeInto(spark, dir, Seq((1L, "A")).toDF("k", "s"), Seq("k"))
    Lake.mergeCdc(spark, dir,
      Seq((2L, "x", true)).toDF("k", "s", "_del"), Seq("k"), col("_del"))
    Lake.mergeInto(spark, dir,
      Seq((1L, "a"), (3L, "c")).toDF("k", "s"), Seq("k"))
    val got = Lake.scd2FromFeed(spark, dir, 1L, 4L).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).orNull,
        r.getLong(2), r.getLong(3), r.getInt(4))).toSet
    assert(got == Set(
      (1L, "a", 1L, 2L, 0), // superseded by "A"
      (1L, "A", 2L, 4L, 0), // superseded by the re-opened "a"
      (1L, "a", 4L, -1L, 1), // same payload re-opens a FRESH interval
      (2L, null, 1L, 3L, 0), // null payload pairs via the null-safe join
      (3L, "c", 4L, -1L, 1)), got.toString)
  }

  test("drifted append on a constrained table refuses before touching the schema chain") {
    val dir = tmp() + "/cdrift"
    Lake.writeVersioned(spark, Seq((1L, 1.0)).toDF("id", "v"), dir)
    Lake.addCheckConstraint(spark, dir, "pos_id", "id > 0")
    val e = intercept[IllegalArgumentException](Lake.appendVersioned(spark,
      Seq((2L, 2.0, "t")).toDF("id", "v", "tag"), dir))
    assert(e.getMessage.contains("CHECK constraints"), e.getMessage)
    // no schema-chain leftovers: the table stays plain and appendable
    assert(Lake.schemaVersions(spark, dir).isEmpty)
    Lake.appendVersioned(spark, Seq((3L, 3.0)).toDF("id", "v"), dir)
    assert(Lake.readVersioned(spark, dir).count() == 2)
  }

  test("INVALID drift on a plain table refuses before touching the schema chain") {
    val dir = tmp() + "/idrift"
    Lake.writeVersioned(spark, Seq((1L, 1.0)).toDF("id", "v"), dir)
    // dropped column: different shape than current schema → drift path,
    // but an ILLEGAL drift — must refuse with no v1 chain entry on disk
    val e1 = intercept[IllegalArgumentException](Lake.appendVersioned(spark,
      Seq(2L).toDF("id"), dir))
    assert(e1.getMessage.contains("dropping columns"), e1.getMessage)
    assert(Lake.schemaVersions(spark, dir).isEmpty,
      "invalid drift leaked a schema chain, flipping the table evolving")
    // narrowed column: double -> float is equally refused, equally clean
    val e2 = intercept[IllegalArgumentException](Lake.appendVersioned(spark,
      Seq((2L, 2.0f)).toDF("id", "v"), dir))
    assert(e2.getMessage.contains("widening"), e2.getMessage)
    assert(Lake.schemaVersions(spark, dir).isEmpty)
    // the table is still PLAIN and appendable, and a VALID additive drift
    // still bootstraps the chain and lands as schema v2
    Lake.appendVersioned(spark, Seq((3L, 3.0)).toDF("id", "v"), dir)
    Lake.appendVersioned(spark, Seq((4L, 4.0, "t")).toDF("id", "v", "tag"), dir)
    assert(Lake.schemaVersions(spark, dir).nonEmpty)
    assert(Lake.readVersioned(spark, dir).count() == 3)
  }

  test("refreshIncremental maintains an aggregate view from the feed alone") {
    val root = tmp()
    val src = root + "/src"
    val view = root + "/view"
    def mk(r: Range) = r.map(i => (i.toLong % 5, i.toLong)).toDF("k", "v")
    Lake.writeVersioned(spark, mk(1 to 40).repartitionByRange(4, col("v")), src)
    // full compute + watermark rides the commit
    val (v1, w1) = Lake.refreshIncremental(spark, src, view,
      keys = Seq("k"), sumCols = Seq("v"), countCol = "n")
    assert(w1 == 1L)
    // no-op while the source is unchanged
    assert(Lake.refreshIncremental(spark, src, view,
      keys = Seq("k"), sumCols = Seq("v"), countCol = "n") == ((v1, 1L)))
    // append + delete on the source, ONE incremental fold
    Lake.appendVersioned(spark, mk(41 to 50).repartition(1), src)
    Lake.deleteWhere(spark, src, col("v") <= 10L)
    val (_, w2) = Lake.refreshIncremental(spark, src, view,
      keys = Seq("k"), sumCols = Seq("v"), countCol = "n")
    assert(w2 == 3L)
    val got = Lake.readVersioned(spark, view)
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = Lake.readVersioned(spark, src)
      .groupBy("k").agg(count(lit(1)).as("n"), sum("v").as("v"))
      .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq,
      s"incremental view diverged: ${got.toSeq} vs ${want.toSeq}")
    // a key whose rows all vanish leaves the view entirely
    Lake.deleteWhere(spark, src, col("k") === 2L)
    Lake.refreshIncremental(spark, src, view,
      keys = Seq("k"), sumCols = Seq("v"), countCol = "n")
    assert(Lake.readVersioned(spark, view).filter(col("k") === 2L).isEmpty)
    // replayed refresh of the same source version is a no-op
    val before = Lake.listVersions(spark, view)
    Lake.refreshIncremental(spark, src, view,
      keys = Seq("k"), sumCols = Seq("v"), countCol = "n")
    assert(Lake.listVersions(spark, view) == before)
  }

  test("refreshIncremental survives a fold window whose sumCol is all NULL") {
    val root = tmp()
    val src = root + "/nsrc"
    val view = root + "/nview"
    Lake.writeVersioned(spark,
      Seq((1L, Some(10L)), (1L, Some(5L))).toDF("k", "v"), src)
    Lake.refreshIncremental(spark, src, view,
      keys = Seq("k"), sumCols = Seq("v"), countCol = "n")
    // every changed row in this fold window carries NULL in v:
    // sum(v * sign) is NULL and must NOT overwrite the accumulated 15
    Lake.appendVersioned(spark,
      Seq((1L, Option.empty[Long]), (1L, Option.empty[Long])).toDF("k", "v"),
      src)
    Lake.refreshIncremental(spark, src, view,
      keys = Seq("k"), sumCols = Seq("v"), countCol = "n")
    val r1 = Lake.readVersioned(spark, view).collect()
    assert(r1.length == 1 && r1(0).getLong(1) == 4L && r1(0).getLong(2) == 15L,
      s"NULL fold window corrupted the view: ${r1.toSeq}")
    // and the NEXT fold must still see 15, not a silent rebase from 0
    Lake.appendVersioned(spark, Seq((1L, Some(100L))).toDF("k", "v"), src)
    Lake.refreshIncremental(spark, src, view,
      keys = Seq("k"), sumCols = Seq("v"), countCol = "n")
    val r2 = Lake.readVersioned(spark, view).collect()
    assert(r2.length == 1 && r2(0).getLong(2) == 115L,
      s"sum rebased after NULL window: ${r2.toSeq}")
  }

  test("csv, json, and orc round-trip the same rows") {
    val df = sample
    for (fmt <- Seq("csv", "json", "orc")) {
      val dir = tmp()
      Lake.write(df, dir, fmt)
      val back = Lake.read(spark, dir, fmt,
        schema = if (fmt == "orc") None else Some(df.schema))
      assert(back.select(df.columns.map(col): _*).collect().toSet
        == df.collect().toSet, s"$fmt roundtrip")
    }
  }

  test("time travel across a schema evolution reads each version's own schema") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val dir = tmp() + "/evtravel"
    Lake.writeVersioned(spark, Seq((1L, 10), (2L, 20)).toDF("id", "v"), dir)
    // v2: a drifted append adds `tag`; v3: `v` renamed (and widened) to
    // `value`; v4: a delete
    Lake.appendVersioned(spark, Seq((3L, 30, "x")).toDF("id", "v", "tag"), dir)
    Lake.writeEvolving(spark, Seq((4L, 40L, "y")).toDF("id", "value", "tag"),
      dir, renames = Map("v" -> "value"))
    Lake.deleteWhere(spark, dir, col("id") === 2L)
    assert(Lake.listVersions(spark, dir) == Seq(1L, 2L, 3L, 4L))
    assert(Lake.schemaVersions(spark, dir) == Seq(1L, 2L, 3L))
    def at(v: Option[Long]) = {
      val df = Lake.readVersioned(spark, dir, v)
      (df.columns.toSeq, df.orderBy("id").collect().map(_.toString).toSeq)
    }
    // before the evolution: that version's own columns and rows
    assert(at(Some(1L)) == ((Seq("id", "v"), Seq("[1,10]", "[2,20]"))))
    assert(Lake.readVersioned(spark, dir, Some(1L)).schema("v").dataType ==
      IntegerType)
    // at each evolution and at the head: the folded logical columns
    assert(at(Some(2L)) == ((Seq("id", "v", "tag"),
      Seq("[1,10,null]", "[2,20,null]", "[3,30,x]"))))
    assert(at(Some(3L)) == ((Seq("id", "value", "tag"),
      Seq("[1,10,null]", "[2,20,null]", "[3,30,x]", "[4,40,y]"))))
    assert(Lake.readVersioned(spark, dir, Some(3L)).schema("value").dataType ==
      LongType)
    assert(at(None) == ((Seq("id", "value", "tag"),
      Seq("[1,10,null]", "[3,30,x]", "[4,40,y]"))))
  }
}
