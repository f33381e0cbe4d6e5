package graft

import org.apache.spark.sql.functions._

/** Empirical scale-growth check (not part of the driver contract).
  *
  * `ScaleUp` replicates the sf0.1 testdata ×N inside the repo working dir
  * (dims kept single-copy, large tables key-offset per replica so FK joins
  * and the deterministic `% k` sampling classes are preserved — the offset
  * 1e10 is divisible by every modulus the queries sample with), and
  * `ScaleCheck` times the flagship queries on both dirs and prints the
  * runtime growth ratio per query. A ratio far above the data growth
  * factor flags a super-linear (quadratic) operator that small-SF
  * correctness runs can't see; BASELINE.md records the measured table.
  */
object ScaleUp {
  // int64 key columns to offset per replica; tables absent here are copied
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "nation" -> Seq.empty,
    "region" -> Seq.empty,
  )
  val Offset = 10000000000L // 1e10: % {7,10,25,50,100,...} classes preserved

  def main(args: Array[String]): Unit = {
    val (src, dst, factor) = (args(0), args(1), args(2).toInt)
    val spark = Session()
    keyCols.foreach { case (table, keys) =>
      // events goes through the schema-adaptive reader: a raw read of the
      // micros-era testdata loads TIMESTAMP_NTZ and the replica would be
      // WRITTEN as true NTZ (Spark's writer marks it, so readers can't
      // re-infer it away) — every ts-instant query then fails on the
      // replica with a type mismatch the original testdata never shows
      val base =
        if (table == "events") Tables.events(spark, src)
        else Tables(spark, src, table)
      val out =
        if (keys.isEmpty || factor <= 1) base
        else (0 until factor).map { i =>
          keys.foldLeft(base)((df, k) =>
            df.withColumn(k, col(k) + lit(i * Offset)))
        }.reduce(_.unionByName(_))
      out.write.mode("overwrite").parquet(s"$dst/$table.parquet")
      println(s"[scaleup] $table x${if (keys.isEmpty) 1 else factor}")
    }
    spark.stop()
  }
}

/** Build-vs-screen split for the incremental dedup screen (r6 verdict
  * item 8): the 100 TB claim rests on SCREEN-only growth — the one-time
  * signature-index build is corpus-proportional by nature and amortized
  * over every screen, so the two must be timed separately. Also prints the
  * manifest probe-pruning ratio (index files read / total), the mechanism
  * that bounds screen I/O by the batch, not the corpus.
  */
object SignatureScreenBench {
  def main(args: Array[String]): Unit = {
    val spark = Session()
    spark.range(1000).selectExpr("sum(id)").collect()
    args.foreach { dir =>
      val t0 = System.nanoTime()
      graft.operators.OperatorQueries.prebuildSignatureIndex(spark, dir)
      val build = (System.nanoTime() - t0) / 1e9
      val screens = (1 to 3).map { _ =>
        val t = System.nanoTime()
        SparkEntry.queries("dedup_incremental")(spark, dir).count()
        (System.nanoTime() - t) / 1e9
      }
      val (kept, total) = graft.operators.OperatorQueries.screenPruneStats(spark, dir)
      println(f"$dir%-24s build=$build%6.2fs screens=${
        screens.map(s => f"$s%.2f").mkString(",")}s files=$kept/$total")
    }
    spark.stop()
  }
}

/** Delete-cost scaling for file-granular versioned commits (r7 verdict
  * item 1): deleteWhere must cost ∝ MATCHED files, not corpus. Build a
  * versioned events table range-laid on user_id at a FIXED rows-per-file
  * target (so the file count grows with the corpus), delete a fixed
  * user-id range with a `_graft_stats` filePrune, and print build/delete
  * times plus rewritten-vs-total file counts. On the 10× replica (user
  * ids offset per replica) the matched range lives in ~the same few
  * files, so rewritten files and delete time stay ~flat while total
  * files grow 10× — the evidence BASELINE.md records.
  */
object DeleteBench {
  def main(args: Array[String]): Unit = {
    val spark = Session()
    spark.range(1000).selectExpr("sum(id)").collect()
    import graft.sources.Lake
    args.foreach { dir =>
      val events = Tables.events(spark, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      // fixed rows-per-file: the file count GROWS with the corpus, which
      // is the regime the matched-files claim is about (production:
      // fixed ~128 MB files)
      val nFiles = math.max(8L, events.count() / 20000L).toInt
      val path = s"${graft.pipeline.Scratch.dir("delbench")}/t"
      val t0 = System.nanoTime()
      Lake.writeVersioned(spark,
        events.repartitionByRange(nFiles, col("user_id")), path)
      Lake.writeStats(spark, path, Seq("user_id"))
      val build = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (v, removed) = Lake.deleteWhere(spark, path,
        col("user_id").between(4L, 8L),
        filePrune = Some(Lake.skipRange("user_id", lit(4L), lit(8L))))
      val del = (System.nanoTime() - t1) / 1e9
      val rewritten = new java.io.File(s"$path/v=$v").listFiles()
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
      println(f"$dir%-24s build=$build%6.2fs delete=$del%6.2fs " +
        f"removed=$removed rewritten=$rewritten/$nFiles files")
    }
    spark.stop()
  }
}

object ScaleCheck {
  private val flagship = Seq(
    "q1_agg", "q3_shipping", "q5_nation_revenue", "q18_big_orders",
    "fact_events", "q_sessionize", "dedup_exact", "doc_lang_id",
    "dedup_minhash", "ann_knn_heap", "dedup_clusters", "q_dedup_retain",
    "q2_min_cost_supp", "q21_waiting_supp", "doc_decontam", "doc_chunking",
    "doc_pack_sequences", "mm_audio_features", "q_funnel_conversion",
    "q8_market_share", "q9_profit", "q20_part_suppliers", "q22_idle_custs",
    "q_cohort_retention", "cdc_scd2", "ann_lsh_md5", "doc_winnow_fp",
    "mm_frame_sample", "ann_lsh", "doc_pii_scrub", "lake_skipping",
    "ann_ivf_int", "ann_ivf", "embedding_neardup", "dedup_ngram_jaccard",
    "dag_incremental", "lake_time_travel", "mm_features", "bpe_merges",
    "lake_partition_prune", "lake_zorder_skip", "emb_semdedup",
    "doc_cross_overlap", "doc_bm25", "doc_pagerank", "doc_quality_filter",
    "dedup_incremental", "lake_schema_evolution", "q_approx_distinct",
    "lake_delete_prune", "lake_type_widening", "dedup_admit_rescreen",
    "lake_append_optimize", "lake_merge_upsert", "lake_merge_cdc",
    "lake_rerange", "lake_stream_versioned", "lake_zorder_versioned",
    "lake_check_constraint", "lake_restore", "lake_cdf_refresh",
    "lake_schema_drift", "q_sql_lake", "doc_bloom_decontam",
    "lake_mv_refresh", "lake_history", "lake_scd2_feed",
    "stream_silver_equiv", "stream_gold_incremental", "cdc_scd1",
    "sketch_source_sim", "q_percentiles", "q_triangle_count",
    "q_skyline_3d", "emb_corr_matrix", "dedup_simhash",
    "doc_dsir_weight", "doc_lm_score", "doc_hybrid_rrf",
    "q_orc_source", "q_csv_source",
    "q_json_source", "stream_static_join_equiv", "stream_outer_join_equiv",
    "dq_k_anonymity", "doc_url_dedup", "dedup_entity_resolution",
    "stream_full_outer_join_equiv", "dq_l_diversity", "doc_nfc_normalize",
    "stream_semi_join_equiv", "dq_psi_drift", "doc_domain_filter",
    "doc_gopher_rules", "q_grid_neighbor_join", "q_interval_merge",
    "q_bfs_reach", "stream_anti_join_equiv", "stream_right_outer_join_equiv",
    "stream_sliding_window_equiv", "dq_seasonal_anomaly", "emb_kmeans",
    "lake_mv_join_refresh", "stream_tws_equiv", "lake_shallow_clone",
    "dedup_containment", "doc_leakage_safe_split", "q_string_agg",
    "dq_fd_profile", "q_ohlc_bars", "q_weighted_median",
    "q_avro_source", "lake_column_mapping", "stream_tws_timer_equiv",
    "stream_chained_equiv", "q_label_propagation", "lake_symlink_export",
    "lake_generated_column", "emb_matryoshka", "dq_benford",
    "doc_heaps_growth", "stream_cdf_equiv", "stream_restart_equiv",
    "lake_vacuum", "doc_boilerplate_strip", "emb_pq", "stream_cdf_scd1",
    "emb_pq_adc", "doc_substring_dedup", "ann_ivf_pq", "ann_pq_persisted",
    "ann_ivfadc", "stream_mv_refresh", "stream_cdf_unordered",
    "stream_cdf_retention", "doc_substring_spans", "ann_ivfadc_persisted",
    "ann_binary_rerank", "ann_recall_audit", "stream_mv_join_refresh",
    "stream_mv_dim_refresh", "mm_patch_grid", "stream_cdf_parquet",
    "lake_vacuum_cdf", "stream_mv_dim_backfill", "ann_ivfadc_partitioned",
    "ann_ivfadc_recall", "stream_cdf_multiconsumer")

  def main(args: Array[String]): Unit = {
    val (smallDir, bigDir) = (args(0), args(1))
    // optional 3rd+ args: restrict to named queries (local iteration)
    val only = args.drop(2).toSet
    val picked = if (only.isEmpty) flagship else flagship.filter(only)
    val spark = Session()
    spark.range(1000).selectExpr("sum(id)").collect() // warm the JVM

    // best-of-two: the first execution of a query pays one-time JVM +
    // codegen warmup that would otherwise masquerade as scale growth
    def time(name: String, dir: String): Double =
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir).count()
        (System.nanoTime() - t0) / 1e9
      }.min
    println(f"${"query"}%-20s ${"small_s"}%8s ${"big_s"}%8s ${"ratio"}%6s")
    picked.foreach { q =>
      val s = time(q, smallDir)
      val b = time(q, bigDir)
      println(f"$q%-20s $s%8.2f $b%8.2f ${b / s}%6.1f")
    }
    spark.stop()
  }
}
