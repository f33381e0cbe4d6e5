package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: formatted physical plans of flagship queries with
  * the properties each one is expected to exhibit. Run via
  * `sbt "Test/runMain graft.DumpPlans"` after operator changes.
  */
object DumpPlans {

  private val commentary = Map(
    "fact_events" -> ("reference star-schema fact build" ::
      "expect: BroadcastHashJoin on both dims (no shuffle of the fact), " +
      "two-phase HashAggregate, scan pushes the quality-flag filter" :: Nil),
    "q18_big_orders" -> ("deep relational: HAVING semi-join + 3-way join + top-k" ::
      "expect: the HAVING aggregate feeds a semi/hash join (fact filtered " +
      "before the wide joins), final TakeOrderedAndProject (no global sort)" :: Nil),
    "q_asof_attribution" -> ("as-of join via union + window sweep" ::
      "expect: NO join operator for the as-of itself, exactly one " +
      "hash-partitioning Exchange on user_id" :: Nil),
    "q_range_interval_join" -> ("binned range join, both sides fact-sized" ::
      "expect: equi SortMerge/ShuffledHash join on (user_id, bin), no " +
      "NestedLoop/Cartesian" :: Nil),
    "dedup_exact" -> ("exact dedup" ::
      "expect: md5 computed before the shuffle; only (hash, id) columns " +
      "cross the Exchange, never document bodies" :: Nil),
    "ann_topk" -> ("brute-force cosine top-k baseline" ::
      "expect: broadcast of the query vectors, native cosine_sim inside " +
      "WholeStageCodegen, TakeOrderedAndProject for the top-k" :: Nil),
    "q2_min_cost_supp" -> ("decorrelated scalar-min subquery (TPC-H Q2 shape)" ::
      "expect: best-offer-per-part as ONE window min over the reduced " +
      "offers aggregate (no second aggregate, no fact-vs-fact equality " +
      "join), part/supplier/nation/region all broadcast; exactly the agg " +
      "+ window + order exchanges" :: Nil),
    "q21_waiting_supp" -> ("EXISTS/NOT EXISTS on the same fact (TPC-H Q21 shape)" ::
      "expect: leftsemi then leftanti hash joins over DISTINCT " +
      "(orderkey, suppkey) pair sets — no correlated subquery execution, " +
      "no cartesian" :: Nil),
    "doc_decontam" -> ("benchmark decontamination" ::
      "expect: the 1% benchmark gram set builds from its own filtered scan " +
      "and BROADCASTs; the training leg is one fused " +
      "scan→shingle→explode→join→agg pass (grams travel as md5, not text)" :: Nil),
    "doc_pack_sequences" -> ("sequence packing (concat-and-chunk)" ::
      "expect: single per-source window (one Exchange on source), integer " +
      "bin arithmetic in the projection, two-phase final aggregate" :: Nil),
    "ann_lsh_md5" -> ("cross-engine LSH ANN (md5 hyperplanes, integer ranking)" ::
      "expect: signature build is ONE narrow codegen'd projection " +
      "(signed_projection_bucket — no explode, no pre-join Exchange); " +
      "candidates from a bucket equi-join; scoring is pairwise " +
      "quantized_dot on the joined float arrays (no explode(dim) q-join, " +
      "no aggregation exchange)" :: Nil),
    "doc_bm25" -> ("BM25 keyword search" ::
      "expect: one-row corpus-stats aggregate BroadcastNestedLoop-crossed " +
      "to the scoring scan (no shuffled join), top-k as " +
      "TakeOrderedAndProject (per-partition heaps, no global sort)" :: Nil),
    "emb_semdedup" -> ("SemDeDup semantic dedup (deterministic clustering)" ::
      "expect: cluster assignment is the codegen'd nearest_centroid " +
      "projection computed ONCE in the persisted relation (one parquet " +
      "scan id); the pair search joins on cluster_id — never a " +
      "CartesianProduct" :: Nil),
    "doc_pagerank" -> ("integer fixed-point PageRank, 3 unrolled rounds" ::
      "expect: per round one edges-ranks equi-join on src plus one " +
      "aggregation Exchange on dst (linear in edges); long arithmetic " +
      "only — div/sum over bigints, no float ops anywhere" :: Nil),
    "dedup_incremental" -> ("incremental near-dup screen vs the Lake signature index" ::
      "expect: the batch scan carries the pushed rank cap " +
      "(LessThan(doc_id,500) — bounded broadcast by construction); " +
      "BroadcastHashJoin of the batch against a probe-pruned index file " +
      "subset; never a SortMergeJoin of the corpus index" :: Nil),
    "lake_schema_evolution" -> ("unified read over two physical schema eras" ::
      "expect: ONE parquet scan whose ReadSchema is the manifest-built " +
      "physical union (cents + amount_cents + source — metadata-resolved " +
      "evolution, no mergeSchema footer sweep); rename folds are plain " +
      "projections feeding a two-phase aggregate" :: Nil),
    "lake_cdf_refresh" -> ("change-feed incremental refresh" ::
      "expect: the delta leg scans ONLY the add/remove file subsets of " +
      "commits 2..3 (file-list parquet scans, never the whole versioned " +
      "table); v1 state + feed delta union into one final two-phase " +
      "aggregate keyed on user_id" :: Nil),
    "lake_scd2_feed" -> ("SCD2 intervals from the change feed" ::
      "expect: net-weight cancellation is a hash aggregate over the " +
      "feed's file-subset scans; open→close pairing is an equi hash/" +
      "sort-merge join on the null-safe payload equality — no " +
      "NestedLoop/Cartesian anywhere" :: Nil),
    "doc_bloom_decontam" -> ("bloom prescreen + exact verify decontamination" ::
      "expect: the ~10 KB merged bloom probes as a constant inside the " +
      "prescreen scan's filter (no join for stage 1); the exact gram " +
      "join runs only over the candidate left-semi slice with the " +
      "benchmark grams broadcast" :: Nil),
    "lake_dv_delete" -> ("merge-on-read read under live deletion vectors" ::
      "expect: covered-file scans carry _metadata position columns into " +
      "a Broadcast LeftAnti against the KB-sized tombstone sidecars — " +
      "never a shuffle of the data side at this tombstone count. (Here " +
      "the user_id%10 delete touches every file; with uncovered files a " +
      "Union adds plain dv-free scans beside the anti-join — that split " +
      "is pinned by DeletionVectorSpec's plan test.)" :: Nil),
    "doc_lm_score" -> ("corpus bigram-LM cross-entropy scoring" ::
      "expect: ONE Exchange on doc_id for the lead-window bigram build; " +
      "the bigram/prefix count tables join back as two-phase hash " +
      "aggregates; the scalar vocabulary size rides a 1-row " +
      "BroadcastNestedLoop cross — the corpus is never re-scanned per doc" :: Nil),
    "lake_mv_rewrite" -> ("MV auto-rewrite: aggregate answered from the maintained view" ::
      "expect: NO HashAggregate and NO scan of the source's v= data " +
      "files — the optimizer replaced the whole count+sum aggregate " +
      "with a Project over the keys-sized view's parquet scan " +
      "(MvRewriteRule; staleness falls back to the real aggregate, " +
      "pinned by MvRewriteRuleSpec)" :: Nil),
    "dedup_simhash" -> ("SimHash near-dup banding (fingerprint-space, capped buckets)" ::
      "expect: docs collapse to one row per FINGERPRINT (collect_list " +
      "ids) before any pair work and the group table persists " +
      "(InMemoryRelation, one parquet scan id); the chunk-bucket cap is " +
      "a row_number window guarded by assert_true (the oracle has no cap " +
      "analogue, so a binding cap must fail loudly, never drop pairs); " +
      "candidate pairs come from an EQUI join on (chunk, chunk_val) — " +
      "no CartesianProduct, and document text never crosses an Exchange" :: Nil),
    "lake_bloom_skip" -> ("bloom-index point lookup on a hash-clustered layout" ::
      "expect: the probe side resolved at PLAN time (the driver-side " +
      "bloom verdicts ran before this plan existed) — the data " +
      "plan is just scan→filter→sort over the bloom-kept file subset, " +
      "where min/max stats would have kept all 16 files" :: Nil),
  )

  def main(args: Array[String]): Unit = {
    val spark = TestSpark.spark
    val dir = "/root/testdata/sf0.001"
    val sb = new StringBuilder
    sb.append("# PLANS — flagship physical plans (generated by `sbt \"Test/runMain graft.DumpPlans\"`)\n\n")
    sb.append("Formatted `.explain` output at sf0.001 with the plan properties each\n")
    sb.append("query is expected to exhibit (the load-bearing ones are also asserted\n")
    sb.append("by PlanSpec/OperatorsSpec/LakeSpec so regressions fail the build).\n")
    for ((name, notes) <- commentary.toSeq.sortBy(_._1)) {
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name — ${notes.head}\n\n")
      sb.append(s"_${notes(1)}_\n\n")
      sb.append("```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${commentary.size} plans)")
    spark.stop()
  }
}
