package graft

/** Scale-smell sweep over EVERY registered query's physical plan.
  *
  * `sbt "Test/runMain graft.PlanAudit"` — builds each SparkEntry query
  * against sf0.001 and fails (exit 1) if any plan contains:
  *   - CartesianProduct: never acceptable — at 100 TB a cartesian is a
  *     job that does not finish.
  *   - BroadcastNestedLoopJoin outside the allowlist: BNLJ is the correct
  *     physical op ONLY when one side is deliberately tiny+broadcast
  *     (inequality band joins, scalar aggregates joined to every row);
  *     anywhere else it means an equi-condition failed to be recognized.
  *
  * PlanSpec pins the flagship plans precisely; this audit is the broad
  * net so a regression in ANY of the registered queries (e.g. a
  * refactor dropping a join key) surfaces before the driver run.
  *
  * It also flags FULL-RESULT driver collects (r5 verdict item 1): a query
  * that `.collect()`s and re-creates its result shows up as a plan whose
  * every leaf is a LocalRelation/LocalTableScan carrying result-sized
  * rows — the driver becomes the bottleneck at 100×. Small literal frames
  * (a 4-row freshness report, a handful of driver-evaluated scalars) are
  * fine, so only all-local plans above [[localRowLimit]] rows are smells.
  */
object PlanAudit {

  /** Queries whose BroadcastNestedLoopJoin is the intended physical op:
    * each joins a deliberately tiny broadcast side under a non-equi or
    * always-true condition. Reviewed individually; additions need the
    * same justification in a comment.
    */
  private val intendedBnlj: Set[String] = Set(
    "q_range_band_join", // tiny ranges side broadcast, non-equi band cond
    "q11_important_parts", // 1-row global scalar broadcast-crossed to groups
    "q_above_segment_avg", // per-segment avg (tiny) joined on <; scalar shape
    "ann_topk", "ann_knn_sample", "ann_knn_heap", // broadcast query vectors, cross score
    "emb_decontam", // broadcast benchmark slice vs train side
    "dedup_embedding", "embedding_neardup", // broadcast smaller dedup side
    "q6_forecast", // scalar revenue base joined to every forecast row
    "ann_ivf", // queries x broadcast(<=16-centroid codebook) probe selection
    "doc_lang_id", // docs x broadcast(per-language trigram profiles, handful of rows)
    "q22_idle_custs", // 1-row scalar avg-balance threshold broadcast (Q11 shape)
    "sketch_source_sim", // per-SOURCE sketch self-join on '<': both sides = n_sources rows
    "dedup_ngram_jaccard", // fixed rank-capped sample pairwise twin; PPJoin is the scale path
    "doc_bm25", // 1-row corpus-stats aggregate broadcast-crossed to the scoring pass
    "ann_lsh", // 1-row n_queries agg x 1-row n_hits agg (recall flag); r13 recall oracle
    "dedup_minhash", // 1-row exact-pair count x 1-row found count (recall flag)
    "doc_lm_score", // 1-row vocab-size aggregate broadcast-crossed to the scoring pass
    "q_decay_engagement", // 1-row max-ts anchor broadcast-crossed (q6_forecast shape)
    "doc_mix_temperature", // 1-row total-weight aggregate broadcast-crossed to budgets
    "q_triangle_count", // 1-row edge/node/triangle counts crossed into the single output row
    "q_skyline_3d", // broadcast anti-joins vs bucket-pareto union and vs survivors (both skyline-sized)
    "doc_dsir_weight", // 1-row corpus-totals aggregate crossed into the 64-row bucket-weight table (q6_forecast shape)
    "doc_hybrid_rrf", // broadcast 1-row query vector crossed to the corpus for the cosine leg (ann_topk shape)
    "dq_psi_drift", // |event_type| x 24-bucket spine cross (~120 rows at any corpus; the smoothed-PSI bucket frame)
    "emb_matryoshka", // broadcast 1-row query vector crossed for both stages (ann_topk shape; stage-2 side is 50 candidates)
    "dq_benford", // 1-row total-count aggregate broadcast-crossed into the 9 digit rows (q11 scalar shape)
  )

  /** An all-LocalRelation plan with more rows than this is a collected
    * full result, not a literal frame.
    */
  private val localRowLimit = 64L

  /** Queries whose local result is a DATA-INDEPENDENT-SIZED model
    * artifact, not a collected result: the driver transfer is bounded by
    * the model dimensionality (the IVF-codebook contract), so the
    * all-local output plan is the intended shape. Reviewed individually.
    */
  private val intendedLocal: Set[String] = Set(
    // (empty since r14: emb_corr_matrix moved to a fully-distributed
    // exact-sufficient-statistics plan — no driver materialization left)
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Session()
    spark.sparkContext.setLogLevel("ERROR")

    var bad = List.empty[String]
    var audited = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        audited += 1
        if (plan.contains("CartesianProduct"))
          bad ::= s"$name: CartesianProduct"
        if (plan.contains("BroadcastNestedLoopJoin") && !intendedBnlj(name))
          bad ::= s"$name: unexpected BroadcastNestedLoopJoin"
        val leaves = df.queryExecution.analyzed.collectLeaves()
        val localRows = leaves.collect {
          case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            l.data.size.toLong
        }
        if (leaves.nonEmpty && localRows.size == leaves.size &&
            localRows.sum > localRowLimit && !intendedLocal(name))
          bad ::= s"$name: full-result driver collect " +
            s"(all-LocalRelation plan, ${localRows.sum} rows)"
      } catch {
        case e: Throwable => bad ::= s"$name: failed to plan: ${e.getMessage}"
      }
    }
    println(s"[plan-audit] $audited queries audited, ${bad.size} finding(s)")
    bad.sorted.foreach(f => println(s"[plan-audit] SMELL $f"))
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }
}
