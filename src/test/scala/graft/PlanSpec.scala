package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Physical-plan assertions: the properties that keep these queries viable
  * at 100 TB (pushdown reaches the scan, dims broadcast, no stray
  * shuffles) pinned as tests so a regression in plan shape fails CI, not a
  * cluster bill.
  *
  * Runs against the sf0.001 driver testdata (read-only).
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def q(name: String): DataFrame = SparkEntry.queries(name)(spark, dir)

  test("silver scan prunes columns; q1 pushes its date filter") {
    // the silver quality filter is lower(trim(col)) IN (...) — inherently
    // not pushable (expression of a column); what MUST hold is pruning:
    // props never leaves the reader
    val p = plan(q("silver_events"))
    assert(!p.contains("props"), s"props column not pruned:\n$p")
    // ts loads as bigint (nanos-era fixtures) or timestamp (micros-era);
    // either way the scan must read exactly silver's five columns
    assert(
      p.contains("ReadSchema: struct<event_id:bigint,ts:bigint,user_id:bigint,event_type:string,value:double>") ||
        p.contains("ReadSchema: struct<event_id:bigint,ts:timestamp,user_id:bigint,event_type:string,value:double>"),
      s"scan reads more than silver needs:\n$p")
    // plain comparison predicates DO reach the scan
    val p1 = plan(q("q1_agg"))
    assert(p1.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"q1 shipdate filter not pushed:\n$p1")
  }

  test("fact_events joins its calendar dim via broadcast, single agg exchange") {
    val p = plan(q("fact_events"))
    assert(p.contains("BroadcastHashJoin"), s"dim join did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected SMJ:\n$p")
  }

  test("q5 snowflake: all three dims broadcast, one shuffle for the fact join") {
    val p = plan(q("q5_nation_revenue"))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(p).length
    assert(nBroadcast >= 3, s"expected >=3 broadcast joins, got $nBroadcast:\n$p")
  }

  test("q4 semi join: one shuffle join on the equi key, range folded in") {
    // fact-fact (orders ⋈ lineitem): the only acceptable plan is ONE
    // equi join planned as LeftSemi with the 30-day range riding the
    // join condition — a BNLJ or a post-join filter means the non-equi
    // predicate fell out of the join and the plan degrades at scale.
    // At spec SF the 2-column lineitem projection fits the broadcast
    // threshold (hash semi, build right); at bench/production SF the
    // same shape lands as the one shuffle join — both acceptable, BNLJ
    // never.
    val p = plan(q("q4_late_orders"))
    // formatted explain prints each operator in the tree AND its detail
    // section — count DISTINCT operator ids, not substring hits
    val nJoin =
      """\((\d+)\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"""
        .r.findAllMatchIn(p).map(_.group(1)).toSet.size
    assert(nJoin == 1, s"expected exactly 1 equi join, got $nJoin:\n$p")
    assert(p.contains("LeftSemi"), s"semi join not planned as LeftSemi:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), s"non-equi fell out of the join:\n$p")
    assert("""Join condition:.*INTERVAL '30' DAY""".r.findFirstIn(p).isDefined,
      s"the 30-day range predicate is not in the join condition:\n$p")
  }

  test("q8/q9 snowflakes: AQE lands the dim broadcasts the dropped hints left to it") {
    // round 7 removed the explicit broadcast() hints from every
    // SF-proportional TPC-H side; the protection is AQE's runtime size
    // check. This pins the OUTCOME on the AQE-final executed plan: the
    // dims still come in as broadcast joins, and at most the fact-fact
    // spine (lineitem⋈orders) pays a shuffle join.
    for (name <- Seq("q8_market_share", "q9_profit")) {
      val df = q(name)
      df.collect()
      val executed = df.queryExecution.executedPlan.toString
      val nBroadcast = "BroadcastHashJoin".r.findAllIn(executed).length
      val nShuffleJoin = "SortMergeJoin".r.findAllIn(executed).length +
        "ShuffledHashJoin".r.findAllIn(executed).length
      assert(nBroadcast >= 3,
        s"$name: expected >=3 AQE broadcast joins, got $nBroadcast:\n$executed")
      assert(nShuffleJoin <= 1,
        s"$name: ${nShuffleJoin} shuffle joins (only the fact-fact spine may):\n$executed")
    }
  }

  test("q1 aggregate is two-phase (partial before the exchange) and codegens") {
    val p = plan(q("q1_agg"))
    assert(p.contains("partial_sum"), s"no partial (map-side) aggregation:\n$p")
    assert("HashAggregate".r.findAllIn(p).length >= 2, s"not two-phase:\n$p")
    // codegen spans only appear once AQE finalizes — execute, then inspect
    val df = q("q1_agg")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    assert(executed.contains("*("), // "*(n)" marks a WholeStageCodegen span
      s"no whole-stage codegen spans in executed plan:\n${executed.take(500)}")
  }

  test("top-k order+limit plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(q("q_topk_orders"))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to full sort:\n$p")
  }

  test("ann_topk scans the corpus once with a broadcast query side") {
    val p = plan(q("ann_topk"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
    assert(p.contains("cosine_sim"), s"native cosine expression not used:\n$p")
  }

  test("dedup_exact shuffles the md5, not the document body") {
    val p = plan(q("dedup_exact"))
    // partial aggregation on md5 before the exchange: the exchange input
    // must not carry the raw text column
    // the hash exchange's input must be (grouping key, partial aggs) —
    // never the raw text column
    val m = "(?s)\\(\\d+\\) Exchange\\nInput \\[\\d+\\]: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p)
    assert(m.isDefined, s"no exchange input block:\n$p")
    assert(!m.get.group(1).contains("text#"),
      s"document body crosses the shuffle: ${m.get.group(1)}")
  }

  test("cdc_scd2 dedup rides the versioning window: one data shuffle total") {
    val p = plan(q("cdc_scd2"))
    // (key,ts,op) dedup + version lead() share one partitionBy(key)
    // exchange; the only other exchange is the final presentation sort.
    // dropDuplicates here would cost a third, full-width hash shuffle.
    val nEx = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(nEx == 2, s"expected 2 exchanges (key window + order), got $nEx:\n$p")
    assert(p.contains("Window"), s"no window operator:\n$p")
  }

  test("lake_partition_prune resolves its day filter at planning time") {
    val p = plan(q("lake_partition_prune"))
    // the day range must land in PartitionFilters (directories dropped
    // before any I/O), not survive as a post-scan Filter on the data
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(p).map(_.group(1))
    assert(pf.isDefined, s"no PartitionFilters block in scan:\n$p")
    assert(pf.get.contains("day"), s"day filter not pushed to partitions: ${pf.get}")
    assert(pf.get.contains(">=") && pf.get.contains("<="),
      s"day range not a planning-time partition predicate: ${pf.get}")
  }

  test("doc_bm25 plans as TakeOrderedAndProject over a broadcast stats row") {
    val p = plan(q("doc_bm25"))
    // top-k must be per-partition heaps + tiny merge, never a global sort
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$p")
    // the corpus-stats join is a single broadcast row crossed to the scan
    assert(p.contains("BroadcastNestedLoopJoin"), s"stats row not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"scoring pass shuffled:\n$p")
  }

  test("emb_semdedup assigns clusters in one cached narrow pass") {
    val p = plan(q("emb_semdedup"))
    // assignment is the codegen'd NearestCentroid projection, computed in
    // the persisted relation — the corpus parquet is scanned exactly once
    assert(p.contains("nearest_centroid"), s"no NearestCentroid projection:\n$p")
    // the persisted assignment subtree prints once per InMemoryTableScan
    // consumer but keeps ONE operator id — distinct ids = real scans
    val scanIds = "Scan parquet\\s+\\((\\d+)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanIds.size == 1,
      s"embeddings scanned ${scanIds.size} times (persist broken):\n$p")
    assert(!p.contains("CartesianProduct"), s"pair search went all-pairs:\n$p")
  }

  test("dedup_incremental broadcasts a RANK-CAPPED batch against the index") {
    val p = plan(q("dedup_incremental"))
    // screening must ship the (tiny) batch signature set to the index,
    // never shuffle the corpus index itself
    assert(p.contains("BroadcastHashJoin"), s"batch side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"index side shuffled:\n$p")
    // the broadcast side must be bounded BY CONSTRUCTION: the rank cap
    // (doc_id < 500) has to reach the batch scan as a pushed filter —
    // without it the broadcast grows with the corpus and an explicit hint
    // would bypass AQE's size protection (r6 verdict, What's wrong #1)
    assert(p.contains("LessThan(doc_id,500)"),
      s"batch side not rank-capped at the scan:\n$p")
  }

  test("signature-index screen prunes index files via the mh manifest") {
    val ixPath = operators.OperatorQueries.prebuildSignatureIndex(spark, dir)
    // a point probe (one doc's 16 lane minima) must skip most files of the
    // range-laid index — the mechanism that keeps screen I/O ∝ batch at a
    // growing corpus. 16 uniform md5 values over >= 14 range-split files
    // leave > 1/3 of files probe-free deterministically on this data.
    val probes = spark.read.parquet(ixPath)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 40)
      .select("mh").collect().map(_.getString(0)).toSeq
    assert(probes.size == 16, s"expected 16 lane minima, got ${probes.size}")
    val (kept, total) = sources.Lake.probeDataFiles(spark, ixPath, "mh", probes)
    assert(kept.size < total,
      s"probe pruning dropped nothing: kept ${kept.size} of $total files")
    // pruned read ≡ full read for the probe equi-lookup (no matching row
    // may live in a dropped file)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val pruned = sources.Lake.readLookup(spark, ixPath, probes.toDF("mh"))
      .filter(col("mh").isin(probes: _*)).select("doc_id", "lane", "mh")
      .collect().map(_.toString).sorted
    val full = spark.read.parquet(ixPath)
      .filter(col("mh").isin(probes: _*)).select("doc_id", "lane", "mh")
      .collect().map(_.toString).sorted
    assert(pruned.sameElements(full), "probed read lost matching rows")
  }

  test("media fixture is manifest-covered: a doc_id range prunes blob files") {
    import org.apache.spark.sql.functions.{col, lit}
    // the planted-PNG corpus is a Lake table (range-laid on doc_id +
    // _graft_stats): a ranged decode job must drop whole blob FILES at
    // planning time — on a 100 TB media lake the pruned bytes are the
    // dominant cost, since every surviving row carries a payload blob
    val path = ext.Multimodal.imageFixturePath(spark, dir)
    val total = spark.read.parquet(path).inputFiles.length
    val pruned = sources.Lake.readSkipping(spark, path,
      sources.Lake.skipRange("doc_id", lit(0), lit(99)))
    assert(pruned.inputFiles.length < total,
      s"doc_id range pruned nothing: ${pruned.inputFiles.length} of $total")
    // superset guarantee: re-filtering the pruned read equals the full scan
    val got = pruned.filter(col("doc_id") <= 99).count()
    val want = spark.read.parquet(path).filter(col("doc_id") <= 99).count()
    assert(got == want && want == 100L, s"$got != $want")
  }

  test("evolved read scans once with the manifest-built schema (no footer sweep)") {
    val p = plan(q("lake_schema_evolution"))
    // the scan schema must be the manifest-declared PHYSICAL union — both
    // eras' column names — proving the reader resolved evolution from
    // metadata (a mergeSchema footer sweep is the 100 TB anti-pattern;
    // a footer-bound read would be missing one era's columns entirely)
    val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(rs.isDefined, s"no ReadSchema in plan:\n$p")
    assert(rs.get.contains("cents") && rs.get.contains("amount_cents") &&
      rs.get.contains("source"),
      s"scan schema missing an era's physical columns: ${rs.get}")
    // one scan of the staged table; the rename folds are projections
    val scanIds = "Scan parquet\\s+\\((\\d+)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSet
    assert(scanIds.size == 1, s"expected one scan, got ${scanIds.size}:\n$p")
  }

  test("merge discovery probe: broadcast under the size guard, free above it") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // a versioned table + the REAL merge discovery code path
    // (Lake.mergeDiscoveryFrame is what mergeInto/mergeCdc plan)
    val path = java.nio.file.Files.createTempDirectory("graft-planmerge")
      .toString + "/t"
    sources.Lake.writeVersioned(spark,
      (1 to 500).map(i => (f"$i%06d", i.toLong)).toDF("k", "v")
        .repartitionByRange(4, col("k")), path)
    val src = (100 to 110).map(i => (f"$i%06d", 0L)).toDF("k", "v")
    // disable the planner's own auto-broadcast so the strategy we observe
    // is attributable to the GUARD alone
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // under the guard: the exact-count hint forces the broadcast even
      // with auto-broadcast off — the small-dim fast path is preserved
      val under = sources.Lake.mergeDiscoveryFrame(spark, path, src,
        Seq("k"), maxBroadcastKeys = 1000000L)
      under.collect()
      assert(under.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"),
        s"guarded small probe must broadcast:\n${under.queryExecution.executedPlan}")
      // over the guard (forced with limit 0): NO hint is planted — the
      // join degrades to a shuffle strategy instead of OOMing a forced
      // broadcast; in production AQE's size check re-enables broadcast
      // for genuinely small sides
      val over = sources.Lake.mergeDiscoveryFrame(spark, path, src,
        Seq("k"), maxBroadcastKeys = 0L)
      over.collect()
      val p = over.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"unguarded probe must not plant a broadcast hint:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("doc_pii_scrub prunes to its three columns and stays narrow to the agg") {
    val p = plan(q("doc_pii_scrub"))
    val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(rs.isDefined, s"no ReadSchema in plan:\n$p")
    assert(rs.get.split(",").length == 3 && !rs.get.contains("n_chars"),
      s"scan reads more than (doc_id, source, text): ${rs.get}")
    // regex scrub is a narrow projection; the only exchanges are the
    // per-source summary aggregate and the final presentation sort
    val nEx = "(?m)^\\(\\d+\\) Exchange".r.findAllIn(p).length
    assert(nEx == 2, s"expected 2 exchanges (agg + order), got $nEx:\n$p")
  }

  test("ann_pq_persisted: scoring scan reads codes only — no vector column") {
    val p = plan(q("ann_pq_persisted"))
    // the whole point of persisted PQ: after encode-once, search streams
    // the (vec_id, code1, code2) table and NEVER re-opens the embedding
    // column (the query vector itself is fetched eagerly before the plan
    // is built, so the timed frame must contain no embeddings scan)
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.nonEmpty, s"no ReadSchema in plan:\n$p")
    assert(schemas.forall(!_.contains("embedding")),
      s"persisted-PQ search re-reads vectors: $schemas")
    // per-row scoring is two element_at lookups; the cut is TakeOrdered
    // (per-partition heaps), not a global sort
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k cut is not TakeOrdered:\n$p")
  }

  test("ann_ivfadc_persisted: codes-only scan with the cell probe pushed down") {
    val p = plan(q("ann_ivfadc_persisted"))
    // the deployable index property: search never re-opens a vector —
    // the only distributed work is the code-table scan
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.nonEmpty, s"no ReadSchema in plan:\n$p")
    assert(schemas.forall(!_.contains("embedding")),
      s"persisted-IVFADC search re-reads vectors: $schemas")
    // the nprobe cell filter must reach the parquet reader (the literal
    // file-prune lives in ann_ivfadc_partitioned's clustered index)
    assert("PushedFilters: \\[[^\\]]*In\\(cell".r.findFirstIn(p).isDefined,
      s"cell probe not pushed into the scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k cut is not TakeOrdered:\n$p")
  }

  test("ann_ivfadc_partitioned: the probe prunes FILES, not just row groups") {
    // the cell-clustered index's whole point (r19 verdict #1): the nprobe
    // probe must drop index FILES at planning time via the stats
    // manifest, making the (k - nprobe)/k I/O cut literal — not just a
    // pushed row-group filter inside every opened footer
    val (kept, total) =
      graft.ext.Similarity.ivfAdcPartitionedPruneStats(spark, dir)
    assert(kept >= 1 && kept < total,
      s"probe kept $kept of $total index files — no file pruning")
    // nprobe=2 of k=8 cells, each cell whole in ONE file (range
    // partitioning never splits equal values): kept ≤ nprobe exactly
    assert(kept <= 2, s"probe kept $kept of $total files (want <= nprobe)")
    val p = plan(q("ann_ivfadc_partitioned"))
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.nonEmpty && schemas.forall(!_.contains("embedding")),
      s"partitioned-IVFADC search re-reads vectors: $schemas")
    // the row-level probe still pushes into the (already file-pruned)
    // scan — belt over the manifest's braces at range boundaries
    assert("PushedFilters: \\[[^\\]]*In\\(cell".r.findFirstIn(p).isDefined,
      s"cell probe not pushed into the scan:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k cut is not TakeOrdered:\n$p")
  }

  test("emb_corr_matrix: one partial corr_stats aggregate, cells from one row") {
    // the corpus pass must be a PARTIAL corr_stats fold (one ~17.7 KB
    // state per partition crosses the wire) — without the partial, raw
    // vectors shuffle to a single reducer and the plan dies at scale;
    // downstream is generator-only cell unpacking, no joins at all
    val p = plan(q("emb_corr_matrix"))
    assert(p.contains("partial_corr_stats"),
      s"no map-side partial corr_stats fold:\n$p")
    assert(!p.contains("Join"), s"cell unpacking must be join-free:\n$p")
    // the scan reads only the embedding column
    val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(rs.exists(r => r.startsWith("embedding") && !r.contains(",")),
      s"scan reads more than the embedding column: ${rs.getOrElse("?")}")
  }

  // formatted explain re-prints shared subtrees once per consumer but
  // keeps ONE operator id — always count DISTINCT ids, never mentions
  private def distinctOps(p: String, op: String): Int =
    s"\\((\\d+)\\) $op".r.findAllMatchIn(p).map(_.group(1)).toSet.size

  test("q_skyline_3d: both dominance probes broadcast; corpus never self-joins") {
    val p = plan(q("q_skyline_3d"))
    // stage 2 + stage 3 are broadcast nested loops against skyline-sized
    // sides; a SortMergeJoin or cartesian here means a corpus-sized pair
    // blowup shape crept in
    val nBnl = distinctOps(p, "BroadcastNestedLoopJoin")
    assert(nBnl == 2, s"expected exactly 2 broadcast dominance probes " +
      s"(a 3rd means the survivors pass is planned twice — persist lost), got $nBnl:\n$p")
    assert(distinctOps(p, "CartesianProduct") == 0, s"cartesian in skyline plan:\n$p")
    // the part scan reads exactly the three skyline dims + key
    val rs = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1))
    assert(rs.exists(_.split(",").length == 4),
      s"scan reads more than (partkey, price, size, name): ${rs.getOrElse("?")}")
  }

  test("dedup_simhash: fingerprint-space banding — grouped, capped-loud, persisted") {
    val p = plan(q("dedup_simhash"))
    // docs must collapse to one row per FINGERPRINT (collect_list of ids)
    // before any pair work — a doc-space chunk join is quadratic in
    // identical-fp group size (documented 342 s regression at sf0.1,
    // Dedup.scala) — and the group table must persist: the self-join +
    // intra-pair union consume it three times
    assert(p.contains("InMemoryRelation"), s"fp group table not persisted:\n$p")
    assert(p.contains("collect_list"), s"no per-fingerprint id grouping:\n$p")
    // ONE distinct documents scan id — everything derives from the cache
    assert(distinctOps(p, "Scan parquet") == 1,
      s"documents scanned more than once (persist broken):\n$p")
    // the chunk-bucket cap is a row_number window whose filter must be
    // the LOUD guard (assert_true compiles to if(rn<=cap) ... raise_error):
    // the DuckDB oracle has no cap analogue, so a binding cap may never
    // silently drop pairs
    assert(p.contains("row_number"), s"no windowed bucket cap:\n$p")
    assert(p.contains("raise_error") && p.contains("chunk-bucket cap"),
      s"bucket cap is a silent filter, not the loud guard:\n$p")
    // candidate pairs come from an EQUI join on (chunk, chunk_val)
    assert(distinctOps(p, "CartesianProduct") == 0 &&
      distinctOps(p, "BroadcastNestedLoopJoin") == 0,
      s"pair search degenerated to a non-equi join:\n$p")
    // document text crosses exactly ONE exchange: the pre-shingle
    // load-balancing repartition (single-split local parquet; cluster
    // no-op). Every post-fingerprint shuffle is 16 B/doc fingerprint
    // space — text there means the doc-space join came back.
    val exchangesWithText =
      "(?s)\\(\\d+\\) Exchange\\nInput \\[\\d+\\]: \\[([^\\]]*)\\]".r
        .findAllMatchIn(p).count(_.group(1).contains("text#"))
    assert(exchangesWithText == 1,
      s"expected text in exactly the repartition exchange, found $exchangesWithText:\n$p")
  }

  test("q2_min_cost_supp: one lineitem pass, window best-price, dims broadcast") {
    val p = plan(q("q2_min_cost_supp"))
    // best-offer-per-part must be the ONE window min over the reduced
    // offers aggregate — the r14 formulation re-aggregated offers and
    // equality-joined the two derivations (4 exchanges, double subtree
    // consumption, worst non-payload ×10 flagship ratio)
    assert(distinctOps(p, "Window") == 1, s"expected exactly 1 window:\n$p")
    // the fact is scanned once; 6 scans total (lineitem + 4 dims, with
    // part read TWICE since r22: once as the broadcast semi-join key set
    // pre-filtering the offers aggregate, once for the final p_name join)
    assert(distinctOps(p, "Scan parquet") == 6,
      s"expected 6 scans (lineitem once + 4 dims + part key probe):\n$p")
    // the r22 pre-filter must survive: a LeftSemi broadcast below the
    // offers aggregate halves the rows entering the first exchange
    assert(p.contains("BroadcastHashJoin LeftSemi"),
      s"expected the part-key LeftSemi pre-filter at the fact scan:\n$p")
    assert(distinctOps(p, "CartesianProduct") == 0 &&
      distinctOps(p, "BroadcastNestedLoopJoin") == 0, s"non-equi join:\n$p")
    // AQE outcome: dims land as broadcasts; at most one shuffle join
    // survives (static stats over-estimate the joined supplier dim)
    val df = q("q2_min_cost_supp")
    df.collect()
    val executed = df.queryExecution.executedPlan.toString
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(executed).length
    val nShuffleJoin = "SortMergeJoin".r.findAllIn(executed).length +
      "ShuffledHashJoin".r.findAllIn(executed).length
    assert(nBroadcast >= 3,
      s"expected >=3 AQE broadcast joins, got $nBroadcast:\n$executed")
    assert(nShuffleJoin <= 1,
      s"$nShuffleJoin shuffle joins (the fact never self-joins):\n$executed")
  }

  test("q_triangle_count: equi-join core, edges built from one scan") {
    val p = plan(q("q_triangle_count"))
    // the data-sized joins (wedges, closing semi-join, degree joins) must
    // all be equi; the only non-equi shapes allowed are the two 1-row
    // presentational crossJoins stitching the three count aggregates
    // (they plan as BNLJ-cross over broadcast single rows)
    assert(distinctOps(p, "BroadcastNestedLoopJoin") <= 2,
      s"more BNLJs than the two scalar-count crosses:\n$p")
    assert(distinctOps(p, "CartesianProduct") == 0,
      s"cartesian in triangle plan:\n$p")
    // one-scan edge build: exactly one lineitem scan feeds the pair
    // generator (the r14 rewrite replaced the scan-twice self-join)
    val scans = distinctOps(p, "Scan parquet")
    assert(scans == 1, s"expected 1 lineitem scan, got $scans:\n$p")
  }

  test("emb_kmeans: fused distance loops, no corpus explode, broadcast l1") {
    val p = plan(q("emb_kmeans"))
    // the final assignment pass evaluates k fused zip_with/aggregate
    // loops per row — a Generate (posexplode) here would blow the corpus
    // up d× before the aggregate (the retired ivf q-join shape); the
    // only explode in the OPERATOR lives in the tiny k·d update
    // collection, which never appears in the output plan
    assert(distinctOps(p, "Generate") == 0,
      s"corpus exploded in the scoring pass:\n$p")
    // the k-row centroid-mass frame joins broadcast, never shuffles the
    // aggregated clusters
    assert(p.contains("BroadcastHashJoin"), s"l1 join not broadcast:\n$p")
    assert(distinctOps(p, "CartesianProduct") == 0 &&
      distinctOps(p, "BroadcastNestedLoopJoin") == 0,
      s"non-equi join in kmeans plan:\n$p")
  }

  test("dq_seasonal_anomaly: baseline stats broadcast back, partial counts") {
    val p = plan(q("dq_seasonal_anomaly"))
    // (type, hour) baseline stats are QI-bounded (|types|·24 rows at any
    // corpus) and must broadcast back to the bucket frame — a shuffle
    // join here would repartition the day-grain buckets for a few-row dim
    assert(p.contains("BroadcastHashJoin"),
      s"baseline stats not broadcast:\n$p")
    assert(distinctOps(p, "CartesianProduct") == 0,
      s"cartesian in anomaly plan:\n$p")
  }

  test("kAnonLadder: group sizes are aggregates broadcast back, never windows") {
    // the ladder is load-bearing for BOTH privacy rows: a refactor to
    // count(*) OVER (PARTITION BY QI) would single-task the largest
    // equivalence class at 100 TB — a cliff CORRECTNESS would never catch
    // (the oracle uses windows precisely because DuckDB is single-node)
    for (row <- Seq("dq_k_anonymity", "dq_l_diversity")) {
      val p = plan(q(row))
      assert(distinctOps(p, "Window") == 0,
        s"$row plans a Window over QI partitions:\n$p")
      // nation dim + both ladder-level group-size frames come back as
      // broadcast joins (QI-combo-bounded at any corpus size)
      assert(p.contains("BroadcastHashJoin"),
        s"$row lost its broadcast-back group sizes:\n$p")
      assert(distinctOps(p, "SortMergeJoin") == 0 &&
        distinctOps(p, "ShuffledHashJoin") == 0,
        s"$row shuffles a join that must broadcast:\n$p")
      assert(distinctOps(p, "CartesianProduct") == 0 &&
        distinctOps(p, "BroadcastNestedLoopJoin") == 0,
        s"$row degenerated to a non-equi join:\n$p")
    }
  }

  test("emb_matryoshka: prefix stage is TakeOrdered, rerank side stays candidate-bounded") {
    val p = plan(q("emb_matryoshka"))
    // stage 1's top-50 must plan as TakeOrderedAndProject — a global sort
    // of the corpus by truncated cosine would shuffle every vector at
    // 100 TB for a 50-row cut
    assert(p.contains("TakeOrderedAndProject"),
      s"prefix top-50 lost its TakeOrdered plan:\n$p")
    assert(distinctOps(p, "CartesianProduct") == 0,
      s"cartesian in matryoshka plan:\n$p")
  }

  test("q_label_propagation: rounds are aggregates, never windows over nodes") {
    // the argmax is max(struct(count, -label)) per node — a refactor to
    // row_number over node partitions would survive CORRECTNESS (the
    // oracle uses windows because DuckDB is single-node) but single-task
    // celebrity nodes at 100 TB; the per-round localCheckpoint means the
    // visible plan is the LAST round's, which is exactly the shape to pin
    val p = plan(q("q_label_propagation"))
    assert(distinctOps(p, "Window") == 0,
      s"label propagation plans a Window over node partitions:\n$p")
    assert(p.contains("HashAggregate"),
      s"label propagation lost its aggregate argmax:\n$p")
    assert(distinctOps(p, "CartesianProduct") == 0 &&
      distinctOps(p, "BroadcastNestedLoopJoin") == 0,
      s"label propagation degenerated to a non-equi join:\n$p")
  }

  test("q_grid_neighbor_join: stencil join is a pure shuffled equi-join") {
    val p = plan(q("q_grid_neighbor_join"))
    // both sides are corpus-sized: broadcast never applies, and the cell
    // join must be hash/merge on (cx, cy) — a radius theta-join would
    // plan BNLJ and go corpus² at any scale
    assert(distinctOps(p, "BroadcastNestedLoopJoin") == 0 &&
      distinctOps(p, "CartesianProduct") == 0,
      s"grid join degenerated to a non-equi shape:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      s"no equi join found:\n$p")
  }

  test("AQE splits a skewed fact-fact join (skew=true) without changing rows") {
    // The 100 TB skew story the salted rows hand-roll and the de-hinted
    // TPC-H plans assume: when one key holds most of a shuffle, AQE's
    // OptimizeSkewedJoin must split that partition across tasks instead
    // of serializing the stage behind one straggler. Deliberate skew —
    // key 0 carries 80% of half a million left rows — with the detection
    // thresholds scaled to test-sized bytes (production defaults are
    // 256 MB partitions; the MECHANISM is what's pinned, the thresholds
    // are sizing). Broadcast is disabled so the join is the SMJ shape a
    // fact-fact join has at scale.
    import org.apache.spark.sql.functions.{col, expr, sum}
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "512KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "256KB",
      "spark.sql.shuffle.partitions" -> "8")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def joined() = {
        val left = spark.range(500000).select(
          expr("CASE WHEN id % 10 < 8 THEN 0 ELSE id % 997 END").as("k"),
          expr("id").as("v"),
          // bulk the rows so the skewed partition clears the byte threshold
          expr("lpad(CAST(id AS STRING), 48, 'x')").as("pad"))
        val right = spark.range(997).select(
          col("id").as("k"), (col("id") * 3 + 1).as("w"))
        left.join(right, "k").agg(
          sum(col("v") * col("w")).as("s"), sum(expr("length(pad)")).as("b"))
      }
      val df = joined()
      val got = df.collect().head
      // the FINAL adaptive plan (isFinalPlan=true after the action) must
      // carry the skew-split SMJ — ShuffledJoin prints "(skew=true)"
      val fin = df.queryExecution.executedPlan.toString
      assert(fin.contains("skew=true"),
        s"AQE never split the 80%-key partition:\n$fin")
      // and the split must not change the answer: same join, skew
      // handling off, same single-row aggregate
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val base = joined().collect().head
      assert(got == base, s"skew split changed the answer: $got vs $base")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
