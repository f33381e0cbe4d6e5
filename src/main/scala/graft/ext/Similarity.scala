package graft.ext

import graft.{QueryDef, Tables}
import graft.functions.Canon.roundCanon
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (tier C): brute-force cosine
  * top-k as the exact baseline, random-hyperplane LSH bucketing as the
  * scale path.
  *
  * Scale design (100 TB): brute force broadcasts the QUERY side (small) and
  * streams the corpus — one narrow pass, no shuffle, top-k via
  * per-partition heaps then a tiny final merge (Spark's sort+limit already
  * does exactly this: TakeOrderedAndProject). The LSH path replaces the
  * full scan with a bucket equi-join on signature keys — the corpus side
  * shuffles once on (bucket), queries probe their own bucket plus 1-bit
  * flips (multiprobe) to recover recall.
  */
object Similarity {

  /** Double-precision dot product via higher-order functions. Portable
    * (pure built-ins) but interpreted per element — kept as the reference
    * implementation and for engines without the native expression.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** HOF cosine — bit-identical to [[cosine]]; see CosineSimilarity. */
  def cosineHof(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine via the native codegen'd Catalyst expression (the hot path). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.cosine_sim(a, b)

  /** Brute-force cosine top-k of `corpus` against every row of `queries`
    * (both need columns (idCol, vecCol)). Returns (query_id, vec_id, cos)
    * with rank <= k per query. Query side is broadcast.
    */
  def topK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("c_vec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("c_vec"), col("q_vec")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col("rn"),
        roundCanon(col("cos"), 4).as("cos_r"))
  }

  /** Random-hyperplane LSH signature: `nBits` sign bits of dot(v, r_i).
    * The hyperplane matrix is derived from a splitmix64 mix of (i, j) ON
    * THE DRIVER and shipped as one literal — deterministic across runs and
    * executors, and the per-row work is just nBits×dim multiply-adds (an
    * earlier version derived each component with xxhash64 per row: ~5×
    * slower, all interpreted). Vectors shorter than `dim` contribute zeros.
    */
  def lshSignature(vec: Column, nBits: Int, dim: Int = 64): Column = {
    val planes: Seq[Seq[Double]] = Seq.tabulate(nBits, dim) { (i, j) =>
      var z = i.toLong * 1024 + j + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (math.floorMod(z, 2000001L).toDouble / 1000000.0) - 1.0
    }
    // One codegen'd pass (HyperplaneBucket) instead of the aggregate/
    // zip_with HOF chain: same plane matrix, same sequential double
    // accumulation, bit-identical signatures (pinned in spec) — but the
    // per-row cost is a fused primitive loop, not nBits×dim interpreted
    // lambda dispatches.
    graft.functions.VectorFunctions.hyperplane_bucket(vec, planes)
  }

  /** LSH-bucketed ANN: candidates share a signature bucket with the query
    * (multiprobe: the query also probes all 1-bit-flipped buckets), then
    * exact cosine ranks the candidates. Output schema matches `topK`.
    *
    * `nBits <= 0` (the default) AUTO-SIZES the bucket width to
    * ceil(log2(N/2)) like [[lshTopKMd5]], keeping occupancy ~2 at any
    * corpus size — a fixed width is wrong in BOTH directions (too many
    * bits → empty buckets and zero candidates on a small corpus, the r13
    * recall-zero finding; too few → Θ(N²/2^bits) candidate blowup at
    * scale). Same pure-integer derivation so the width never wobbles on
    * power-of-two corpus sizes.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nBits: Int = 0): DataFrame = {
    val bits = if (nBits > 0) nBits else {
      val n = graft.sources.CorpusStats.rowCount(corpus)
      val halfUp = (n + 1) / 2
      val bitLen =
        if (halfUp <= 1) 0
        else 64 - java.lang.Long.numberOfLeadingZeros(halfUp - 1)
      math.max(4, bitLen)
    }
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("c_vec"),
      lshSignature(col(vecCol), bits).as("bucket"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
        lshSignature(col(vecCol), bits).as("sig"))
      .withColumn("bucket", explode(concat(
        array(col("sig")),
        transform(sequence(lit(0), lit(bits - 1)),
          i => col("sig").bitwiseXOR(call_function("shiftleft", lit(1L), i.cast("int")))))))
      .select("query_id", "q_vec", "bucket")
    val scored = c.join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("c_vec"), col("q_vec")).as("cos"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col("rn"),
        roundCanon(col("cos"), 4).as("cos_r"))
  }

  /** Cross-engine-verifiable LSH ANN (the `dedup_minhash_md5` pattern
    * applied to vectors): sign-random-projection hyperplanes derived from
    * md5("lane:dim") — a hash both engines compute identically — over
    * INTEGER-quantized vector elements (round(x * 1000) as long), so both
    * the projection signs and the candidate ranking (integer dot product)
    * are EXACT in any engine: no float summation order anywhere. The
    * production path ([[lshTopK]], xxhash64 hyperplanes + double cosine)
    * stays the fast variant; this one proves the bucketing + multiprobe +
    * rank pipeline end-to-end against SQL. Same shape at scale: bucket
    * equi-join with bounded multiprobe fan-out (nBits + 1 probes per
    * query), never an all-pairs product.
    *
    * `nBits` defaults to ceil(log2(N / 2)) — bucket WIDTH grows with the
    * corpus so occupancy stays ~2 and candidate work per query stays
    * CONSTANT (fixed bits would make candidates Θ(N² / 2^bits): the 10×
    * scale check measured exactly that before auto-sizing). The width is
    * derived with PURE INTEGER arithmetic — ceil(log2(N/2)) equals the
    * bit length of ceil(N/2)−1 — because a float ln-ratio can land on
    * either side of the integer when N/2 is an exact power of two,
    * letting the two engines disagree on bucket width (r5 advice). N
    * itself comes from [[graft.sources.CorpusStats]]: manifest metadata
    * when available, one memoized count otherwise — never a fresh full
    * scan per run.
    */
  def lshTopKMd5(emb: DataFrame, queryPred: Column, k: Int,
      nBitsOverride: Option[Int] = None): DataFrame = {
    val nBits = nBitsOverride.getOrElse {
      val n = graft.sources.CorpusStats.rowCount(emb)
      val halfUp = (n + 1) / 2 // ceil(N/2)
      val bitLen =
        if (halfUp <= 1) 0
        else 64 - java.lang.Long.numberOfLeadingZeros(halfUp - 1)
      math.max(4, bitLen)
    }
    // One-pass codegen'd signature: the md5 ±1 matrix is a pure function
    // of (lane, dim), so it is computed ONCE driver-side and rides along
    // as a reference object — vs the explode(dim)×explode(lane) plan that
    // recomputed md5 per (row, lane, dim) and shuffled twice per bucket.
    val signs = graft.functions.SignedProjectionBucket.md5Signs(nBits, dim = 64)
    val bk = emb.select(col("vec_id"),
      graft.functions.VectorFunctions
        .signed_projection_bucket(col("embedding"), signs, scale = 1000)
        .as("bucket"))
    val qb = bk.filter(queryPred)
    val probes = qb.select(col("vec_id").as("query_id"), col("bucket"))
      .union(qb.withColumn("i", explode(sequence(lit(0), lit(nBits - 1))))
        .select(col("vec_id").as("query_id"),
          expr("bucket ^ shiftleft(CAST(1 AS BIGINT), CAST(i AS INT))").as("bucket")))
      .distinct()
    val cand = probes.join(bk.select(col("vec_id"), col("bucket")), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    // Pairwise native scoring: each candidate pair ships two float arrays
    // once and pays one fused integer-dot loop (QuantizedDot) — vs the
    // retired explode(dim) q-join that blew the corpus up 64x and paid an
    // aggregation exchange. The SQL oracle sums the same integer products.
    val sc = cand
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qe")),
        Seq("query_id"))
      .join(emb.select(col("vec_id"), col("embedding").as("ce")), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.VectorFunctions
          .quantized_dot(col("qe"), col("ce"), scale = 1000).as("dot"))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("vec_id"))
    sc.withColumn("rn", row_number().over(w).cast("int")).filter(col("rn") <= k)
      .select("query_id", "vec_id", "rn", "dot")
  }

  /** Cross-engine-verifiable IVF ANN, completing the set with [[topK]]
    * (brute, oracled) and [[lshTopKMd5]] (LSH, oracled): the codebook is
    * the ceil(sqrt(N)) smallest vec_ids in the residue class
    * vec_id % 7 == 3 — a set any engine can name in SQL — and every score
    * in the pipeline (assignment argmax, probe order, candidate ranking)
    * is an INTEGER dot product over round(x·1000) quantized elements, so
    * the whole index → probe → rank path is exact cross-engine. The
    * production path ([[ivfTopK]], Lloyd-refined float codebook + cosine)
    * stays the quality variant. Same shape at scale: assignment and probe
    * selection are one codegen'd pass each ([[graft.functions.QuantizedTopDots]]),
    * candidates come from a cluster-id equi-join with bounded nProbe
    * fan-out — never a full scan per query.
    */
  def ivfTopKInt(emb: DataFrame, queryPred: Column, k: Int,
      nProbe: Int = 4, nQueries: Int = 40): DataFrame = {
    import graft.functions.{SignedProjectionBucket, VectorFunctions}
    // nlist = ceil(sqrt(N)) — the standard IVF sizing (and SQL-derivable
    // from the same count): cluster occupancy and per-query candidate
    // work both grow as sqrt(N) instead of N. The 10× scale check
    // measured 26.5× growth with a FIXED 16-centroid codebook (candidates
    // are Θ(N/nlist) per query, and the query set scaled too → Θ(N²)).
    // The query set is additionally BOUNDED (first nQueries of the
    // residue class): per-query sublinear search is IVF's contract —
    // an all-pairs workload belongs to the LSH bucket join, not here.
    // N via CorpusStats: manifest metadata or one memoized count — not a
    // fresh full scan per run.
    val n = graft.sources.CorpusStats.rowCount(emb)
    val nCentroids = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
    val cents = emb.filter(pmod(col("vec_id"), lit(7)) === 3)
      .orderBy("vec_id").limit(nCentroids)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)
        .map(f => SignedProjectionBucket.quantize(f, 1000)))
    val ids = cents.map(_._1).toSeq
    val mat = cents.map(_._2.toSeq).toSeq
    val assigned = emb.select(col("vec_id"), element_at(
      VectorFunctions.quantized_top_dots(col("embedding"), mat, ids, 1, 1000),
      1).as("cluster_id"))
    val probes = emb.filter(queryPred).orderBy("vec_id").limit(nQueries)
      .select(col("vec_id").as("query_id"), explode(
        VectorFunctions.quantized_top_dots(col("embedding"), mat, ids, nProbe,
          1000)).as("cluster_id"))
    val cand = probes.join(assigned, Seq("cluster_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    val q = emb.select(col("vec_id"), posexplode(
      graft.functions.VectorFunctions.quantize_vec(col("embedding"), 1000, 0L))
      .as(Seq("j", "qv")))
    // Pairwise native scoring: each candidate pair ships two float arrays
    // once and pays one fused integer-dot loop (QuantizedDot) — vs the
    // retired explode(dim) q-join that blew the corpus up 64x and paid an
    // aggregation exchange. The SQL oracle sums the same integer products.
    val sc = cand
      .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qe")),
        Seq("query_id"))
      .join(emb.select(col("vec_id"), col("embedding").as("ce")), Seq("vec_id"))
      .select(col("query_id"), col("vec_id"),
        graft.functions.VectorFunctions
          .quantized_dot(col("qe"), col("ce"), scale = 1000).as("dot"))
    val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("vec_id"))
    sc.withColumn("rn", row_number().over(w).cast("int")).filter(col("rn") <= k)
      .select("query_id", "vec_id", "rn", "dot")
  }

  /** Brute-force top-k via the bounded-heap aggregate (TopKPairs) instead
    * of a window sort: map-side partials reduce every (query, partition) to
    * ≤ k pairs before the shuffle, so reducers merge heaps instead of
    * sorting the full candidate set. Identical output contract to [[topK]].
    */
  def topKHeap(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    import graft.functions.TopKPairs.topk_pairs
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("c_vec"))
    c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("c_vec"), col("q_vec")).as("cos"))
      .groupBy("query_id")
      .agg(topk_pairs(col("cos"), col("vec_id"), k).as("tops"))
      .select(col("query_id"), posexplode(col("tops")).as(Seq("pos", "t")))
      .select(col("query_id"), col("t.id").as("vec_id"),
        (col("pos") + 1).cast("int").as("rn"),
        roundCanon(col("t.score"), 4).as("cos_r"))
  }

  /** IVF (inverted-file) ANN: a coarse quantizer partitions the corpus
    * into clusters; each query probes its `nProbe` nearest clusters only.
    * The codebook is SEEDED deterministically (stride sample over the
    * lowest ids) then REFINED with `refineRounds` Lloyd's iterations —
    * assign every vector to its nearest centroid (narrow broadcast pass),
    * recompute each centroid as the elementwise mean of its cluster
    * (one shuffle of (cluster, pos, x) triples per round), collect the new
    * codebook. Empty clusters keep their previous centroid.
    *
    * The cluster assignment is one broadcast pass (codebook is tiny); the
    * probe join shuffles on cluster id — bounded fan-out instead of a full
    * scan per query. Assignment is one codegen'd cosine column per
    * centroid + greatest(struct(cos,-id)) for the argmax (max cos, ties →
    * min centroid id). No corpus-wide cross join, no per-row window sort —
    * the index build runs at scan speed, which is what lets it pass over
    * 100 TB (refinement multiplies that by refineRounds+1 passes, the
    * standard IVF training cost).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
      refineRounds: Int = 2, trainModulus: Int = 4): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // persist: consumed once per Lloyd round + the final assignment pass —
    // without it every pass re-reads and re-parses the source vectors
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("c_vec"))
    // invocation-identical plan: drop any prior invocation's cache entry so
    // a re-run (bench retime) recomputes instead of reading the cache
    // (see Dedup.minhashDedup)
    c.unpersist()
    c.persist()
    // Centroid TRAINING runs on a deterministic 1/trainModulus stride
    // sample — the standard IVF recipe (train on a sample, assign the full
    // corpus once): centroid means stabilize long before the full corpus
    // is seen, and each avoided pass is a full-corpus scan at 100 TB.
    val train = if (trainModulus > 1)
      c.filter(pmod(col("vec_id"), lit(trainModulus)) === 0) else c
    val seed = corpus
      .orderBy(col(idCol)).limit(nCentroids * 7)
      .filter(pmod(col(idCol), lit(7)) === 3) // decorrelate from id order
      .orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).as("centroid_id"), col(vecCol).as("cent_vec"))
      .orderBy("centroid_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    // assignment = the native NearestCentroid expression: one compiled
    // loop over a referenced codebook (a greatest(struct(cosine,..))×k
    // tree works too, but its generated code — and Janino compile time,
    // paid again every Lloyd round — grows linearly in k)
    def assign(vec: Column, m: Array[(Long, Array[Float])]): Column =
      graft.functions.VectorFunctions.nearest_centroid(
        vec, m.map(_._2.toSeq).toSeq, m.map(_._1).toSeq)
    var model = seed
    for (_ <- 1 to refineRounds) {
      val means = train
        .select(assign(col("c_vec"), model).as("cluster_id"),
          posexplode(col("c_vec")).as(Seq("pos", "x")))
        .groupBy("cluster_id", "pos")
        .agg(avg(col("x").cast("double")).as("m"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat)
        }
      model = model.map { case (cid, old) => cid -> means.getOrElse(cid, old) }
    }
    val centroids = model.toSeq.map { case (cid, v) => (cid, v.toSeq) }
      .toDF("centroid_id", "cent_vec")
    val assigned = c
      .select(col("vec_id"), col("c_vec"),
        assign(col("c_vec"), model).as("cluster_id"))
    val probeWindow = Window.partitionBy(col("query_id"))
      .orderBy(col("cent_cos").desc, col("centroid_id"))
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .crossJoin(broadcast(centroids))
      .withColumn("cent_cos", cosine(col("q_vec"), col("cent_vec")))
      .withColumn("prn", row_number().over(probeWindow))
      .filter(col("prn") <= nProbe)
      .select(col("query_id"), col("q_vec"), col("centroid_id").as("cluster_id"))
    val scored = assigned.join(probes, Seq("cluster_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("c_vec"), col("q_vec")).as("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col("rn"),
        roundCanon(col("cos"), 4).as("cos_r"))
  }

  /** Fixture for `ann_ivf_persisted` (cached per session+SF): frozen
    * integer codebook trained on the initial corpus half, versioned index
    * of (vec_id, cluster_id) built from it, then the other half folded in
    * as TWO O(batch) appendVersioned commits with the same codebook.
    * Returns (index path, centroid ids, quantized codebook).
    */
  private val ivfIndexCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String), (String, Seq[Long], Seq[Seq[Long]])]

  def prebuildIvfIndex(sp: SparkSession,
      dir: String): (String, Seq[Long], Seq[Seq[Long]]) =
    ivfIndexCache.computeIfAbsent((sp, dir), { _ =>
      import graft.functions.{SignedProjectionBucket, VectorFunctions}
      val emb = Tables.embeddings(sp, dir)
      val init = emb.filter(col("vec_id") % 2 === 0)
      val n = init.count() // codebook sizing only; fixture-sized scan
      val nCentroids = math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
      val cents = init.filter(pmod(col("vec_id"), lit(7)) === 3)
        .orderBy("vec_id").limit(nCentroids)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)
          .map(f => SignedProjectionBucket.quantize(f, 1000)))
      val ids = cents.map(_._1).toSeq
      val mat = cents.map(_._2.toSeq).toSeq
      def assigned(df: DataFrame) = df.select(col("vec_id"), element_at(
        VectorFunctions.quantized_top_dots(col("embedding"), mat, ids, 1, 1000),
        1).as("cluster_id"))
      val path = s"${graft.pipeline.Scratch.dir("ivfidx")}/index"
      graft.sources.Lake.writeVersioned(sp, assigned(init), path)
      graft.sources.Lake.appendVersioned(sp,
        assigned(emb.filter(col("vec_id") % 4 === 1)), path)
      graft.sources.Lake.appendVersioned(sp,
        assigned(emb.filter(col("vec_id") % 4 === 3)), path)
      (path, ids, mat)
    })

  /** SemDeDup (Abbas et al., arXiv:2303.09540) with a deterministic,
    * cross-engine-reproducible clustering: C = ceil(sqrt(N)) centroids
    * taken by vector id (not k-means — the paper's insight is that ANY
    * reasonable space partition prunes the pair search; a deterministic
    * one additionally makes the result an exact SQL-oracleable set).
    * A vector is a duplicate if an earlier-id vector in ITS cluster has
    * cosine >= `threshold`; returns per-cluster (n_vecs, n_dups).
    *
    * Scale shape: assignment is ONE narrow codegen'd pass (the sqrt(N)
    * codebook rides along as a NearestCentroid reference object, the
    * same contract as IVF — ~sqrt(N)·dim·4 B of driver memory); the pair
    * search shuffles once on cluster_id and compares ~N·sqrt(N)/2 pairs
    * total (cluster size ~sqrt(N)) instead of N²/2 — and on a real
    * corpus the per-cluster cap is whatever the cluster granularity
    * makes it, the knob the paper tunes. No corpus-wide cross join
    * anywhere.
    */
  def semDedup(emb0: DataFrame, threshold: Double = 0.3): DataFrame = {
    val emb = emb0.select(col("vec_id"), col("embedding"))
    val n = graft.sources.CorpusStats.rowCount(emb)
    val cN = math.ceil(math.sqrt(n.toDouble)).toLong
    val cents = emb.filter(col("vec_id") < cN).orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1))
    val assigned = emb.select(col("vec_id"), col("embedding"),
      graft.functions.VectorFunctions.nearest_centroid(col("embedding"),
        cents.map(_._2).toSeq, cents.map(_._1).toSeq).as("cluster_id"))
    // both sides of the pair join + the final stats agg; unpersist first —
    // invocation-identical plan (see Dedup.minhashDedup)
    assigned.unpersist()
    assigned.persist()
    val dups = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cluster_id") === col("b.cluster_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .filter(cosine(col("a.embedding"), col("b.embedding")) >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assigned
      .join(dups.withColumn("is_dup", lit(1L)), Seq("vec_id"), "left")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_vecs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dups"))
      .orderBy("cluster_id")
  }

  private val cosSql =
    """list_sum(list_transform(list_zip(CAST(e.embedding AS DOUBLE[]), q.qe),
      |           z -> z[1] * z[2]))
      |         / (sqrt(list_sum(list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x)))
      |            * sqrt(list_sum(list_transform(q.qe, x -> x * x))))""".stripMargin

  /** Distributed Lloyd's k-means over the embedding corpus — the
    * clustering stage a curation pipeline runs for topic-balanced data
    * mixing and semantic bucketing (and the quality sibling of
    * [[ivfTopKInt]]'s codebook). Engineered for the cross-engine gate
    * AND the 1000-executor shape:
    *  - elements are quantized ONCE to round(x·1000)+1000 (all
    *    non-negative), so every distance, argmin, and centroid update is
    *    EXACT integer arithmetic — no float crosses an engine or a
    *    reduction order anywhere;
    *  - init = the k smallest vec_ids' vectors (nameable in SQL; each
    *    seed is its own unique nearest, so no iteration-1 cluster is
    *    ever empty and the update needs no empty-cluster rule);
    *  - per iteration the corpus does ONE pass: distances to the k
    *    broadcast literal centroids are fused zip_with/aggregate loops
    *    (whole-stage codegen, no explode of the corpus), assignment is
    *    array_position(argmin) with ties to the lowest cluster ordinal,
    *    and the update aggregates (cluster, dim)-grain integer sums —
    *    k·d rows to the driver, never data;
    *  - the new centroid is round-half-up(S/n) computed DIVISION-FREE as
    *    (2S+n) div (2n) on non-negative longs — identical floor
    *    semantics in JVM and DuckDB `//`.
    * Output is k rows: cluster size, exact integer inertia, and the
    * centroid's L1 mass. Inertia sums bound: d·(2·scale)²·N < 2^63 up to
    * ~3e10 vectors; past that the sum column widens to decimal(38,0)
    * (the dq_outliers rule) — at our SFs int64 holds with 6 orders to
    * spare.
    */
  def kmeans(sp: SparkSession, dir: String, k: Int = 8,
      iters: Int = 2): DataFrame = {
    // compiled quantization (bit-identical to the transform lambda the
    // oracle replays — see QuantizeVec)
    val emb = Tables.embeddings(sp, dir).select(col("vec_id"),
      graft.functions.VectorFunctions
        .quantize_vec(col("embedding"), 1000, 1000L).as("q"))
    val init = emb.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Long](1).toArray)
    require(init.length == k, s"corpus smaller than k=$k")
    // Duplicate quantized seeds would leave an iteration-1 cluster empty,
    // where Scala keeps the stale centroid but the SQL oracle's regrouping
    // drops the cid — a silent cross-engine divergence. Fail loudly.
    require(init.map(_.toSeq).distinct.length == k,
      s"k=$k seed vectors are not pairwise-distinct after quantization; " +
        "an empty cluster would diverge from the replay oracle")
    val dim = init.head.length
    var cents: Seq[Array[Long]] = init.toSeq
    def assign(): DataFrame = {
      // native compiled distance array (bit-identical Long arithmetic) —
      // the k aggregate(zip_with(...)) columns this replaces evaluate
      // their lambdas interpretively per element, ~0.3 s/action at sf0.1
      val dists = graft.functions.VectorFunctions
        .quantized_sq_dists(col("q"), cents.map(_.toSeq))
      emb.withColumn("d", array_min(dists))
        .withColumn("cluster_id", array_position(dists, col("d")))
    }
    for (_ <- 1 until iters) {
      val sums = assign()
        .select(col("cluster_id"), posexplode(col("q")).as(Seq("j", "qv")))
        .groupBy("cluster_id", "j")
        .agg(sum("qv").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone()).toArray
      sums.foreach { r =>
        next(r.getLong(0).toInt - 1)(r.getInt(1)) =
          (2L * r.getLong(2) + r.getLong(3)) / (2L * r.getLong(3))
      }
      cents = next.toSeq
    }
    import sp.implicits._
    val l1 = cents.zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c.sum) }
      .toDF("cluster_id", "centroid_l1")
    assign()
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_points"), sum(col("d")).cast("long").as("inertia"))
      .join(broadcast(l1), Seq("cluster_id"))
      .select(col("cluster_id"), col("n_points"), col("inertia"),
        col("centroid_l1"))
      .orderBy("cluster_id")
  }

  /** PRODUCT QUANTIZATION (Jégou et al., PAMI'11) — the codebook behind
    * IVF-PQ, the index family that makes billion-vector ANN fit in RAM:
    * the vector splits into M subspaces, each subspace learns its own
    * small k-means codebook, and a vector compresses to M one-byte codes
    * (64 dims × 4 bytes → 2 bytes here). [[kmeans]]'s integer-exact Lloyd
    * discipline carries over whole — elements quantize once to
    * round(x·1000)+1000, seeds are the k smallest vec_ids' subvectors
    * (pairwise-distinct required loudly, the empty-cluster guard),
    * distances/argmin/updates are pure BIGINT with division-free
    * round-half-up — so the codes and the reconstruction error are exact
    * cross-engine. Per subspace per iteration the corpus does one fused
    * zip_with pass against k broadcast literal centroids; k·(d/M)
    * integers come to the driver, never vectors. Output is code-PAIR
    * grain (≤ k² rows): population and exact integer squared
    * reconstruction error — the quantization-quality surface an ANN
    * operator reads before committing to a codebook.
    */
  /** Trained two-subspace PQ model: the quantized corpus frame plus both
    * subspace codebooks (see [[pqCodes]] for the discipline).
    */
  private def pqModel(sp: SparkSession, dir: String, k: Int,
      iters: Int): (DataFrame, Seq[Array[Long]], Seq[Array[Long]], Int) = {
    // The registered oracles (emb_pq / emb_pq_adc / ann_ivf_pq /
    // ann_pq_persisted) replay EXACTLY two Lloyd rounds, and lloydInt's
    // keep-stale-centroid rule on an emptied cluster diverges from the
    // oracle's drop-the-cluster shape at any other round count — distinct
    // seeds only guarantee non-empty clusters through round 1.
    require(iters == 2,
      "pqModel: the registered oracles replay exactly two Lloyd rounds")
    // compiled quantization (bit-identical to the transform lambda the
    // oracle replays — see QuantizeVec)
    val emb = Tables.embeddings(sp, dir).select(col("vec_id"),
      graft.functions.VectorFunctions
        .quantize_vec(col("embedding"), 1000, 1000L).as("q"))
    val full = emb.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Long](1).toArray)
    require(full.length == k, s"corpus smaller than k=$k")
    val dim = full.head.length
    require(dim % 2 == 0, s"PQ(M=2) needs an even dimension, got $dim")
    val half = dim / 2
    // per-subspace Lloyd: identical loop to kmeans over the sliced halves
    def train(lo: Int): Seq[Array[Long]] = {
      val init = full.map(_.slice(lo - 1, lo - 1 + half))
      require(init.map(_.toSeq).distinct.length == k,
        s"k=$k seed SUBvectors (dims $lo..${lo + half - 1}) are not " +
          "pairwise-distinct after quantization; an empty cluster would " +
          "diverge from the replay oracle")
      lloydInt(emb, init.toSeq, lo, half, iters)
    }
    (emb, train(1), train(half + 1), half)
  }

  /** The integer-exact Lloyd loop over the subvector at dims
    * [lo, lo+half), seeded by `init` — shared by the PQ subspace
    * codebooks and [[ivfPqTopK]]'s full-dim coarse quantizer
    * (lo = 1, half = dim).
    */
  private def lloydInt(emb: DataFrame, init: Seq[Array[Long]], lo: Int,
      half: Int, iters: Int): Seq[Array[Long]] = {
    val sub = emb.select(col("vec_id"), slice(col("q"), lo, half).as("q"))
    var cents: Seq[Array[Long]] = init
    // native compiled distance array — see kmeans.assign (bit-identical)
    def dists(c: Seq[Array[Long]]) = graft.functions.VectorFunctions
      .quantized_sq_dists(col("q"), c.map(_.toSeq))
    for (_ <- 1 until iters) {
      val sums = sub
        .withColumn("ds", dists(cents))
        .withColumn("cid", array_position(col("ds"), array_min(col("ds"))))
        .select(col("cid"), posexplode(col("q")).as(Seq("j", "qv")))
        .groupBy("cid", "j")
        .agg(sum("qv").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone()).toArray
      sums.foreach { r =>
        next(r.getLong(0).toInt - 1)(r.getInt(1)) =
          (2L * r.getLong(2) + r.getLong(3)) / (2L * r.getLong(3))
      }
      cents = next.toSeq
    }
    cents
  }

  /** Per-subspace squared-distance array vs `k` broadcast literal
    * centroids, for the subvector at dims [lo, lo+half).
    */
  private def pqDists(lo: Int, half: Int, cb: Seq[Array[Long]]) =
    // native compiled distance array — see kmeans.assign (bit-identical)
    graft.functions.VectorFunctions
      .quantized_sq_dists(slice(col("q"), lo, half), cb.map(_.toSeq))

  def pqCodes(sp: SparkSession, dir: String, k: Int = 8,
      iters: Int = 2): DataFrame = {
    val (emb, cb1, cb2, half) = pqModel(sp, dir, k, iters)
    def encode(lo: Int, cb: Seq[Array[Long]], code: String, err: String) = {
      val ds = pqDists(lo, half, cb)
      Seq(array_position(ds, array_min(ds)).as(code), array_min(ds).as(err))
    }
    emb.select(col("vec_id") +:
        (encode(1, cb1, "c1", "e1") ++ encode(half + 1, cb2, "c2", "e2")): _*)
      .groupBy("c1", "c2")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("e1") + col("e2")).cast("long").as("sq_err"))
      .select(col("c1").as("code1"), col("c2").as("code2"),
        col("n_vecs"), col("sq_err"))
      .orderBy("code1", "code2")
  }

  /** COMPOSED IVF-PQ search — the full production billion-vector index
    * path in one operator: a full-dimension coarse quantizer (same
    * integer Lloyd, same seeds) routes the query to its `nprobe` nearest
    * cells, and ONLY vectors assigned to those cells are scored, by ADC
    * table lookup on their PQ codes. At scale the corpus is partitioned
    * BY CELL, so the probe prunes (k − nprobe)/k of all I/O before any
    * scoring, and the scoring that remains is the code-lookup stream —
    * the two levers (scan pruning, per-row flops) compose
    * multiplicatively. Everything stays in the exact-integer discipline:
    * cell assignment, probe selection (ties to the lower cell id), ADC
    * distances, and the vec_id-tied top-k cut.
    */
  def ivfPqTopK(sp: SparkSession, dir: String, k: Int = 8,
      iters: Int = 2, nprobe: Int = 2, topK: Int = 10): DataFrame = {
    require(iters == 2, // same coupling as pqModel, for the coarse chain
      "ivfPqTopK: the registered oracle replays exactly two Lloyd rounds")
    val (emb, cb1, cb2, half) = pqModel(sp, dir, k, iters)
    val dim = 2 * half
    val full = emb.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Long](1).toArray)
    require(full.map(_.toSeq).distinct.length == k,
      s"k=$k coarse seed vectors are not pairwise-distinct after " +
        "quantization; an empty cell would diverge from the replay oracle")
    val coarse = lloydInt(emb, full.toSeq, 1, dim, iters)
    val qv = emb.filter(col("vec_id") === 0).collect()
    require(qv.length == 1, "query vector vec_id=0 missing")
    val q = qv.head.getSeq[Long](1).toArray
    def qDist(lo: Int, c: Array[Long], n: Int): Long = {
      var s = 0L; var j = 0
      while (j < n) { val d = q(lo - 1 + j) - c(j); s += d * d; j += 1 }
      s
    }
    // probe cells: nprobe nearest coarse centroids to the query, ties to
    // the lower cell id — k integers on the driver
    val probed = coarse.zipWithIndex
      .map { case (c, i) => (qDist(1, c, dim), (i + 1).toLong) }
      .sorted.take(nprobe).map(_._2)
    val dt1 = array(cb1.map(c => lit(qDist(1, c, half))): _*)
    val dt2 = array(cb2.map(c => lit(qDist(half + 1, c, half))): _*)
    def code(lo: Int, cb: Seq[Array[Long]]) = {
      val ds = pqDists(lo, half, cb)
      array_position(ds, array_min(ds))
    }
    val cellDs = pqDists(1, dim, coarse)
    val scored = emb.filter(col("vec_id") =!= 0)
      .withColumn("cell", array_position(cellDs, array_min(cellDs)))
      .filter(col("cell").isin(probed: _*))
      .select(col("vec_id"), col("cell"),
        (element_at(dt1, code(1, cb1).cast("int")) +
          element_at(dt2, code(half + 1, cb2).cast("int"))).as("adc_dist"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("adc_dist"), col("vec_id"))
    scored.orderBy(col("adc_dist"), col("vec_id")).limit(topK)
      .withColumn("rn", row_number().over(w))
      .select(col("rn"), col("vec_id"), col("cell"), col("adc_dist"))
      .orderBy("rn")
  }

  /** ADC (asymmetric distance computation) top-k over the PQ codes — the
    * SEARCH half of IVF-PQ: the query stays full-precision, each subspace
    * precomputes its k query-to-centroid distances ONCE on the driver
    * (k·M integers), and every corpus vector scores as a two-element
    * TABLE LOOKUP on its codes. HERE the codes are re-derived inline
    * from the raw vectors (the `code(lo, cb)` calls ARE per-row vector
    * arithmetic — k zip_with distances per subspace), so this form
    * demonstrates the scoring algebra, not the per-row cost; the
    * pure-lookup cost claim (why PQ streams billions of codes per node)
    * holds once codes are encoded ONCE and persisted — that path is
    * [[pqPersistedTopK]] / `ann_pq_persisted`. Distances are the
    * same exact integers as [[pqCodes]], the cut breaks ties on vec_id
    * (the ann_topk discipline), and orderBy+limit plans as TakeOrdered —
    * per-partition heaps, no global sort, k·partitions rows to the
    * driver at any corpus size.
    */
  def pqAdcTopK(sp: SparkSession, dir: String, k: Int = 8,
      iters: Int = 2, topK: Int = 10): DataFrame = {
    val (emb, cb1, cb2, half) = pqModel(sp, dir, k, iters)
    val qv = emb.filter(col("vec_id") === 0).collect()
    require(qv.length == 1, "query vector vec_id=0 missing")
    val q = qv.head.getSeq[Long](1).toArray
    def table(lo: Int, cb: Seq[Array[Long]]): Array[Long] = cb.map { c =>
      var s = 0L; var j = 0
      while (j < half) {
        val d = q(lo - 1 + j) - c(j); s += d * d; j += 1
      }
      s
    }.toArray
    val dt1 = array(table(1, cb1).map(lit): _*)
    val dt2 = array(table(half + 1, cb2).map(lit): _*)
    def code(lo: Int, cb: Seq[Array[Long]]) = {
      val ds = pqDists(lo, half, cb)
      array_position(ds, array_min(ds))
    }
    val scored = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        (element_at(dt1, code(1, cb1).cast("int")) +
          element_at(dt2, code(half + 1, cb2).cast("int"))).as("adc_dist"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("adc_dist"), col("vec_id"))
    scored.orderBy(col("adc_dist"), col("vec_id")).limit(topK)
      .withColumn("rn", row_number().over(w))
      .select(col("rn"), col("vec_id"), col("adc_dist"))
      .orderBy("rn")
  }

  /** RESIDUAL IVF-PQ (IVFADC — Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", PAMI'11 §IV): the production formulation
    * [[ivfPqTopK]] approximates — PQ quantizes the RESIDUAL x − c(cell)
    * to the coarse centroid, not the raw vector, which is what makes
    * recall usable at small code budgets (residuals concentrate near 0,
    * so the same k codes cover them far more densely than the raw
    * space). Everything stays in the exact-integer discipline via an
    * OFFSET trick: residuals are computed as q − c + 2000, which is
    * provably non-negative on this corpus (q ∈ ~[400, 1600], centroids
    * are means of q) — squared DIFFERENCES are offset-invariant, so
    * training, encoding, and ADC distances in offset space equal
    * residual space exactly, while keeping the division-free Lloyd
    * update (2S+n)/(2n) identical between Scala's truncating and
    * DuckDB's flooring integer division (both are floor on
    * non-negatives; a LOUD runtime guard enforces the premise).
    *
    * ADC with residuals is per-CELL: the query's residual differs per
    * probed cell, so the distance tables are (cell, subspace, code) —
    * k·M·k integers computed once on the driver — and each corpus
    * vector scores as two element_at lookups indexed by ITS cell and
    * codes. Scale shape = ivfPqTopK's (probe pruning × code lookup),
    * with the residual frame persisted across its five consumers
    * (guard, seeds, two subspace trainings, scoring).
    */
  def ivfAdcResidualTopK(sp: SparkSession, dir: String, k: Int = 8,
      iters: Int = 2, nprobe: Int = 2, topK: Int = 10): DataFrame = {
    require(iters == 2, // same oracle coupling as pqModel
      "ivfAdcResidualTopK: the registered oracle replays exactly two " +
        "Lloyd rounds")
    // compiled quantization (bit-identical to the transform lambda the
    // oracle replays — see QuantizeVec)
    val emb = Tables.embeddings(sp, dir).select(col("vec_id"),
      graft.functions.VectorFunctions
        .quantize_vec(col("embedding"), 1000, 1000L).as("q"))
    val full = emb.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Long](1).toArray)
    require(full.length == k, s"corpus smaller than k=$k")
    val dim = full.head.length
    require(dim % 2 == 0, s"PQ(M=2) needs an even dimension, got $dim")
    val half = dim / 2
    require(full.map(_.toSeq).distinct.length == k,
      s"k=$k coarse seed vectors are not pairwise-distinct after " +
        "quantization; an empty cell would diverge from the replay oracle")
    val coarse = lloydInt(emb, full.toSeq, 1, dim, iters)
    // cell assignment + offset residuals in ONE corpus pass
    val cellDs = pqDists(1, dim, coarse)
    val cents2d = array(coarse.map(c => array(c.map(lit): _*)): _*)
    val res = emb
      .withColumn("cell", array_position(cellDs, array_min(cellDs)))
      .select(col("vec_id"), col("cell"),
        zip_with(col("q"), element_at(cents2d, col("cell").cast("int")),
          (a, b) => a - b + lit(2000L)).as("q"))
      .persist()
    try {
      // the exactness premise, enforced loudly: a negative offset
      // residual would split Scala truncation from DuckDB floor
      val minRv = res.select(min(expr("array_min(q)"))).head().getLong(0)
      require(minRv >= 0L, s"offset residual went negative ($minRv); " +
        "the integer Lloyd replay is exact only on non-negatives")
      val rseed = res.orderBy("vec_id").limit(k).collect()
        .map(_.getSeq[Long](2).toArray)
      def train(lo: Int): Seq[Array[Long]] = {
        val init = rseed.map(_.slice(lo - 1, lo - 1 + half))
        require(init.map(_.toSeq).distinct.length == k,
          s"k=$k residual seed SUBvectors (dims $lo..${lo + half - 1}) " +
            "are not pairwise-distinct; an empty cluster would diverge " +
            "from the replay oracle")
        lloydInt(res, init.toSeq, lo, half, iters)
      }
      val cb1 = train(1)
      val cb2 = train(half + 1)
      // probe selection on the RAW query (the coarse router sees raw
      // vectors); driver-side k distances
      val qv = emb.filter(col("vec_id") === 0).collect()
      require(qv.length == 1, "query vector vec_id=0 missing")
      val qraw = qv.head.getSeq[Long](1).toArray
      def qDist(c: Array[Long]): Long = {
        var s = 0L; var j = 0
        while (j < dim) { val d = qraw(j) - c(j); s += d * d; j += 1 }
        s
      }
      val probed = coarse.zipWithIndex
        .map { case (c, i) => (qDist(c), (i + 1).toLong) }
        .sorted.take(nprobe).map(_._2)
      // per-cell query-residual ADC tables: k·M·k integers on the driver
      def qres(ci: Int): Array[Long] =
        qraw.indices.map(j => qraw(j) - coarse(ci)(j) + 2000L).toArray
      def table(r: Array[Long], lo: Int, cb: Seq[Array[Long]]): Array[Long] =
        cb.map { c =>
          var s = 0L; var j = 0
          while (j < half) {
            val d = r(lo - 1 + j) - c(j); s += d * d; j += 1
          }
          s
        }.toArray
      val dtAll1 = array((0 until k).map(ci =>
        array(table(qres(ci), 1, cb1).map(lit): _*)): _*)
      val dtAll2 = array((0 until k).map(ci =>
        array(table(qres(ci), half + 1, cb2).map(lit): _*)): _*)
      def code(lo: Int, cb: Seq[Array[Long]]) = {
        val ds = pqDists(lo, half, cb) // col("q") here IS the residual
        array_position(ds, array_min(ds))
      }
      val scored = res.filter(col("vec_id") =!= 0)
        .filter(col("cell").isin(probed: _*))
        .select(col("vec_id"), col("cell"),
          (element_at(element_at(dtAll1, col("cell").cast("int")),
            code(1, cb1).cast("int")) +
            element_at(element_at(dtAll2, col("cell").cast("int")),
              code(half + 1, cb2).cast("int"))).as("adc_dist"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("adc_dist"), col("vec_id"))
      val out = scored.orderBy(col("adc_dist"), col("vec_id")).limit(topK)
        .withColumn("rn", row_number().over(w))
        .select(col("rn"), col("vec_id"), col("cell"), col("adc_dist"))
        .orderBy("rn")
      // materialize before unpersisting the residual frame the plan feeds on
      out.localCheckpoint(true)
    } finally { res.unpersist(); () }
  }

  /** BINARY (sign) QUANTIZATION + exact rerank — the 1-bit/dim ANN
    * prefilter modern vector stores ship as "BQ" (the RaBitQ/
    * binary-hashing lineage): each dimension contributes one SIGN bit
    * (q_j >= 1000 ⇔ raw x_j >= 0 under the corpus quantization), the 64
    * dims pack into TWO 32-bit halves carried in two BIGINTs (shifts
    * stay ≤ 31 — the exact same packing replays in DuckDB, whose BIGINT
    * left-shift refuses 63), and stage 1 scores the whole corpus by
    * HAMMING distance: two xor + bit_count pairs per row, 16 bytes of
    * signature per vector — a 32× memory cut that scans billions of
    * signatures per node. Stage 2 reranks ONLY the top-`shortlist`
    * candidates by exact integer squared L2 at full dimension (the
    * matryoshka two-stage discipline: candidates ride a broadcast,
    * rerank cost ∝ shortlist). Ties break on vec_id at both cuts;
    * hamming AND l2 ride the output so both stages' arithmetic is
    * driver-hashed.
    */
  def annBinaryRerank(sp: SparkSession, dir: String, shortlist: Int = 50,
      topK: Int = 10): DataFrame = {
    // compiled quantization (bit-identical to the transform lambda the
    // oracle replays — see QuantizeVec)
    val emb = Tables.embeddings(sp, dir).select(col("vec_id"),
      graft.functions.VectorFunctions
        .quantize_vec(col("embedding"), 1000, 1000L).as("q"))
    def sig(lo: Int) = expr(
      s"aggregate(zip_with(slice(q, $lo, 32), sequence(0, 31), " +
        "(x, j) -> CASE WHEN x >= 1000 THEN shiftleft(CAST(1 AS BIGINT), j) " +
        "ELSE CAST(0 AS BIGINT) END), CAST(0 AS BIGINT), (a, b) -> a | b)")
    val sigs = emb.select(col("vec_id"), col("q"),
      sig(1).as("s1"), sig(33).as("s2"))
    val qr = sigs.filter(col("vec_id") === 0)
      .select(col("q"), col("s1"), col("s2")).collect()
    require(qr.length == 1, "query vector vec_id=0 missing")
    val qvec = qr.head.getSeq[Long](0).toArray
    val (qs1, qs2) = (qr.head.getLong(1), qr.head.getLong(2))
    val short = sigs.filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        (bit_count(col("s1").bitwiseXOR(lit(qs1))) +
          bit_count(col("s2").bitwiseXOR(lit(qs2)))).cast("long")
          .as("hamming"))
      .orderBy(col("hamming"), col("vec_id")).limit(shortlist)
    val rr = emb.join(broadcast(short), "vec_id")
      .select(col("vec_id"), col("hamming"),
        element_at(graft.functions.VectorFunctions
          .quantized_sq_dists(col("q"), Seq(qvec.toSeq)), 1).as("l2_dist"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("l2_dist"), col("vec_id"))
    rr.orderBy(col("l2_dist"), col("vec_id")).limit(topK)
      .withColumn("rn", row_number().over(w))
      .select(col("rn"), col("vec_id"), col("hamming"), col("l2_dist"))
      .orderBy("rn")
  }

  /** RECALL AUDIT of the binary prefilter — the measurement a deployment
    * runs before trusting (or resizing) an approximate stage: exact
    * integer-L2 top-10 is the ground truth, and the audit reports how
    * many of those survive (a) the 50-candidate Hamming shortlist and
    * (b) the final reranked top-10. One output row of exact integers —
    * the shortlist knob's quality surface. recall@k measurement is
    * itself a first-class pipeline operator (every ANN paper's table 1);
    * keeping it IN the engine means the audit scales with the corpus
    * (ground truth is one TakeOrdered pass, the membership checks ride
    * 10-row broadcasts).
    */
  def annRecallAudit(sp: SparkSession, dir: String, shortlist: Int = 50,
      topK: Int = 10): DataFrame = {
    // compiled quantization (bit-identical to the transform lambda the
    // oracle replays — see QuantizeVec)
    val emb = Tables.embeddings(sp, dir).select(col("vec_id"),
      graft.functions.VectorFunctions
        .quantize_vec(col("embedding"), 1000, 1000L).as("q"))
    val qv = emb.filter(col("vec_id") === 0).collect()
    require(qv.length == 1, "query vector vec_id=0 missing")
    val l2 = element_at(graft.functions.VectorFunctions
      .quantized_sq_dists(col("q"), Seq(qv.head.getSeq[Long](1))), 1)
    val exact = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), l2.as("d"))
      .orderBy(col("d"), col("vec_id")).limit(topK)
      .select("vec_id")
    val short = annBinaryRerank(sp, dir, shortlist, shortlist) // full shortlist, reranked order irrelevant
      .select(col("vec_id"), lit(1L).as("in_short"))
    val fin = annBinaryRerank(sp, dir, shortlist, topK)
      .select(col("vec_id"), lit(1L).as("in_final"))
    exact
      .join(broadcast(short), Seq("vec_id"), "left_outer")
      .join(broadcast(fin), Seq("vec_id"), "left_outer")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("in_short"), lit(0L))).as("shortlist_hits"),
        sum(coalesce(col("in_final"), lit(0L))).as("final_hits"))
  }

  /** The nprobe QUALITY surface of the residual IVFADC stack — recall@k
    * vs exact integer-L2 ground truth at nprobe ∈ {1, 2, 4}, the audit a
    * deployment runs to size its probe budget (the same shape
    * [[annRecallAudit]] gives the binary prefilter). Ground truth is ONE
    * TakeOrdered pass over the corpus; each probed ranking comes from
    * the persisted-index serve path ([[ivfAdcPersistedTopK]]) and its
    * 10-row result rides a broadcast into the membership join. Output is
    * a single row of exact integers.
    */
  def ivfAdcRecallAudit(sp: SparkSession, dir: String,
      topK: Int = 10): DataFrame = {
    // compiled quantization (bit-identical to the transform lambda the
    // oracle replays — see QuantizeVec)
    val emb = Tables.embeddings(sp, dir).select(col("vec_id"),
      graft.functions.VectorFunctions
        .quantize_vec(col("embedding"), 1000, 1000L).as("q"))
    val l2 = element_at(graft.functions.VectorFunctions
      .quantized_sq_dists(col("q"), Seq(ivfAdcQueryVector(sp, dir).toSeq)), 1)
    val exact = emb.filter(col("vec_id") =!= 0)
      .select(col("vec_id"), l2.as("d"))
      .orderBy(col("d"), col("vec_id")).limit(topK)
      .select("vec_id")
    def probedHits(n: Int) = ivfAdcPersistedTopK(sp, dir, nprobe = n,
      topK = topK).select(col("vec_id"), lit(1L).as(s"in_p$n"))
    exact
      .join(broadcast(probedHits(1)), Seq("vec_id"), "left_outer")
      .join(broadcast(probedHits(2)), Seq("vec_id"), "left_outer")
      .join(broadcast(probedHits(4)), Seq("vec_id"), "left_outer")
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("in_p1"), lit(0L))).as("hits_nprobe1"),
        sum(coalesce(col("in_p2"), lit(0L))).as("hits_nprobe2"),
        sum(coalesce(col("in_p4"), lit(0L))).as("hits_nprobe4"))
  }

  /** Fixture for `ann_ivfadc_persisted` (cached per session+SF): the
    * FULL deployable IVFADC index — coarse quantizer and residual PQ
    * codebooks trained once ([[ivfAdcResidualTopK]]'s exact integer
    * discipline), then the corpus (vec_id ≠ 0) encoded to a versioned
    * (vec_id, cell, code1, code2) table in three commits (snapshot +
    * two O(batch) appends with the SAME frozen models). At a billion
    * vectors this table IS the serving index: ~4 small ints per vector,
    * partitionable BY CELL so the probe prunes I/O before any scoring.
    * Returns (path, coarse, cb1, cb2, half, dim).
    */
  private val ivfAdcIndexCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String),
      (String, Seq[Array[Long]], Seq[Array[Long]], Seq[Array[Long]], Int, Int)]

  def prebuildIvfAdcIndex(sp: SparkSession, dir: String)
      : (String, Seq[Array[Long]], Seq[Array[Long]], Seq[Array[Long]], Int, Int) =
    ivfAdcIndexCache.computeIfAbsent((sp, dir), { _ =>
      val k = 8
      val emb = Tables.embeddings(sp, dir).select(col("vec_id"),
        graft.functions.VectorFunctions
          .quantize_vec(col("embedding"), 1000, 1000L).as("q"))
      val full = emb.orderBy("vec_id").limit(k).collect()
        .map(_.getSeq[Long](1).toArray)
      require(full.length == k, s"corpus smaller than k=$k")
      val dim = full.head.length
      val half = dim / 2
      require(full.map(_.toSeq).distinct.length == k,
        s"k=$k coarse seed vectors are not pairwise-distinct")
      val coarse = lloydInt(emb, full.toSeq, 1, dim, 2)
      val cellDs = pqDists(1, dim, coarse)
      val cents2d = array(coarse.map(c => array(c.map(lit): _*)): _*)
      val res = emb
        .withColumn("cell", array_position(cellDs, array_min(cellDs)))
        .select(col("vec_id"), col("cell"),
          zip_with(col("q"), element_at(cents2d, col("cell").cast("int")),
            (a, b) => a - b + lit(2000L)).as("q"))
        .persist()
      try {
        val minRv = res.select(min(expr("array_min(q)"))).head().getLong(0)
        require(minRv >= 0L, s"offset residual went negative ($minRv)")
        val rseed = res.orderBy("vec_id").limit(k).collect()
          .map(_.getSeq[Long](2).toArray)
        def train(lo: Int): Seq[Array[Long]] = {
          val init = rseed.map(_.slice(lo - 1, lo - 1 + half))
          require(init.map(_.toSeq).distinct.length == k,
            s"k=$k residual seed SUBvectors (dims $lo..) not distinct")
          lloydInt(res, init.toSeq, lo, half, 2)
        }
        val cb1 = train(1)
        val cb2 = train(half + 1)
        def code(lo: Int, cb: Seq[Array[Long]]) = {
          val ds = pqDists(lo, half, cb)
          array_position(ds, array_min(ds))
        }
        def encode(df: DataFrame) = df.select(col("vec_id"), col("cell"),
          code(1, cb1).as("code1"), code(half + 1, cb2).as("code2"))
        val corpus = res.filter(col("vec_id") =!= 0)
        val path = s"${graft.pipeline.Scratch.dir("ivfadcidx")}/index"
        graft.sources.Lake.writeVersioned(sp,
          encode(corpus.filter(col("vec_id") % 2 === 0)), path)
        graft.sources.Lake.appendVersioned(sp,
          encode(corpus.filter(col("vec_id") % 4 === 1)), path)
        graft.sources.Lake.appendVersioned(sp,
          encode(corpus.filter(col("vec_id") % 4 === 3)), path)
        (path, coarse, cb1, cb2, half, dim)
      } finally { res.unpersist(); () }
    })

  /** IVFADC search over the PERSISTED index — the query path a
    * billion-vector deployment actually serves: probe selection and the
    * per-probed-cell residual ADC tables are driver arithmetic over the
    * frozen models; the ONLY distributed work is a scan of the
    * (vec_id, cell, code1, code2) table with the cell probe pushed INTO
    * the parquet reader (PushedFilters: In(cell, …); the FILE-prune form
    * of the same lever is [[ivfAdcPartitionedTopK]] over the
    * cell-clustered index) and
    * two element_at lookups per surviving row. No vector column is
    * touched anywhere in the timed frame (PlanSpec pins both
    * properties). Composes [[prebuildIvfAdcIndex]] (encode once) with
    * [[ivfAdcResidualTopK]]'s scoring algebra (exact integers, per-cell
    * query tables, vec_id-tied TakeOrdered cut).
    */
  def ivfAdcPersistedTopK(sp: SparkSession, dir: String, nprobe: Int = 2,
      topK: Int = 10): DataFrame = {
    val idx = prebuildIvfAdcIndex(sp, dir)
    val q = ivfAdcQueryVector(sp, dir)
    val probed = ivfAdcProbes(q, idx._2, idx._6, nprobe)
    ivfAdcServeWith(idx, q, probed, topK,
      graft.sources.Lake.readVersioned(sp, idx._1)
        .filter(col("cell").isin(probed: _*)))
  }

  /** The shared IVFADC serving algebra over a persisted code table:
    * the query vector and probe set arrive PRECOMPUTED (each caller
    * collects vec_id=0 exactly once), the per-probed-cell residual ADC
    * tables are driver arithmetic (k·M·k integers), `codes` is the
    * already-narrowed index frame (versioned read with the probe pushed,
    * or the stats-manifest file-pruned read); scoring is two element_at
    * lookups per row and the cut is a vec_id-tied TakeOrdered.
    */
  private def ivfAdcServeWith(
      index: (String, Seq[Array[Long]], Seq[Array[Long]],
        Seq[Array[Long]], Int, Int),
      q: Array[Long], probed: Seq[Long], topK: Int,
      codes: DataFrame): DataFrame = {
    val (_, coarse, cb1, cb2, half, dim) = index
    val k = coarse.length
    def qres(ci: Int): Array[Long] =
      q.indices.map(j => q(j) - coarse(ci)(j) + 2000L).toArray
    def table(r: Array[Long], lo: Int, cb: Seq[Array[Long]]): Array[Long] =
      cb.map { c =>
        var s = 0L; var j = 0
        while (j < half) {
          val d = r(lo - 1 + j) - c(j); s += d * d; j += 1
        }
        s
      }.toArray
    val dtAll1 = array((0 until k).map(ci =>
      array(table(qres(ci), 1, cb1).map(lit): _*)): _*)
    val dtAll2 = array((0 until k).map(ci =>
      array(table(qres(ci), half + 1, cb2).map(lit): _*)): _*)
    val scored = codes
      .select(col("vec_id"), col("cell"), col("code1"), col("code2"),
        (element_at(element_at(dtAll1, col("cell").cast("int")),
          col("code1").cast("int")) +
          element_at(element_at(dtAll2, col("cell").cast("int")),
            col("code2").cast("int"))).as("adc_dist"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("adc_dist"), col("vec_id"))
    scored.orderBy(col("adc_dist"), col("vec_id")).limit(topK)
      .withColumn("rn", row_number().over(w))
      .select(col("rn"), col("vec_id"), col("cell"), col("code1"),
        col("code2"), col("adc_dist"))
      .orderBy("rn")
  }

  private def ivfAdcQueryVector(sp: SparkSession, dir: String): Array[Long] = {
    val qv = Tables.embeddings(sp, dir).filter(col("vec_id") === 0)
      .select(expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) + 1000)"))
      .collect()
    require(qv.length == 1, "query vector vec_id=0 missing")
    qv.head.getSeq[Long](0).toArray
  }

  private def ivfAdcProbes(q: Array[Long], coarse: Seq[Array[Long]],
      dim: Int, nprobe: Int): Seq[Long] = {
    def qDist(c: Array[Long]): Long = {
      var s = 0L; var j = 0
      while (j < dim) { val d = q(j) - c(j); s += d * d; j += 1 }
      s
    }
    coarse.zipWithIndex
      .map { case (c, i) => (qDist(c), (i + 1).toLong) }
      .sorted.take(nprobe).map(_._2)
  }

  /** Fixture for `ann_ivfadc_partitioned`: the persisted IVFADC index
    * PHYSICALLY ORGANIZED BY CELL — the re-cluster step (Delta's
    * OPTIMIZE ZORDER analog for a vector index) that makes the nprobe
    * probe a FILE-prune, not just a pushed row-group filter. The code
    * table from [[prebuildIvfAdcIndex]] is rewritten range-clustered on
    * (cell, vec_id) into one commit, and a per-file min/max stats
    * manifest on `cell` is published ([[graft.sources.Lake.writeStats]])
    * — at 100 TB the serving scan then opens (≈ nprobe/k) of the index's
    * files instead of every footer. Returns the same tuple as the
    * unclustered prebuild, pointing at the clustered table.
    */
  private val ivfAdcPartCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String),
      (String, Seq[Array[Long]], Seq[Array[Long]], Seq[Array[Long]], Int, Int)]

  def prebuildIvfAdcPartitionedIndex(sp: SparkSession, dir: String)
      : (String, Seq[Array[Long]], Seq[Array[Long]], Seq[Array[Long]], Int, Int) =
    ivfAdcPartCache.computeIfAbsent((sp, dir), { _ =>
      val (srcPath, coarse, cb1, cb2, half, dim) =
        prebuildIvfAdcIndex(sp, dir)
      val path = s"${graft.pipeline.Scratch.dir("ivfadcpart")}/index"
      // range-partition on cell ALONE: equal values never split across
      // range partitions, so every cell lands whole in exactly ONE file
      // (a probe therefore keeps ≤ nprobe files however the sampled
      // boundaries fall); vec_id rides only in the in-file sort
      graft.sources.Lake.writeVersioned(sp,
        graft.sources.Lake.readVersioned(sp, srcPath)
          .repartitionByRange(coarse.length, col("cell"))
          .sortWithinPartitions(col("cell"), col("vec_id")),
        path)
      graft.sources.Lake.writeStats(sp, path, Seq("cell"))
      (path, coarse, cb1, cb2, half, dim)
    })

  /** (files the probe keeps, total index files) from the stats manifest
    * alone — the file-prune evidence `ann_ivfadc_partitioned` requires
    * in-query and PlanSpec pins. Metadata-proportional: one manifest row
    * per file.
    */
  def ivfAdcPartitionedPruneStats(sp: SparkSession, dir: String,
      nprobe: Int = 2): (Long, Long) = {
    val (path, coarse, _, _, _, dim) = prebuildIvfAdcPartitionedIndex(sp, dir)
    val probed = ivfAdcProbes(ivfAdcQueryVector(sp, dir), coarse, dim, nprobe)
    pruneStatsFor(sp, path, probed)
  }

  private def pruneStatsFor(sp: SparkSession, path: String,
      probed: Seq[Long]): (Long, Long) = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(sp.sparkContext.hadoopConfiguration)
    val manifest = graft.sources.StatsManifest.read(fs,
      graft.sources.StatsManifest.dir(path))
    val keep = probed.map(c =>
      graft.sources.Lake.skipRange("cell", lit(c), lit(c))).reduce(_ || _)
    // interpreted over the manifest rows on the driver: no job, and no
    // generated class for the probed cells' literals
    (manifest.keeps(sp, keep).count(identity).toLong, manifest.rows.size.toLong)
  }

  /** IVFADC search where the nprobe probe prunes FILES: the scan reads
    * only index files whose stats-manifest [min_cell, max_cell] touches
    * a probed cell ([[graft.sources.Lake.readSkipping]]) — the literal
    * (k − nprobe)/k I/O cut SCALE.md claims, instead of opening every
    * footer and relying on pushed row-group filters. The in-row require
    * proves pruning actually happened (kept < total); scoring and output
    * are identical to [[ivfAdcPersistedTopK]], so the same oracle hashes
    * both.
    */
  def ivfAdcPartitionedTopK(sp: SparkSession, dir: String, nprobe: Int = 2,
      topK: Int = 10): DataFrame = {
    val idx = prebuildIvfAdcPartitionedIndex(sp, dir)
    // one query-vector collect + one probe selection feed the prune
    // evidence AND the serve path
    val q = ivfAdcQueryVector(sp, dir)
    val probed = ivfAdcProbes(q, idx._2, idx._6, nprobe)
    val (kept, total) = pruneStatsFor(sp, idx._1, probed)
    require(kept >= 1 && kept < total,
      s"cell probe did not prune index files (kept $kept of $total) — " +
        "the clustered layout or the stats manifest is broken")
    ivfAdcServeWith(idx, q, probed, topK,
      graft.sources.Lake.readSkipping(sp, idx._1,
          probed.map(c => graft.sources.Lake.skipRange("cell",
            lit(c), lit(c))).reduce(_ || _))
        // belt over the manifest's braces: files can straddle two cells
        // at a range boundary, so the row-level probe still applies (and
        // still pushes into the reader)
        .filter(col("cell").isin(probed: _*)))
  }

  /** Fixture for `ann_pq_persisted` (cached per session+SF): the ENCODE
    * half of PQ done ONCE — the frozen subspace codebooks from
    * [[pqModel]] encode the corpus (vec_id ≠ 0) to a versioned
    * (vec_id, code1, code2) table in three commits (initial snapshot +
    * two O(batch) appends with the SAME codebooks: the encode-once /
    * stream-codes-forever contract a billion-vector deployment runs).
    * Returns (code-table path, cb1, cb2, half).
    */
  private val pqIndexCache =
    new java.util.concurrent.ConcurrentHashMap[
      (SparkSession, String),
      (String, Seq[Array[Long]], Seq[Array[Long]], Int)]

  def prebuildPqIndex(sp: SparkSession,
      dir: String): (String, Seq[Array[Long]], Seq[Array[Long]], Int) =
    pqIndexCache.computeIfAbsent((sp, dir), { _ =>
      val (emb, cb1, cb2, half) = pqModel(sp, dir, 8, 2)
      def code(lo: Int, cb: Seq[Array[Long]]) = {
        val ds = pqDists(lo, half, cb)
        array_position(ds, array_min(ds))
      }
      def encode(df: DataFrame) = df.select(col("vec_id"),
        code(1, cb1).as("code1"), code(half + 1, cb2).as("code2"))
      val corpus = emb.filter(col("vec_id") =!= 0)
      val path = s"${graft.pipeline.Scratch.dir("pqidx")}/codes"
      graft.sources.Lake.writeVersioned(sp,
        encode(corpus.filter(col("vec_id") % 2 === 0)), path)
      graft.sources.Lake.appendVersioned(sp,
        encode(corpus.filter(col("vec_id") % 4 === 1)), path)
      graft.sources.Lake.appendVersioned(sp,
        encode(corpus.filter(col("vec_id") % 4 === 3)), path)
      (path, cb1, cb2, half)
    })

  /** ADC top-k over the PERSISTED code table — the search path a
    * billion-vector PQ deployment actually runs (and the half
    * [[pqAdcTopK]] only demonstrates the algebra of): vectors were
    * encoded ONCE at index-build time ([[prebuildPqIndex]], three
    * versioned commits), and the query scan reads (vec_id, code1, code2)
    * ONLY — no embedding column, no per-row vector arithmetic anywhere.
    * Per row the cost is exactly two element_at lookups into the k·M
    * query-distance literals computed once on the driver, i.e. the
    * "streams billions of codes per node" cost model for real: at 100 TB
    * the code table is ~32x smaller than the vectors (2 bytes vs 256+)
    * and the scan is the index, not the corpus. TakeOrdered cut, vec_id
    * tie-breaks — the ann_topk discipline.
    */
  def pqPersistedTopK(sp: SparkSession, dir: String,
      topK: Int = 10): DataFrame = {
    val (path, cb1, cb2, half) = prebuildPqIndex(sp, dir)
    val qv = Tables.embeddings(sp, dir).filter(col("vec_id") === 0)
      .select(expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT) + 1000)"))
      .collect()
    require(qv.length == 1, "query vector vec_id=0 missing")
    val q = qv.head.getSeq[Long](0).toArray
    def table(lo: Int, cb: Seq[Array[Long]]): Array[Long] = cb.map { c =>
      var s = 0L; var j = 0
      while (j < half) {
        val d = q(lo - 1 + j) - c(j); s += d * d; j += 1
      }
      s
    }.toArray
    val dt1 = array(table(1, cb1).map(lit): _*)
    val dt2 = array(table(half + 1, cb2).map(lit): _*)
    val scored = graft.sources.Lake.readVersioned(sp, path)
      .select(col("vec_id"), col("code1"), col("code2"),
        (element_at(dt1, col("code1").cast("int")) +
          element_at(dt2, col("code2").cast("int"))).as("adc_dist"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("adc_dist"), col("vec_id"))
    scored.orderBy(col("adc_dist"), col("vec_id")).limit(topK)
      .withColumn("rn", row_number().over(w))
      .select(col("rn"), col("vec_id"), col("code1"), col("code2"),
        col("adc_dist"))
      .orderBy("rn")
  }

  /** DuckDB replay of the persisted-IVFADC search (coarse chain,
    * residual chains, probe selection, per-cell ADC) -- shared by
    * ann_ivfadc_persisted and ann_ivfadc_partitioned, whose outputs
    * are identical by construction (same models, same codes; only
    * the physical file layout differs).
    */
  private val ivfAdcPersistedOracle =
    """WITH e AS (
          |  SELECT vec_id,
          |         list_transform(embedding,
          |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
          |                + 1000) AS q
          |  FROM embeddings),
          |f_seed AS (
          |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, q AS c
          |  FROM e ORDER BY vec_id LIMIT 8),
          |f_eg AS (SELECT vec_id, j, q[j] AS qv
          |         FROM e, generate_series(1, 64) t(j)),
          |f_c0 AS (SELECT cid, j, c[j] AS cv
          |         FROM f_seed, generate_series(1, 64) t(j)),
          |f_d1 AS (SELECT f_eg.vec_id, f_c0.cid,
          |                sum((qv - cv) * (qv - cv)) AS d
          |         FROM f_eg JOIN f_c0 USING (j) GROUP BY 1, 2),
          |f_a1 AS (SELECT vec_id, cid FROM (
          |           SELECT vec_id, cid, row_number() OVER (
          |             PARTITION BY vec_id ORDER BY d, cid) AS rn FROM f_d1)
          |         WHERE rn = 1),
          |f_c1 AS (SELECT cid, j,
          |                (2 * sum(qv) + count(*)) // (2 * count(*)) AS cv
          |         FROM f_a1 JOIN f_eg USING (vec_id) GROUP BY 1, 2),
          |f_d2 AS (SELECT f_eg.vec_id, f_c1.cid,
          |                sum((qv - cv) * (qv - cv)) AS d
          |         FROM f_eg JOIN f_c1 USING (j) GROUP BY 1, 2),
          |f_a2 AS (SELECT vec_id, cid AS cell FROM (
          |           SELECT vec_id, cid, row_number() OVER (
          |             PARTITION BY vec_id ORDER BY d, cid) AS rn FROM f_d2)
          |         WHERE rn = 1),
          |qc AS (SELECT f_c1.cid, sum((qe.qv - f_c1.cv) * (qe.qv - f_c1.cv)) AS d
          |       FROM (SELECT j, qv FROM f_eg WHERE vec_id = 0) qe
          |       JOIN f_c1 USING (j) GROUP BY 1),
          |probes AS (SELECT cid AS cell FROM (
          |             SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn
          |             FROM qc) WHERE rn <= 2),
          |res AS (SELECT f_eg.vec_id, f_eg.j, f_eg.qv - f_c1.cv + 2000 AS rv
          |        FROM f_eg
          |        JOIN f_a2 ON f_a2.vec_id = f_eg.vec_id
          |        JOIN f_c1 ON f_c1.cid = f_a2.cell AND f_c1.j = f_eg.j),
          |r_sub AS (
          |  SELECT vec_id, 1 AS m, j, rv FROM res WHERE j <= 32
          |  UNION ALL
          |  SELECT vec_id, 2 AS m, j - 32 AS j, rv FROM res WHERE j > 32),
          |r_seedv AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS cid
          |            FROM e ORDER BY vec_id LIMIT 8),
          |r_c0 AS (SELECT s.cid, r.m, r.j, r.rv AS cv
          |         FROM r_seedv s JOIN r_sub r ON r.vec_id = s.vec_id),
          |r_d1 AS (SELECT r.m, r.vec_id, c.cid,
          |                sum((r.rv - c.cv) * (r.rv - c.cv)) AS d
          |         FROM r_sub r JOIN r_c0 c ON c.m = r.m AND c.j = r.j
          |         GROUP BY 1, 2, 3),
          |r_a1 AS (SELECT m, vec_id, cid FROM (
          |           SELECT m, vec_id, cid, row_number() OVER (
          |             PARTITION BY m, vec_id ORDER BY d, cid) AS rn FROM r_d1)
          |         WHERE rn = 1),
          |r_c1 AS (SELECT a.m, a.cid, r.j,
          |                (2 * sum(r.rv) + count(*)) // (2 * count(*)) AS cv
          |         FROM r_a1 a JOIN r_sub r ON r.m = a.m
          |                                 AND r.vec_id = a.vec_id
          |         GROUP BY 1, 2, 3),
          |r_d2 AS (SELECT r.m, r.vec_id, c.cid,
          |                sum((r.rv - c.cv) * (r.rv - c.cv)) AS d
          |         FROM r_sub r JOIN r_c1 c ON c.m = r.m AND c.j = r.j
          |         GROUP BY 1, 2, 3),
          |r_a2 AS (SELECT m, vec_id, cid FROM (
          |           SELECT m, vec_id, cid, row_number() OVER (
          |             PARTITION BY m, vec_id ORDER BY d, cid) AS rn FROM r_d2)
          |         WHERE rn = 1),
          |q_res AS (SELECT pr.cell, qe.j, qe.qv - f_c1.cv + 2000 AS rv
          |          FROM probes pr
          |          CROSS JOIN (SELECT j, qv FROM f_eg WHERE vec_id = 0) qe
          |          JOIN f_c1 ON f_c1.cid = pr.cell AND f_c1.j = qe.j),
          |q_sub AS (
          |  SELECT cell, 1 AS m, j, rv FROM q_res WHERE j <= 32
          |  UNION ALL
          |  SELECT cell, 2 AS m, j - 32 AS j, rv FROM q_res WHERE j > 32),
          |dt AS (SELECT q.cell, c.m, c.cid,
          |              sum((q.rv - c.cv) * (q.rv - c.cv)) AS qdist
          |       FROM q_sub q JOIN r_c1 c ON c.m = q.m AND c.j = q.j
          |       GROUP BY 1, 2, 3),
          |sc AS (SELECT a.vec_id, f.cell,
          |              max(CASE WHEN a.m = 1 THEN a.cid END) AS code1,
          |              max(CASE WHEN a.m = 2 THEN a.cid END) AS code2,
          |              CAST(sum(dt.qdist) AS BIGINT) AS adc_dist
          |       FROM r_a2 a
          |       JOIN f_a2 f ON f.vec_id = a.vec_id
          |       JOIN probes pr ON pr.cell = f.cell
          |       JOIN dt ON dt.cell = f.cell AND dt.m = a.m AND dt.cid = a.cid
          |       WHERE a.vec_id <> 0
          |       GROUP BY 1, 2)
          |SELECT rn, vec_id, cell, code1, code2, adc_dist FROM (
          |  SELECT vec_id, cell, code1, code2, adc_dist,
          |         row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
          |  FROM sc)
          |WHERE rn <= 10 ORDER BY rn""".stripMargin

  /** ann_ivfadc_recall's oracle, DERIVED from [[ivfAdcPersistedOracle]]
    * by surgery instead of a third hand-copied CTE chain: widen the
    * probe list to rank 4 carrying each cell's probe rank (`crank`),
    * ride the rank into the scored rows, then rank the survivors under
    * crank ≤ {1,2,4} and count overlaps with the exact-L2 top-10. The
    * two engines must agree on every intermediate (coarse chain,
    * residual chains, per-cell ADC) — a probe-order tie broken the
    * other way at ANY nprobe breaks one of the three counts.
    */
  private val ivfAdcRecallOracle: String = {
    val base = ivfAdcPersistedOracle
    val cut = base.indexOf("SELECT rn, vec_id, cell, code1, code2, adc_dist")
    require(cut > 0, "ivfAdcPersistedOracle tail changed; recall surgery stale")
    base.substring(0, cut)
      .replace("probes AS (SELECT cid AS cell FROM (",
        "probes AS (SELECT cid AS cell, rn AS crank FROM (")
      .replace("FROM qc) WHERE rn <= 2),", "FROM qc) WHERE rn <= 4),")
      .replace("CAST(sum(dt.qdist) AS BIGINT) AS adc_dist",
        "CAST(sum(dt.qdist) AS BIGINT) AS adc_dist,\n" +
          "              max(pr.crank) AS crank") +
      """,
        |ex_d AS (SELECT g.vec_id, sum((g.qv - q0.qv) * (g.qv - q0.qv)) AS d
        |         FROM f_eg g
        |         JOIN (SELECT j, qv FROM f_eg WHERE vec_id = 0) q0 USING (j)
        |         WHERE g.vec_id <> 0 GROUP BY 1),
        |exact AS (SELECT vec_id FROM (
        |            SELECT vec_id, row_number() OVER (ORDER BY d, vec_id) AS rn
        |            FROM ex_d) WHERE rn <= 10),
        |t1 AS (SELECT vec_id FROM (
        |         SELECT vec_id, row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
        |         FROM sc WHERE crank <= 1) WHERE rn <= 10),
        |t2 AS (SELECT vec_id FROM (
        |         SELECT vec_id, row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
        |         FROM sc WHERE crank <= 2) WHERE rn <= 10),
        |t4 AS (SELECT vec_id FROM (
        |         SELECT vec_id, row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
        |         FROM sc WHERE crank <= 4) WHERE rn <= 10)
        |SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
        |       CAST((SELECT count(*) FROM exact JOIN t1 USING (vec_id)) AS BIGINT) AS hits_nprobe1,
        |       CAST((SELECT count(*) FROM exact JOIN t2 USING (vec_id)) AS BIGINT) AS hits_nprobe2,
        |       CAST((SELECT count(*) FROM exact JOIN t4 USING (vec_id)) AS BIGINT) AS hits_nprobe4""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    // Single-query brute-force top-10 against vec_id = 0.
    QueryDef(
      "ann_topk",
      (sp, dir) => {
        val emb = Tables.embeddings(sp, dir)
        topK(emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", 10)
          .select("vec_id", "rn", "cos_r")
          .orderBy("rn")
      },
      Some(
        s"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) qe
           |           FROM embeddings WHERE vec_id = 0)
           |SELECT vec_id, rn, cos_r FROM (
           |  SELECT e.vec_id,
           |         row_number() OVER (ORDER BY $cosSql DESC, e.vec_id) AS rn,
           |         round($cosSql, 4) + 0.0 AS cos_r
           |  FROM embeddings e, q WHERE e.vec_id <> 0)
           |WHERE rn <= 10 ORDER BY rn""".stripMargin),
    ),
    // Multi-query knn: every 100th vector probes the corpus, top-5 each.
    QueryDef(
      "ann_knn_sample",
      (sp, dir) => {
        val emb = Tables.embeddings(sp, dir)
        topK(emb, emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", 5)
          .orderBy("query_id", "rn")
      },
      Some(
        s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qe
           |           FROM embeddings WHERE vec_id % 100 = 0)
           |SELECT query_id, vec_id, rn, cos_r FROM (
           |  SELECT q.query_id, e.vec_id,
           |         row_number() OVER (PARTITION BY q.query_id
           |                            ORDER BY $cosSql DESC, e.vec_id) AS rn,
           |         round($cosSql, 4) + 0.0 AS cos_r
           |  FROM embeddings e, q WHERE e.vec_id <> q.query_id)
           |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    ),
    // Vector-column aggregate: per-label mean squared norm.
    QueryDef(
      "embedding_norms",
      (sp, dir) =>
        Tables.embeddings(sp, dir)
          .select(col("label"),
            aggregate(transform(col("embedding"), x => x.cast("double") * x.cast("double")),
              lit(0.0), (acc, v) => acc + v).as("sq_norm"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"), roundCanon(avg(col("sq_norm")), 4).as("avg_sq_norm"))
          .orderBy("label"),
      Some(
        """SELECT label, count(*) AS n,
          |       round(avg(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
          |                                         x -> x * x))), 4) + 0.0 AS avg_sq_norm
          |FROM embeddings GROUP BY label ORDER BY label""".stripMargin),
    ),
    // LSH-bucketed ANN over the same sample queries (the scale path).
    // DRIVER-ORACLED RECALL (r12 verdict next-4): the splitmix64
    // hyperplanes aren't SQL-computable, but the recall against the
    // exact top-k (independently oracled via ann_topk/ann_knn_sample)
    // IS checkable as an integer threshold: the plan computes both
    // rankings and emits one row whose recall_ok flag the oracle pins
    // to 1. The fixture's vectors carry only weak locality (top-5
    // cosines ~0.3), so the pin is calibrated to ≥4% = 5× the ~1%
    // uniform-random baseline of the auto-sized bucketing (occupancy
    // ~2, bits+1 probes ⇒ ~2(bits+1)/N of the corpus scanned);
    // measured 12%/20%/6% at sf0.001/0.01/0.1. High-recall-on-
    // clustered-data stays pinned in SimilaritySpec.
    QueryDef(
      "ann_lsh",
      (sp, dir) => {
        val emb = Tables.embeddings(sp, dir)
        val queries = emb.filter(col("vec_id") % 100 === 0)
        val approx = lshTopK(emb, queries, "vec_id", "embedding", 5)
        val exact = topK(emb, queries, "vec_id", "embedding", 5)
        val hits = approx.select("query_id", "vec_id")
          .join(exact.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
          .agg(count(lit(1)).as("n_hits"))
        queries.agg(count(lit(1)).as("n_queries")).crossJoin(hits)
          .select(col("n_queries"),
            // recall ≥ 1/25 of the n_queries*k possible hits, integers only
            (col("n_hits") * 5 >= col("n_queries")).cast("int").as("recall_ok"))
          .orderBy("n_queries")
      },
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_queries, 1 AS recall_ok
          |FROM embeddings WHERE vec_id % 100 = 0
          |ORDER BY n_queries""".stripMargin),
    ),
    // Same LSH pipeline, cross-engine-verifiable variant: md5-derived
    // hyperplane signs + integer-quantized dot ranking make bucketing,
    // multiprobe, and rank all EXACT in SQL — the whole ANN pipeline is
    // oracled end-to-end (ann_lsh stays the xxhash fast path).
    QueryDef(
      "ann_lsh_md5",
      (sp, dir) =>
        lshTopKMd5(Tables.embeddings(sp, dir), col("vec_id") % 25 === 0, k = 5)
          .orderBy("query_id", "rn"),
      Some(
        """WITH q AS (
          |  SELECT vec_id, i - 1 AS j,
          |         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000)
          |              AS BIGINT) AS qv
          |  FROM embeddings, unnest(generate_series(1, 64)) AS u(i)),
          |p AS (
          |  SELECT greatest(4, length(printf('%b', (count(*) + 1) // 2 - 1))) AS nb
          |  FROM embeddings),
          |pr AS (
          |  SELECT vec_id, l.i AS i,
          |         sum(qv * CASE WHEN substr(md5(l.i || ':' || j), 1, 1)
          |                       IN ('0','1','2','3','4','5','6','7')
          |                  THEN 1 ELSE -1 END) AS proj
          |  FROM q, unnest(generate_series(0, (SELECT nb - 1 FROM p))) AS l(i)
          |  GROUP BY vec_id, l.i),
          |bk AS (
          |  SELECT vec_id,
          |         sum(CASE WHEN proj > 0
          |             THEN CAST(1 AS BIGINT) << CAST(i AS INT) ELSE 0 END) AS bucket
          |  FROM pr GROUP BY vec_id),
          |probes AS (
          |  SELECT vec_id AS query_id, bucket FROM bk WHERE vec_id % 25 = 0
          |  UNION
          |  SELECT b.vec_id, xor(b.bucket, CAST(1 AS BIGINT) << CAST(l.i AS INT))
          |  FROM bk b, unnest(generate_series(0, (SELECT nb - 1 FROM p))) AS l(i)
          |  WHERE b.vec_id % 25 = 0),
          |cand AS (
          |  SELECT DISTINCT p.query_id, c.vec_id
          |  FROM probes p JOIN bk c ON p.bucket = c.bucket
          |  WHERE c.vec_id <> p.query_id),
          |sc AS (
          |  SELECT cand.query_id, cand.vec_id, CAST(sum(a.qv * b.qv) AS BIGINT) AS dot
          |  FROM cand
          |  JOIN q a ON a.vec_id = cand.query_id
          |  JOIN q b ON b.vec_id = cand.vec_id AND b.j = a.j
          |  GROUP BY 1, 2)
          |SELECT query_id, vec_id, CAST(rn AS INT) AS rn, dot FROM (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |                               ORDER BY dot DESC, vec_id) AS rn
          |  FROM sc)
          |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    ),
    // Cross-engine IVF: deterministic integer codebook + integer scores —
    // the full index → assign → probe → rank pipeline proven in SQL.
    QueryDef(
      "ann_ivf_int",
      (sp, dir) =>
        ivfTopKInt(Tables.embeddings(sp, dir), col("vec_id") % 25 === 0, k = 5)
          .orderBy("query_id", "rn"),
      Some(
        """WITH q AS (
          |  SELECT vec_id, i - 1 AS j,
          |         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000)
          |              AS BIGINT) AS qv
          |  FROM embeddings, unnest(generate_series(1, 64)) AS u(i)),
          |p AS (
          |  SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS nc
          |  FROM embeddings),
          |cents AS (
          |  SELECT vec_id AS cent_id FROM (
          |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
          |    FROM embeddings WHERE vec_id % 7 = 3)
          |  WHERE rn <= (SELECT nc FROM p)),
          |cq AS (
          |  SELECT c.cent_id, q.j, q.qv AS cv
          |  FROM cents c JOIN q ON q.vec_id = c.cent_id),
          |dots AS (
          |  SELECT q.vec_id, cq.cent_id, CAST(sum(q.qv * cq.cv) AS BIGINT) AS dot
          |  FROM q JOIN cq ON q.j = cq.j GROUP BY 1, 2),
          |ranked AS (
          |  SELECT vec_id, cent_id,
          |         row_number() OVER (PARTITION BY vec_id
          |                            ORDER BY dot DESC, cent_id) AS crn
          |  FROM dots),
          |assign AS (
          |  SELECT vec_id, cent_id AS cluster_id FROM ranked WHERE crn = 1),
          |qset AS (
          |  SELECT vec_id FROM (
          |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
          |    FROM embeddings WHERE vec_id % 25 = 0)
          |  WHERE rn <= 40),
          |probes AS (
          |  SELECT vec_id AS query_id, cent_id AS cluster_id
          |  FROM ranked WHERE crn <= 4
          |    AND vec_id IN (SELECT vec_id FROM qset)),
          |cand AS (
          |  SELECT DISTINCT p.query_id, a.vec_id
          |  FROM probes p JOIN assign a USING (cluster_id)
          |  WHERE a.vec_id <> p.query_id),
          |sc AS (
          |  SELECT cand.query_id, cand.vec_id, CAST(sum(a.qv * b.qv) AS BIGINT) AS dot
          |  FROM cand
          |  JOIN q a ON a.vec_id = cand.query_id
          |  JOIN q b ON b.vec_id = cand.vec_id AND b.j = a.j
          |  GROUP BY 1, 2)
          |SELECT query_id, vec_id, CAST(rn AS INT) AS rn, dot FROM (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |                               ORDER BY dot DESC, vec_id) AS rn
          |  FROM sc)
          |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    ),
    // ---- PERSISTED + INCREMENTALLY MAINTAINED IVF index: the codebook
    //      is trained (deterministically, integer-quantized — the
    //      ann_ivf_int recipe) on the INITIAL corpus half and FROZEN;
    //      the index is a versioned Lake table of (vec_id, cluster_id)
    //      built from that half, then the other half arrives as TWO
    //      O(batch) appendVersioned commits assigned with the same
    //      frozen codebook. Because per-vector assignment is independent
    //      of arrival order, incremental-maintenance ≡ one-shot-build is
    //      exactly what the oracle verifies: the SQL recomputes the
    //      whole-corpus assignment in one pass, so a drifted codebook, a
    //      lost append, or a double-applied batch all fail the hash.
    //      This closes the index-maintenance story across all four index
    //      families (dedup signatures, bloom, MV, ANN). Queries probe
    //      the PERSISTED index — the serving path pays one bounded read
    //      per probe list, never an index rebuild. ----
    QueryDef(
      "ann_ivf_persisted",
      (sp, dir) => {
        import graft.functions.VectorFunctions
        val emb = Tables.embeddings(sp, dir)
        // build (frozen codebook + versioned index + 2 incremental
        // appends) comes from the prebuild lane; the TIMED work is the
        // SERVING path — probe the persisted index, score candidates
        val (path, ids, mat) = prebuildIvfIndex(sp, dir)
        val index = graft.sources.Lake.readVersioned(sp, path)
        val probes = emb.filter(col("vec_id") % 25 === 0)
          .orderBy("vec_id").limit(40)
          .select(col("vec_id").as("query_id"), explode(
            VectorFunctions.quantized_top_dots(col("embedding"), mat, ids, 4,
              1000)).as("cluster_id"))
        val cand = probes.join(index, Seq("cluster_id"))
          .filter(col("vec_id") =!= col("query_id"))
          .select("query_id", "vec_id").distinct()
        val sc = cand
          .join(emb.select(col("vec_id").as("query_id"), col("embedding").as("qe")),
            Seq("query_id"))
          .join(emb.select(col("vec_id"), col("embedding").as("ce")), Seq("vec_id"))
          .select(col("query_id"), col("vec_id"),
            graft.functions.VectorFunctions
              .quantized_dot(col("qe"), col("ce"), scale = 1000).as("dot"))
        val w = Window.partitionBy("query_id").orderBy(col("dot").desc, col("vec_id"))
        sc.withColumn("rn", row_number().over(w).cast("int")).filter(col("rn") <= 5)
          .select("query_id", "vec_id", "rn", "dot")
          .orderBy("query_id", "rn")
      },
      Some(
        """WITH q AS (
          |  SELECT vec_id, i - 1 AS j,
          |         CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000)
          |              AS BIGINT) AS qv
          |  FROM embeddings, unnest(generate_series(1, 64)) AS u(i)),
          |p AS (
          |  SELECT greatest(16, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS nc
          |  FROM embeddings WHERE vec_id % 2 = 0),
          |cents AS (
          |  SELECT vec_id AS cent_id FROM (
          |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
          |    FROM embeddings WHERE vec_id % 7 = 3 AND vec_id % 2 = 0)
          |  WHERE rn <= (SELECT nc FROM p)),
          |cq AS (
          |  SELECT c.cent_id, q.j, q.qv AS cv
          |  FROM cents c JOIN q ON q.vec_id = c.cent_id),
          |dots AS (
          |  SELECT q.vec_id, cq.cent_id, CAST(sum(q.qv * cq.cv) AS BIGINT) AS dot
          |  FROM q JOIN cq ON q.j = cq.j GROUP BY 1, 2),
          |ranked AS (
          |  SELECT vec_id, cent_id,
          |         row_number() OVER (PARTITION BY vec_id
          |                            ORDER BY dot DESC, cent_id) AS crn
          |  FROM dots),
          |assign AS (
          |  SELECT vec_id, cent_id AS cluster_id FROM ranked WHERE crn = 1),
          |qset AS (
          |  SELECT vec_id FROM (
          |    SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn
          |    FROM embeddings WHERE vec_id % 25 = 0)
          |  WHERE rn <= 40),
          |probes AS (
          |  SELECT vec_id AS query_id, cent_id AS cluster_id
          |  FROM ranked WHERE crn <= 4
          |    AND vec_id IN (SELECT vec_id FROM qset)),
          |cand AS (
          |  SELECT DISTINCT p.query_id, a.vec_id
          |  FROM probes p JOIN assign a USING (cluster_id)
          |  WHERE a.vec_id <> p.query_id),
          |sc AS (
          |  SELECT cand.query_id, cand.vec_id, CAST(sum(a.qv * b.qv) AS BIGINT) AS dot
          |  FROM cand
          |  JOIN q a ON a.vec_id = cand.query_id
          |  JOIN q b ON b.vec_id = cand.vec_id AND b.j = a.j
          |  GROUP BY 1, 2)
          |SELECT query_id, vec_id, CAST(rn AS INT) AS rn, dot FROM (
          |  SELECT *, row_number() OVER (PARTITION BY query_id
          |                               ORDER BY dot DESC, vec_id) AS rn
          |  FROM sc)
          |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    ),
    // Same semantics as ann_knn_sample through the bounded-heap aggregate —
    // deliberately shares ann_knn_sample's oracle: two different physical
    // strategies, one verified answer.
    QueryDef(
      "ann_knn_heap",
      (sp, dir) => {
        val emb = Tables.embeddings(sp, dir)
        topKHeap(emb, emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding", 5)
          .select("query_id", "vec_id", "rn", "cos_r")
          .orderBy("query_id", "rn")
      },
      Some(
        s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) qe
           |           FROM embeddings WHERE vec_id % 100 = 0)
           |SELECT query_id, vec_id, rn, cos_r FROM (
           |  SELECT q.query_id, e.vec_id,
           |         row_number() OVER (PARTITION BY q.query_id
           |                            ORDER BY $cosSql DESC, e.vec_id) AS rn,
           |         round($cosSql, 4) + 0.0 AS cos_r
           |  FROM embeddings e, q WHERE e.vec_id <> q.query_id)
           |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    ),
    // Embedding-cosine near-dup pairs — the exact ORACLE TWIN of the
    // LSH/IVF paths above (which are the 100 TB path for this shape).
    // Pairwise cost must not grow with the corpus, so the sample is
    // RANK-capped (vec_id < 500: ids are dense from 0 in every SF), never
    // a modulus — a modulus sample grows linearly and its pair count
    // quadratically (r5 verdict item 2). 500 vectors = 124,750 pairs at
    // every SF, forever.
    QueryDef(
      "embedding_neardup",
      (sp, dir) => {
        val emb = Tables.embeddings(sp, dir)
          .filter(col("vec_id") < 500)
          .select(col("vec_id"), col("embedding"))
        emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"),
            cosine(col("a.embedding"), col("b.embedding")).as("cos"))
          .filter(col("cos") >= 0.3)
          .select(col("a_id"), col("b_id"), roundCanon(col("cos"), 4).as("cos_r"))
          .orderBy("a_id", "b_id")
      },
      Some(
        """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          |       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          |                                    CAST(b.embedding AS DOUBLE[])), 4) + 0.0 AS cos_r
          |FROM embeddings a, embeddings b
          |WHERE a.vec_id < b.vec_id AND a.vec_id < 500 AND b.vec_id < 500
          |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          |                             CAST(b.embedding AS DOUBLE[])) >= 0.3
          |ORDER BY a_id, b_id""".stripMargin),
    ),
    // Full Pearson correlation matrix over the embedding dimensions — the
    // feature-redundancy / whitening-diagnostic pass a representation
    // pipeline runs before PCA or quantizer training. EXACT-ARITHMETIC
    // DOCTRINE (the q_regression_exact / dq_outliers pattern): elements are
    // quantized to integer 1e-4 units, so every sufficient statistic
    // (n, Σx, Σx², Σxy) is an exact, addition-order-independent integer
    // in BOTH engines; Pearson is then ONE double division over identical
    // exact operands — IEEE-correctly-rounded, so bit-equal cross-engine
    // (the previous ml.stat.Correlation float path differed from DuckDB's
    // corr() in summation order and flipped 0.00005 rounding boundaries).
    // SCALE SHAPE: ALL sufficient statistics ride ONE mergeable
    // TypedImperativeAggregate ([[graft.functions.CorrSufficientStats]]):
    // per input vector the update loop does d²/2 multiply-adds into a
    // single long array — no generated pair rows, no per-pair hash-agg
    // probes — and exactly one ~17.7 KB state crosses the wire per
    // partition (the outer-product treeAggregate shape, kept fully inside
    // the declarative plan, no driver collect). The 2016 output cells
    // are then unpacked from the ONE stats row by generator expressions;
    // SimilaritySpec pins the aggregate's sums equal to the declarative
    // posexplode + hash-aggregate formulation.
    QueryDef(
      "emb_corr_matrix",
      (sp, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val dec = (c: Column) => c.cast(DecimalType(38, 0))
        val stats = Tables.embeddings(sp, dir)
          .agg(graft.functions.SketchFunctions
            .corr_stats(col("embedding"), 10000).as("s"))
        val dd = element_at(col("s"), 2).cast("int")
        val cells = stats
          .select(col("s"), posexplode(sequence(lit(1), dd)).as(Seq("p", "i")))
          .select(col("s"), col("i"),
            explode(sequence(col("i") + 1, dd)).as("j"))
          // sequence() DESCENDS when start > stop (d<2 corner): keep only
          // true upper-triangle cells
          .filter(col("i") < col("j") && col("j") <= dd)
        // layout: [n, d, sx(1..d), sxx(1..d), sxy(row-major triangle)]
        val at = (ix: Column) => element_at(col("s"), ix.cast("int"))
        val n = at(lit(1))
        val sxi = at(lit(2) + col("i"))
        val sxj = at(lit(2) + col("j"))
        val sxxi = at(lit(2) + dd + col("i"))
        val sxxj = at(lit(2) + dd + col("j"))
        val tri = ((col("i") - 1) * dd - (col("i") - 1) * col("i") / 2
          + col("j") - col("i"))
        val sxy = at(lit(2) + dd * 2 + tri)
        // exact decimal(38,0) cross-products (far inside decimal38), ONE
        // double division at the end. Row-count bound: the Int64
        // accumulation inside corr_stats holds to ~9e10 rows at scale=1e4
        // and FAILS LOUDLY past it (addExact/multiplyExact — see the
        // CorrSufficientStats overflow contract); beyond that, shard and
        // sum the stats arrays in decimal.
        val num = dec(n) * dec(sxy) - dec(sxi) * dec(sxj)
        val deni = dec(n) * dec(sxxi) - dec(sxi) * dec(sxi)
        val denj = dec(n) * dec(sxxj) - dec(sxj) * dec(sxj)
        // roundCanon, not round: r14 driver red — cells (5,62) and (6,10)
        // at sf0.01 are tiny NEGATIVE correlations that round to +0.0 in
        // Spark (Decimal path) but -0.0 in DuckDB; the driver hash covers
        // the sign bit. Canonicalized on BOTH sides (oracle carries + 0.0).
        cells.select(col("i"), col("j"),
            roundCanon(when(deni === 0 || denj === 0, lit(null))
              .otherwise(num.cast("double") /
                sqrt(deni.cast("double") * denj.cast("double"))), 4).as("corr_r"))
          .orderBy("i", "j")
      },
      Some(
        """WITH x AS (
          |  SELECT vec_id,
          |         CAST(round(unnest(CAST(embedding AS DOUBLE[])) * 10000) AS BIGINT) AS q,
          |         unnest(range(1, len(embedding) + 1)) AS i
          |  FROM embeddings),
          |dim AS (
          |  SELECT i, count(*) AS n, sum(q) AS sx, sum(q * q) AS sxx
          |  FROM x GROUP BY i),
          |pair AS (
          |  SELECT a.i AS i, b.i AS j, sum(a.q * b.q) AS sxy
          |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i < b.i
          |  GROUP BY 1, 2)
          |SELECT p.i AS i, p.j AS j,
          |       round(CASE WHEN (CAST(di.n AS HUGEINT) * di.sxx - di.sx * di.sx) = 0
          |                    OR (CAST(dj.n AS HUGEINT) * dj.sxx - dj.sx * dj.sx) = 0 THEN NULL
          |             ELSE CAST(CAST(di.n AS HUGEINT) * p.sxy - di.sx * dj.sx AS DOUBLE)
          |                  / sqrt(CAST(CAST(di.n AS HUGEINT) * di.sxx - di.sx * di.sx AS DOUBLE)
          |                         * CAST(CAST(dj.n AS HUGEINT) * dj.sxx - dj.sx * dj.sx AS DOUBLE))
          |             END, 4) + 0.0 AS corr_r
          |FROM pair p JOIN dim di ON p.i = di.i JOIN dim dj ON p.j = dj.i
          |ORDER BY 1, 2""".stripMargin),
    ),
    // Embedding-level decontamination: train vectors too close to the
    // held-out benchmark slice (vec_id % 97). The benchmark side is tiny
    // by construction → broadcast; one corpus pass, no self-shuffle — the
    // same plan shape as brute-force topK, which is what keeps it viable
    // when the train side is 100 TB.
    QueryDef(
      "emb_decontam",
      (sp, dir) => {
        val emb = Tables.embeddings(sp, dir).select("vec_id", "embedding")
        val bench = emb.filter(col("vec_id") % 97 === 0)
          .select(col("vec_id").as("b_id"), col("embedding").as("b_emb"))
        emb.filter(col("vec_id") % 97 =!= 0)
          .join(broadcast(bench),
            cosine(col("embedding"), col("b_emb")) >= 0.3)
          .groupBy("vec_id")
          .agg(count(lit(1)).as("n_bench_hits"),
            roundCanon(max(cosine(col("embedding"), col("b_emb"))), 4).as("max_cos"))
          .orderBy("vec_id")
      },
      Some(
        """SELECT a.vec_id, count(*) AS n_bench_hits,
          |       round(max(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          |                                        CAST(b.embedding AS DOUBLE[]))), 4) + 0.0
          |         AS max_cos
          |FROM embeddings a, embeddings b
          |WHERE a.vec_id % 97 <> 0 AND b.vec_id % 97 = 0
          |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          |                             CAST(b.embedding AS DOUBLE[])) >= 0.3
          |GROUP BY a.vec_id ORDER BY a.vec_id""".stripMargin),
    ),
    // IVF-bucketed ANN (coarse quantizer + probe), same sample queries.
    // DRIVER-ORACLED RECALL, same construction as ann_lsh: the Lloyd-
    // refined centroids are engine-defined, but recall vs the exact
    // top-k is an integer the oracle pins. nProbe/nCentroids = 4/16
    // scans ~25% of the corpus; measured recall 60%/64%/60% at
    // sf0.001/0.01/0.1 — pinned at ≥40% (hits ≥ 2 per query of 5).
    QueryDef(
      "ann_ivf",
      (sp, dir) => {
        val emb = Tables.embeddings(sp, dir)
        val queries = emb.filter(col("vec_id") % 100 === 0)
        val approx = ivfTopK(emb, queries, "vec_id", "embedding", 5)
        val exact = topK(emb, queries, "vec_id", "embedding", 5)
        val hits = approx.select("query_id", "vec_id")
          .join(exact.select("query_id", "vec_id"), Seq("query_id", "vec_id"))
          .agg(count(lit(1)).as("n_hits"))
        queries.agg(count(lit(1)).as("n_queries")).crossJoin(hits)
          .select(col("n_queries"),
            (col("n_hits") >= col("n_queries") * 2).cast("int").as("recall_ok"))
          .orderBy("n_queries")
      },
      Some(
        """SELECT CAST(count(*) AS BIGINT) AS n_queries, 1 AS recall_ok
          |FROM embeddings WHERE vec_id % 100 = 0
          |ORDER BY n_queries""".stripMargin),
    ),
    // SemDeDup-style semantic dedup (Abbas et al., arXiv:2303.09540):
    // partition the embedding space into clusters, then look for
    // near-duplicates ONLY within a cluster — the pruning that turns
    // embedding dedup from Θ(N²) cosines into per-cluster work. This
    // variant is fully deterministic so both engines compute the exact
    // same clustering: centroids are the first ceil(sqrt(N)) vectors by
    // id (ids are dense from 0 at every SF; C is SQL-derivable from
    // count(*)), assignment is argmax cosine with ties to the smaller
    // centroid id — the same NearestCentroid tie rule the IVF path uses.
    // Distributed Lloyd's k-means — see [[kmeans]] for the design notes.
    // The oracle replays both iterations at (vec, dim) grain: same
    // integer quantization, same argmin tie-break (ORDER BY d, cid ≡
    // array_position's first-match), same division-free centroid update.
    QueryDef(
      "emb_kmeans",
      (sp, dir) => kmeans(sp, dir),
      Some(
        """WITH e AS (
          |  SELECT vec_id,
          |         list_transform(embedding,
          |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
          |                + 1000) AS q
          |  FROM embeddings),
          |seed AS (
          |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, q AS c
          |  FROM e ORDER BY vec_id LIMIT 8),
          |eg AS (SELECT vec_id, j, q[j] AS qv
          |       FROM e, generate_series(1, 64) t(j)),
          |c0 AS (SELECT cid, j, c[j] AS cv
          |       FROM seed, generate_series(1, 64) t(j)),
          |d1 AS (SELECT eg.vec_id, c0.cid,
          |              sum((qv - cv) * (qv - cv)) AS d
          |       FROM eg JOIN c0 USING (j) GROUP BY 1, 2),
          |a1 AS (SELECT vec_id, cid FROM (
          |         SELECT vec_id, cid, row_number() OVER (
          |           PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d1)
          |       WHERE rn = 1),
          |c1 AS (SELECT cid, j,
          |              (2 * sum(qv) + count(*)) // (2 * count(*)) AS cv
          |       FROM a1 JOIN eg USING (vec_id) GROUP BY 1, 2),
          |d2 AS (SELECT eg.vec_id, c1.cid,
          |              sum((qv - cv) * (qv - cv)) AS d
          |       FROM eg JOIN c1 USING (j) GROUP BY 1, 2),
          |a2 AS (SELECT vec_id, cid, d FROM (
          |         SELECT vec_id, cid, d, row_number() OVER (
          |           PARTITION BY vec_id ORDER BY d, cid) AS rn FROM d2)
          |       WHERE rn = 1),
          |cl1 AS (SELECT cid, CAST(sum(cv) AS BIGINT) AS centroid_l1
          |        FROM c1 GROUP BY 1)
          |SELECT a2.cid AS cluster_id,
          |       count(*) AS n_points,
          |       CAST(sum(a2.d) AS BIGINT) AS inertia,
          |       cl1.centroid_l1
          |FROM a2 JOIN cl1 USING (cid)
          |GROUP BY a2.cid, cl1.centroid_l1
          |ORDER BY cluster_id""".stripMargin),
    ),

    // ---- PRODUCT QUANTIZATION codebooks (see [[pqCodes]]): two-subspace
    //      PQ via the integer-exact Lloyd discipline; the oracle replays
    //      both subspaces' two Lloyd rounds generically (UNION ALL over a
    //      subspace id) and regroups at code-pair grain. A drifted
    //      centroid update, a tie broken the other way, or a slice
    //      off-by-one all break the hash. ----
    QueryDef(
      "emb_pq",
      (sp, dir) => pqCodes(sp, dir),
      Some(
        """WITH e AS (
          |  SELECT vec_id,
          |         list_transform(embedding,
          |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
          |                + 1000) AS q
          |  FROM embeddings),
          |sub AS (
          |  SELECT vec_id, 1 AS m, q[1 : 32] AS q FROM e
          |  UNION ALL
          |  SELECT vec_id, 2 AS m, q[33 : 64] AS q FROM e),
          |seed AS (
          |  SELECT m, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS cid,
          |         q AS c
          |  FROM sub
          |  QUALIFY row_number() OVER (PARTITION BY m ORDER BY vec_id) <= 8),
          |eg AS (SELECT m, vec_id, j, q[j] AS qv
          |       FROM sub, generate_series(1, 32) t(j)),
          |c0 AS (SELECT m, cid, j, c[j] AS cv
          |       FROM seed, generate_series(1, 32) t(j)),
          |d1 AS (SELECT eg.m, eg.vec_id, c0.cid,
          |              sum((qv - cv) * (qv - cv)) AS d
          |       FROM eg JOIN c0 ON c0.m = eg.m AND c0.j = eg.j
          |       GROUP BY 1, 2, 3),
          |a1 AS (SELECT m, vec_id, cid FROM (
          |         SELECT m, vec_id, cid, row_number() OVER (
          |           PARTITION BY m, vec_id ORDER BY d, cid) AS rn FROM d1)
          |       WHERE rn = 1),
          |c1 AS (SELECT a1.m, a1.cid, eg.j,
          |              (2 * sum(qv) + count(*)) // (2 * count(*)) AS cv
          |       FROM a1 JOIN eg ON eg.m = a1.m AND eg.vec_id = a1.vec_id
          |       GROUP BY 1, 2, 3),
          |d2 AS (SELECT eg.m, eg.vec_id, c1.cid,
          |              sum((qv - cv) * (qv - cv)) AS d
          |       FROM eg JOIN c1 ON c1.m = eg.m AND c1.j = eg.j
          |       GROUP BY 1, 2, 3),
          |a2 AS (SELECT m, vec_id, cid, d FROM (
          |         SELECT m, vec_id, cid, d, row_number() OVER (
          |           PARTITION BY m, vec_id ORDER BY d, cid) AS rn FROM d2)
          |       WHERE rn = 1)
          |SELECT x.cid AS code1, y.cid AS code2,
          |       count(*) AS n_vecs,
          |       CAST(sum(x.d + y.d) AS BIGINT) AS sq_err
          |FROM (SELECT * FROM a2 WHERE m = 1) x
          |JOIN (SELECT * FROM a2 WHERE m = 2) y USING (vec_id)
          |GROUP BY 1, 2
          |ORDER BY 1, 2""".stripMargin),
    ),

    // ---- ADC top-k over the PQ codes (see [[pqAdcTopK]]): the search
    //      half of IVF-PQ — per-row cost is a two-element table lookup.
    //      The oracle replays the same codebooks, builds the query's
    //      k-per-subspace distance table, and scores via the codes; all
    //      integer, ties on vec_id. ----
    QueryDef(
      "emb_pq_adc",
      (sp, dir) => pqAdcTopK(sp, dir),
      Some(
        """WITH e AS (
          |  SELECT vec_id,
          |         list_transform(embedding,
          |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
          |                + 1000) AS q
          |  FROM embeddings),
          |sub AS (
          |  SELECT vec_id, 1 AS m, q[1 : 32] AS q FROM e
          |  UNION ALL
          |  SELECT vec_id, 2 AS m, q[33 : 64] AS q FROM e),
          |seed AS (
          |  SELECT m, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS cid,
          |         q AS c
          |  FROM sub
          |  QUALIFY row_number() OVER (PARTITION BY m ORDER BY vec_id) <= 8),
          |eg AS (SELECT m, vec_id, j, q[j] AS qv
          |       FROM sub, generate_series(1, 32) t(j)),
          |c0 AS (SELECT m, cid, j, c[j] AS cv
          |       FROM seed, generate_series(1, 32) t(j)),
          |d1 AS (SELECT eg.m, eg.vec_id, c0.cid,
          |              sum((qv - cv) * (qv - cv)) AS d
          |       FROM eg JOIN c0 ON c0.m = eg.m AND c0.j = eg.j
          |       GROUP BY 1, 2, 3),
          |a1 AS (SELECT m, vec_id, cid FROM (
          |         SELECT m, vec_id, cid, row_number() OVER (
          |           PARTITION BY m, vec_id ORDER BY d, cid) AS rn FROM d1)
          |       WHERE rn = 1),
          |c1 AS (SELECT a1.m, a1.cid, eg.j,
          |              (2 * sum(qv) + count(*)) // (2 * count(*)) AS cv
          |       FROM a1 JOIN eg ON eg.m = a1.m AND eg.vec_id = a1.vec_id
          |       GROUP BY 1, 2, 3),
          |d2 AS (SELECT eg.m, eg.vec_id, c1.cid,
          |              sum((qv - cv) * (qv - cv)) AS d
          |       FROM eg JOIN c1 ON c1.m = eg.m AND c1.j = eg.j
          |       GROUP BY 1, 2, 3),
          |a2 AS (SELECT m, vec_id, cid FROM (
          |         SELECT m, vec_id, cid, row_number() OVER (
          |           PARTITION BY m, vec_id ORDER BY d, cid) AS rn FROM d2)
          |       WHERE rn = 1),
          |qd AS (SELECT c1.m, c1.cid,
          |              sum((qe.qv - c1.cv) * (qe.qv - c1.cv)) AS qdist
          |       FROM (SELECT m, j, qv FROM eg WHERE vec_id = 0) qe
          |       JOIN c1 ON c1.m = qe.m AND c1.j = qe.j
          |       GROUP BY 1, 2),
          |sc AS (SELECT a2.vec_id, CAST(sum(qd.qdist) AS BIGINT) AS adc_dist
          |       FROM a2 JOIN qd ON qd.m = a2.m AND qd.cid = a2.cid
          |       WHERE a2.vec_id <> 0
          |       GROUP BY 1)
          |SELECT rn, vec_id, adc_dist FROM (
          |  SELECT vec_id, adc_dist,
          |         row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
          |  FROM sc)
          |WHERE rn <= 10 ORDER BY rn""".stripMargin),
    ),

    // ---- ADC over the PERSISTED code table (see [[pqPersistedTopK]]):
    //      encode once at index build (3 versioned commits), score
    //      forever from the (vec_id, code1, code2) table — the scan
    //      never touches a vector. The oracle replays the codebooks and
    //      codes inline (the persisted table must hold exactly the codes
    //      the frozen codebooks assign — a drifted append re-encoding
    //      with retrained codebooks, a stale code surviving a commit, or
    //      a lookup off-by-one all break the hash); codes ride in the
    //      output so the INDEX CONTENT is hashed, not just the ranking. ----
    QueryDef(
      "ann_pq_persisted",
      (sp, dir) => pqPersistedTopK(sp, dir),
      Some(
        """WITH e AS (
          |  SELECT vec_id,
          |         list_transform(embedding,
          |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
          |                + 1000) AS q
          |  FROM embeddings),
          |sub AS (
          |  SELECT vec_id, 1 AS m, q[1 : 32] AS q FROM e
          |  UNION ALL
          |  SELECT vec_id, 2 AS m, q[33 : 64] AS q FROM e),
          |seed AS (
          |  SELECT m, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS cid,
          |         q AS c
          |  FROM sub
          |  QUALIFY row_number() OVER (PARTITION BY m ORDER BY vec_id) <= 8),
          |eg AS (SELECT m, vec_id, j, q[j] AS qv
          |       FROM sub, generate_series(1, 32) t(j)),
          |c0 AS (SELECT m, cid, j, c[j] AS cv
          |       FROM seed, generate_series(1, 32) t(j)),
          |d1 AS (SELECT eg.m, eg.vec_id, c0.cid,
          |              sum((qv - cv) * (qv - cv)) AS d
          |       FROM eg JOIN c0 ON c0.m = eg.m AND c0.j = eg.j
          |       GROUP BY 1, 2, 3),
          |a1 AS (SELECT m, vec_id, cid FROM (
          |         SELECT m, vec_id, cid, row_number() OVER (
          |           PARTITION BY m, vec_id ORDER BY d, cid) AS rn FROM d1)
          |       WHERE rn = 1),
          |c1 AS (SELECT a1.m, a1.cid, eg.j,
          |              (2 * sum(qv) + count(*)) // (2 * count(*)) AS cv
          |       FROM a1 JOIN eg ON eg.m = a1.m AND eg.vec_id = a1.vec_id
          |       GROUP BY 1, 2, 3),
          |d2 AS (SELECT eg.m, eg.vec_id, c1.cid,
          |              sum((qv - cv) * (qv - cv)) AS d
          |       FROM eg JOIN c1 ON c1.m = eg.m AND c1.j = eg.j
          |       GROUP BY 1, 2, 3),
          |a2 AS (SELECT m, vec_id, cid FROM (
          |         SELECT m, vec_id, cid, row_number() OVER (
          |           PARTITION BY m, vec_id ORDER BY d, cid) AS rn FROM d2)
          |       WHERE rn = 1),
          |qd AS (SELECT c1.m, c1.cid,
          |              sum((qe.qv - c1.cv) * (qe.qv - c1.cv)) AS qdist
          |       FROM (SELECT m, j, qv FROM eg WHERE vec_id = 0) qe
          |       JOIN c1 ON c1.m = qe.m AND c1.j = qe.j
          |       GROUP BY 1, 2),
          |sc AS (SELECT a2.vec_id,
          |              max(CASE WHEN a2.m = 1 THEN a2.cid END) AS code1,
          |              max(CASE WHEN a2.m = 2 THEN a2.cid END) AS code2,
          |              CAST(sum(qd.qdist) AS BIGINT) AS adc_dist
          |       FROM a2 JOIN qd ON qd.m = a2.m AND qd.cid = a2.cid
          |       WHERE a2.vec_id <> 0
          |       GROUP BY 1)
          |SELECT rn, vec_id, code1, code2, adc_dist FROM (
          |  SELECT vec_id, code1, code2, adc_dist,
          |         row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
          |  FROM sc)
          |WHERE rn <= 10 ORDER BY rn""".stripMargin),
    ),

    // ---- composed IVF-PQ search (see [[ivfPqTopK]]): coarse routing to
    //      nprobe=2 cells, ADC scoring only inside them. The oracle
    //      composes the full-dim kmeans chain (f_*), the query's probe
    //      selection, and the PQ chains (p_*) — a vector scored from an
    //      unprobed cell, a probe tie broken the other way, or a coarse
    //      assignment drifting all break the hash. ----
    QueryDef(
      "ann_ivf_pq",
      (sp, dir) => ivfPqTopK(sp, dir),
      Some(
        """WITH e AS (
          |  SELECT vec_id,
          |         list_transform(embedding,
          |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
          |                + 1000) AS q
          |  FROM embeddings),
          |f_seed AS (
          |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, q AS c
          |  FROM e ORDER BY vec_id LIMIT 8),
          |f_eg AS (SELECT vec_id, j, q[j] AS qv
          |         FROM e, generate_series(1, 64) t(j)),
          |f_c0 AS (SELECT cid, j, c[j] AS cv
          |         FROM f_seed, generate_series(1, 64) t(j)),
          |f_d1 AS (SELECT f_eg.vec_id, f_c0.cid,
          |                sum((qv - cv) * (qv - cv)) AS d
          |         FROM f_eg JOIN f_c0 USING (j) GROUP BY 1, 2),
          |f_a1 AS (SELECT vec_id, cid FROM (
          |           SELECT vec_id, cid, row_number() OVER (
          |             PARTITION BY vec_id ORDER BY d, cid) AS rn FROM f_d1)
          |         WHERE rn = 1),
          |f_c1 AS (SELECT cid, j,
          |                (2 * sum(qv) + count(*)) // (2 * count(*)) AS cv
          |         FROM f_a1 JOIN f_eg USING (vec_id) GROUP BY 1, 2),
          |f_d2 AS (SELECT f_eg.vec_id, f_c1.cid,
          |                sum((qv - cv) * (qv - cv)) AS d
          |         FROM f_eg JOIN f_c1 USING (j) GROUP BY 1, 2),
          |f_a2 AS (SELECT vec_id, cid AS cell FROM (
          |           SELECT vec_id, cid, row_number() OVER (
          |             PARTITION BY vec_id ORDER BY d, cid) AS rn FROM f_d2)
          |         WHERE rn = 1),
          |qc AS (SELECT f_c1.cid, sum((qe.qv - f_c1.cv) * (qe.qv - f_c1.cv)) AS d
          |       FROM (SELECT j, qv FROM f_eg WHERE vec_id = 0) qe
          |       JOIN f_c1 USING (j) GROUP BY 1),
          |probes AS (SELECT cid AS cell FROM (
          |             SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn
          |             FROM qc) WHERE rn <= 2),
          |p_sub AS (
          |  SELECT vec_id, 1 AS m, q[1 : 32] AS q FROM e
          |  UNION ALL
          |  SELECT vec_id, 2 AS m, q[33 : 64] AS q FROM e),
          |p_seed AS (
          |  SELECT m, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS cid,
          |         q AS c
          |  FROM p_sub
          |  QUALIFY row_number() OVER (PARTITION BY m ORDER BY vec_id) <= 8),
          |p_eg AS (SELECT m, vec_id, j, q[j] AS qv
          |         FROM p_sub, generate_series(1, 32) t(j)),
          |p_c0 AS (SELECT m, cid, j, c[j] AS cv
          |         FROM p_seed, generate_series(1, 32) t(j)),
          |p_d1 AS (SELECT p_eg.m, p_eg.vec_id, p_c0.cid,
          |                sum((qv - cv) * (qv - cv)) AS d
          |         FROM p_eg JOIN p_c0 ON p_c0.m = p_eg.m AND p_c0.j = p_eg.j
          |         GROUP BY 1, 2, 3),
          |p_a1 AS (SELECT m, vec_id, cid FROM (
          |           SELECT m, vec_id, cid, row_number() OVER (
          |             PARTITION BY m, vec_id ORDER BY d, cid) AS rn FROM p_d1)
          |         WHERE rn = 1),
          |p_c1 AS (SELECT p_a1.m, p_a1.cid, p_eg.j,
          |                (2 * sum(qv) + count(*)) // (2 * count(*)) AS cv
          |         FROM p_a1 JOIN p_eg ON p_eg.m = p_a1.m
          |                            AND p_eg.vec_id = p_a1.vec_id
          |         GROUP BY 1, 2, 3),
          |p_d2 AS (SELECT p_eg.m, p_eg.vec_id, p_c1.cid,
          |                sum((qv - cv) * (qv - cv)) AS d
          |         FROM p_eg JOIN p_c1 ON p_c1.m = p_eg.m AND p_c1.j = p_eg.j
          |         GROUP BY 1, 2, 3),
          |p_a2 AS (SELECT m, vec_id, cid FROM (
          |           SELECT m, vec_id, cid, row_number() OVER (
          |             PARTITION BY m, vec_id ORDER BY d, cid) AS rn FROM p_d2)
          |         WHERE rn = 1),
          |p_qd AS (SELECT p_c1.m, p_c1.cid,
          |                sum((qe.qv - p_c1.cv) * (qe.qv - p_c1.cv)) AS qdist
          |         FROM (SELECT m, j, qv FROM p_eg WHERE vec_id = 0) qe
          |         JOIN p_c1 ON p_c1.m = qe.m AND p_c1.j = qe.j
          |         GROUP BY 1, 2),
          |sc AS (SELECT a.vec_id, f.cell,
          |              CAST(sum(p_qd.qdist) AS BIGINT) AS adc_dist
          |       FROM p_a2 a
          |       JOIN p_qd ON p_qd.m = a.m AND p_qd.cid = a.cid
          |       JOIN f_a2 f ON f.vec_id = a.vec_id
          |       JOIN probes pr ON pr.cell = f.cell
          |       WHERE a.vec_id <> 0
          |       GROUP BY 1, 2)
          |SELECT rn, vec_id, cell, adc_dist FROM (
          |  SELECT vec_id, cell, adc_dist,
          |         row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
          |  FROM sc)
          |WHERE rn <= 10 ORDER BY rn""".stripMargin),
    ),

    // ---- RESIDUAL IVF-PQ (IVFADC, see [[ivfAdcResidualTopK]]): the
    //      production formulation — PQ codebooks train on and encode the
    //      residual x − c(cell) in non-negative offset space, and the
    //      query's ADC tables are PER PROBED CELL. The oracle composes
    //      the coarse chain (f_*), the offset-residual derivation, the
    //      residual PQ chains (r_*), and the per-cell query tables — a
    //      residual against the wrong cell's centroid, a codebook trained
    //      on raw vectors, or a query table shared across cells all
    //      break the hash. ----
    QueryDef(
      "ann_ivfadc",
      (sp, dir) => ivfAdcResidualTopK(sp, dir),
      Some(
        """WITH e AS (
          |  SELECT vec_id,
          |         list_transform(embedding,
          |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
          |                + 1000) AS q
          |  FROM embeddings),
          |f_seed AS (
          |  SELECT row_number() OVER (ORDER BY vec_id) AS cid, q AS c
          |  FROM e ORDER BY vec_id LIMIT 8),
          |f_eg AS (SELECT vec_id, j, q[j] AS qv
          |         FROM e, generate_series(1, 64) t(j)),
          |f_c0 AS (SELECT cid, j, c[j] AS cv
          |         FROM f_seed, generate_series(1, 64) t(j)),
          |f_d1 AS (SELECT f_eg.vec_id, f_c0.cid,
          |                sum((qv - cv) * (qv - cv)) AS d
          |         FROM f_eg JOIN f_c0 USING (j) GROUP BY 1, 2),
          |f_a1 AS (SELECT vec_id, cid FROM (
          |           SELECT vec_id, cid, row_number() OVER (
          |             PARTITION BY vec_id ORDER BY d, cid) AS rn FROM f_d1)
          |         WHERE rn = 1),
          |f_c1 AS (SELECT cid, j,
          |                (2 * sum(qv) + count(*)) // (2 * count(*)) AS cv
          |         FROM f_a1 JOIN f_eg USING (vec_id) GROUP BY 1, 2),
          |f_d2 AS (SELECT f_eg.vec_id, f_c1.cid,
          |                sum((qv - cv) * (qv - cv)) AS d
          |         FROM f_eg JOIN f_c1 USING (j) GROUP BY 1, 2),
          |f_a2 AS (SELECT vec_id, cid AS cell FROM (
          |           SELECT vec_id, cid, row_number() OVER (
          |             PARTITION BY vec_id ORDER BY d, cid) AS rn FROM f_d2)
          |         WHERE rn = 1),
          |qc AS (SELECT f_c1.cid, sum((qe.qv - f_c1.cv) * (qe.qv - f_c1.cv)) AS d
          |       FROM (SELECT j, qv FROM f_eg WHERE vec_id = 0) qe
          |       JOIN f_c1 USING (j) GROUP BY 1),
          |probes AS (SELECT cid AS cell FROM (
          |             SELECT cid, row_number() OVER (ORDER BY d, cid) AS rn
          |             FROM qc) WHERE rn <= 2),
          |res AS (SELECT f_eg.vec_id, f_eg.j, f_eg.qv - f_c1.cv + 2000 AS rv
          |        FROM f_eg
          |        JOIN f_a2 ON f_a2.vec_id = f_eg.vec_id
          |        JOIN f_c1 ON f_c1.cid = f_a2.cell AND f_c1.j = f_eg.j),
          |r_sub AS (
          |  SELECT vec_id, 1 AS m, j, rv FROM res WHERE j <= 32
          |  UNION ALL
          |  SELECT vec_id, 2 AS m, j - 32 AS j, rv FROM res WHERE j > 32),
          |r_seedv AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS cid
          |            FROM e ORDER BY vec_id LIMIT 8),
          |r_c0 AS (SELECT s.cid, r.m, r.j, r.rv AS cv
          |         FROM r_seedv s JOIN r_sub r ON r.vec_id = s.vec_id),
          |r_d1 AS (SELECT r.m, r.vec_id, c.cid,
          |                sum((r.rv - c.cv) * (r.rv - c.cv)) AS d
          |         FROM r_sub r JOIN r_c0 c ON c.m = r.m AND c.j = r.j
          |         GROUP BY 1, 2, 3),
          |r_a1 AS (SELECT m, vec_id, cid FROM (
          |           SELECT m, vec_id, cid, row_number() OVER (
          |             PARTITION BY m, vec_id ORDER BY d, cid) AS rn FROM r_d1)
          |         WHERE rn = 1),
          |r_c1 AS (SELECT a.m, a.cid, r.j,
          |                (2 * sum(r.rv) + count(*)) // (2 * count(*)) AS cv
          |         FROM r_a1 a JOIN r_sub r ON r.m = a.m
          |                                 AND r.vec_id = a.vec_id
          |         GROUP BY 1, 2, 3),
          |r_d2 AS (SELECT r.m, r.vec_id, c.cid,
          |                sum((r.rv - c.cv) * (r.rv - c.cv)) AS d
          |         FROM r_sub r JOIN r_c1 c ON c.m = r.m AND c.j = r.j
          |         GROUP BY 1, 2, 3),
          |r_a2 AS (SELECT m, vec_id, cid FROM (
          |           SELECT m, vec_id, cid, row_number() OVER (
          |             PARTITION BY m, vec_id ORDER BY d, cid) AS rn FROM r_d2)
          |         WHERE rn = 1),
          |q_res AS (SELECT pr.cell, qe.j, qe.qv - f_c1.cv + 2000 AS rv
          |          FROM probes pr
          |          CROSS JOIN (SELECT j, qv FROM f_eg WHERE vec_id = 0) qe
          |          JOIN f_c1 ON f_c1.cid = pr.cell AND f_c1.j = qe.j),
          |q_sub AS (
          |  SELECT cell, 1 AS m, j, rv FROM q_res WHERE j <= 32
          |  UNION ALL
          |  SELECT cell, 2 AS m, j - 32 AS j, rv FROM q_res WHERE j > 32),
          |dt AS (SELECT q.cell, c.m, c.cid,
          |              sum((q.rv - c.cv) * (q.rv - c.cv)) AS qdist
          |       FROM q_sub q JOIN r_c1 c ON c.m = q.m AND c.j = q.j
          |       GROUP BY 1, 2, 3),
          |sc AS (SELECT a.vec_id, f.cell,
          |              CAST(sum(dt.qdist) AS BIGINT) AS adc_dist
          |       FROM r_a2 a
          |       JOIN f_a2 f ON f.vec_id = a.vec_id
          |       JOIN probes pr ON pr.cell = f.cell
          |       JOIN dt ON dt.cell = f.cell AND dt.m = a.m AND dt.cid = a.cid
          |       WHERE a.vec_id <> 0
          |       GROUP BY 1, 2)
          |SELECT rn, vec_id, cell, adc_dist FROM (
          |  SELECT vec_id, cell, adc_dist,
          |         row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
          |  FROM sc)
          |WHERE rn <= 10 ORDER BY rn""".stripMargin),
    ),

    // ---- IVFADC over the PERSISTED index (see [[ivfAdcPersistedTopK]]):
    //      the full deployable composition — coarse cells AND residual
    //      codes encoded once into a versioned (vec_id, cell, code1,
    //      code2) table (3 commits, frozen models), search scans codes
    //      only with the cell probe pushed into the parquet reader. The
    //      oracle is ann_ivfadc's replay with the codes riding in the
    //      output: the persisted index must hold exactly the cells and
    //      codes the frozen models assign — a drifted append re-encoding
    //      with retrained models, a stale row, or an unpushed probe
    //      scoring an unprobed cell all break the hash. ----
    QueryDef(
      "ann_ivfadc_persisted",
      (sp, dir) => ivfAdcPersistedTopK(sp, dir),
      Some(ivfAdcPersistedOracle)),

    // ---- IVFADC over the CELL-CLUSTERED index (see
    //      [[ivfAdcPartitionedTopK]]): same frozen models, same codes,
    //      same scoring -- the difference is PHYSICAL. The code table is
    //      range-clustered by (cell, vec_id) with a per-file min/max
    //      stats manifest, so the nprobe probe prunes FILES (the in-row
    //      require proves kept < total; PlanSpec pins the ratio) instead
    //      of opening every footer and relying on pushed row-group
    //      filters. Identical output => identical oracle. ----
    QueryDef(
      "ann_ivfadc_partitioned",
      (sp, dir) => ivfAdcPartitionedTopK(sp, dir),
      Some(ivfAdcPersistedOracle)),

    // ---- IVFADC nprobe quality surface (see [[ivfAdcRecallAudit]]):
    //      recall@10 vs exact integer-L2 ground truth at nprobe 1/2/4 —
    //      the probe-budget sizing audit, one row of exact integers.
    //      Oracle derived from the persisted oracle by surgery (same
    //      chains, probe rank carried through the scoring). ----
    QueryDef(
      "ann_ivfadc_recall",
      (sp, dir) => ivfAdcRecallAudit(sp, dir),
      Some(ivfAdcRecallOracle)),

    // ---- binary quantization + exact rerank (see [[annBinaryRerank]]):
    //      sign bits packed as two 32-bit halves (identical packing both
    //      engines), corpus-wide Hamming prefilter, shortlist-bounded
    //      integer-L2 rerank. Hamming and l2 both ride the output — a
    //      flipped sign bit, a shortlist cut drifting one row, or a
    //      rerank reusing the hamming order all break the hash. ----
    QueryDef(
      "ann_binary_rerank",
      (sp, dir) => annBinaryRerank(sp, dir),
      Some(
        """WITH e AS (
          |  SELECT vec_id,
          |         list_transform(embedding,
          |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
          |                + 1000) AS q
          |  FROM embeddings),
          |eg AS (SELECT vec_id, j, q[j] AS qv
          |       FROM e, generate_series(1, 64) t(j)),
          |sig AS (
          |  SELECT vec_id,
          |         bit_or(CASE WHEN j <= 32 AND qv >= 1000
          |                     THEN (1::BIGINT << (j - 1))
          |                     ELSE 0::BIGINT END) AS s1,
          |         bit_or(CASE WHEN j > 32 AND qv >= 1000
          |                     THEN (1::BIGINT << (j - 33))
          |                     ELSE 0::BIGINT END) AS s2
          |  FROM eg GROUP BY 1),
          |qsig AS (SELECT s1, s2 FROM sig WHERE vec_id = 0),
          |ham AS (SELECT s.vec_id,
          |               CAST(bit_count(xor(s.s1, qsig.s1)) +
          |                    bit_count(xor(s.s2, qsig.s2)) AS BIGINT)
          |                 AS hamming
          |        FROM sig s, qsig WHERE s.vec_id <> 0),
          |short AS (SELECT vec_id, hamming FROM (
          |            SELECT vec_id, hamming,
          |                   row_number() OVER (ORDER BY hamming, vec_id) AS rn
          |            FROM ham) WHERE rn <= 50),
          |l2 AS (SELECT eg.vec_id,
          |              CAST(sum((eg.qv - qe.qv) * (eg.qv - qe.qv)) AS BIGINT)
          |                AS l2_dist
          |       FROM eg
          |       JOIN (SELECT j, qv FROM eg WHERE vec_id = 0) qe USING (j)
          |       JOIN short s ON s.vec_id = eg.vec_id
          |       GROUP BY 1)
          |SELECT rn, vec_id, hamming, l2_dist FROM (
          |  SELECT s.vec_id, s.hamming, l2.l2_dist,
          |         row_number() OVER (ORDER BY l2.l2_dist, s.vec_id) AS rn
          |  FROM short s JOIN l2 ON l2.vec_id = s.vec_id)
          |WHERE rn <= 10 ORDER BY rn""".stripMargin),
    ),

    // ---- recall audit of the binary prefilter (see [[annRecallAudit]]):
    //      exact-L2 ground truth vs the Hamming shortlist and the final
    //      rerank, one row of exact integers. The oracle recomputes
    //      ground truth, shortlist, and final set independently — an
    //      audit that flattered the prefilter (or a prefilter that
    //      silently lost a true neighbor the audit missed) breaks it. ----
    QueryDef(
      "ann_recall_audit",
      (sp, dir) => annRecallAudit(sp, dir),
      Some(
        """WITH e AS (
          |  SELECT vec_id,
          |         list_transform(embedding,
          |           x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
          |                + 1000) AS q
          |  FROM embeddings),
          |eg AS (SELECT vec_id, j, q[j] AS qv
          |       FROM e, generate_series(1, 64) t(j)),
          |sig AS (
          |  SELECT vec_id,
          |         bit_or(CASE WHEN j <= 32 AND qv >= 1000
          |                     THEN (1::BIGINT << (j - 1))
          |                     ELSE 0::BIGINT END) AS s1,
          |         bit_or(CASE WHEN j > 32 AND qv >= 1000
          |                     THEN (1::BIGINT << (j - 33))
          |                     ELSE 0::BIGINT END) AS s2
          |  FROM eg GROUP BY 1),
          |qsig AS (SELECT s1, s2 FROM sig WHERE vec_id = 0),
          |ham AS (SELECT s.vec_id,
          |               bit_count(xor(s.s1, qsig.s1)) +
          |               bit_count(xor(s.s2, qsig.s2)) AS hamming
          |        FROM sig s, qsig WHERE s.vec_id <> 0),
          |short AS (SELECT vec_id FROM (
          |            SELECT vec_id,
          |                   row_number() OVER (ORDER BY hamming, vec_id) AS rn
          |            FROM ham) WHERE rn <= 50),
          |l2all AS (SELECT eg.vec_id,
          |                 CAST(sum((eg.qv - qe.qv) * (eg.qv - qe.qv)) AS BIGINT)
          |                   AS d
          |          FROM eg
          |          JOIN (SELECT j, qv FROM eg WHERE vec_id = 0) qe USING (j)
          |          WHERE eg.vec_id <> 0
          |          GROUP BY 1),
          |exact AS (SELECT vec_id FROM (
          |            SELECT vec_id, row_number() OVER (ORDER BY d, vec_id) AS rn
          |            FROM l2all) WHERE rn <= 10),
          |fin AS (SELECT vec_id FROM (
          |          SELECT s.vec_id,
          |                 row_number() OVER (ORDER BY l.d, s.vec_id) AS rn
          |          FROM short s JOIN l2all l ON l.vec_id = s.vec_id)
          |        WHERE rn <= 10)
          |SELECT CAST(count(*) AS BIGINT) AS n_exact,
          |       CAST(sum(CASE WHEN s.vec_id IS NOT NULL THEN 1 ELSE 0 END)
          |            AS BIGINT) AS shortlist_hits,
          |       CAST(sum(CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END)
          |            AS BIGINT) AS final_hits
          |FROM exact x
          |LEFT JOIN short s ON s.vec_id = x.vec_id
          |LEFT JOIN fin f ON f.vec_id = x.vec_id""".stripMargin),
    ),

    QueryDef(
      "emb_semdedup",
      (sp, dir) => semDedup(Tables.embeddings(sp, dir)),
      Some(
        """WITH nn AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS c
          |            FROM embeddings),
          |cent AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS ce
          |         FROM embeddings, nn WHERE vec_id < nn.c),
          |asgn AS (SELECT vec_id, cid AS cluster_id FROM (
          |  SELECT e.vec_id, c.cid,
          |         row_number() OVER (PARTITION BY e.vec_id
          |           ORDER BY list_cosine_similarity(
          |                      CAST(e.embedding AS DOUBLE[]), c.ce) DESC,
          |                    c.cid) AS rn
          |  FROM embeddings e, cent c) WHERE rn = 1),
          |dup AS (SELECT DISTINCT y.vec_id
          |        FROM asgn x
          |        JOIN asgn y ON x.cluster_id = y.cluster_id
          |                   AND x.vec_id < y.vec_id
          |        JOIN embeddings a ON a.vec_id = x.vec_id
          |        JOIN embeddings b ON b.vec_id = y.vec_id
          |        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
          |                                     CAST(b.embedding AS DOUBLE[]))
          |              >= 0.3)
          |SELECT asgn.cluster_id, count(*) AS n_vecs,
          |       CAST(count(dup.vec_id) AS BIGINT) AS n_dups
          |FROM asgn LEFT JOIN dup ON asgn.vec_id = dup.vec_id
          |GROUP BY 1 ORDER BY 1""".stripMargin),
    ),

    // ---- MATRYOSHKA (truncated-prefix) two-stage retrieval: stage 1
    //      scores the corpus on the FIRST 16 of 64 dims (MRL embeddings
    //      front-load information, so the prefix is a valid coarse
    //      ranker at a quarter of the flops/bytes — at 100 TB the prefix
    //      lives as its own compact column and the full vectors are only
    //      fetched for candidates), keeps top-50 via TakeOrdered (no
    //      global sort); stage 2 reranks ONLY those 50 at full dimension
    //      and emits top-10. Cut determinism: both engines compute the
    //      same left-to-right double sums and break ties by vec_id, the
    //      ann_topk discipline; outputs round(4)+canon. A wrong slice,
    //      a candidate-set drift, or a rerank that re-used the truncated
    //      score all break the hash. ----
    QueryDef(
      "emb_matryoshka",
      (sp, dir) => {
        val emb = Tables.embeddings(sp, dir)
        val qv = emb.filter(col("vec_id") === 0)
        val cand = emb.filter(col("vec_id") =!= 0)
          .select(col("vec_id"), slice(col("embedding"), 1, 16).as("v"))
          .crossJoin(broadcast(qv.select(
            slice(col("embedding"), 1, 16).as("qv"))))
          .select(col("vec_id"), cosine(col("v"), col("qv")).as("cos_tr"))
          .orderBy(col("cos_tr").desc, col("vec_id")).limit(50)
        val rr = emb.join(broadcast(cand.select("vec_id")), "vec_id")
          .crossJoin(broadcast(qv.select(col("embedding").as("qe"))))
          .select(col("vec_id"), cosine(col("embedding"), col("qe")).as("cos"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("cos").desc, col("vec_id"))
        rr.withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
          .select(col("rn"), col("vec_id"), roundCanon(col("cos"), 4).as("cos_r"))
          .orderBy("rn")
      },
      Some(
        """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
          |           FROM embeddings WHERE vec_id = 0),
          |cand AS (
          |  SELECT e.vec_id,
          |         row_number() OVER (ORDER BY
          |           list_sum(list_transform(
          |             list_zip((CAST(e.embedding AS DOUBLE[]))[1:16], q.qe[1:16]),
          |             z -> z[1] * z[2]))
          |           / (sqrt(list_sum(list_transform(
          |                (CAST(e.embedding AS DOUBLE[]))[1:16], x -> x * x)))
          |              * sqrt(list_sum(list_transform(q.qe[1:16], x -> x * x))))
          |           DESC, e.vec_id) AS rn
          |  FROM embeddings e, q WHERE e.vec_id <> 0),
          |c50 AS (SELECT vec_id FROM cand WHERE rn <= 50),
          |rr AS (
          |  SELECT e.vec_id,
          |         list_sum(list_transform(
          |           list_zip(CAST(e.embedding AS DOUBLE[]), q.qe),
          |           z -> z[1] * z[2]))
          |         / (sqrt(list_sum(list_transform(
          |              CAST(e.embedding AS DOUBLE[]), x -> x * x)))
          |            * sqrt(list_sum(list_transform(q.qe, x -> x * x)))) AS cos
          |  FROM embeddings e JOIN c50 USING (vec_id), q)
          |SELECT CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS BIGINT)
          |         AS rn,
          |       vec_id, round(cos, 4) + 0.0 AS cos_r
          |FROM rr
          |QUALIFY rn <= 10
          |ORDER BY rn""".stripMargin),
    ),
  )
}
