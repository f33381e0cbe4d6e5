package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Physical-layout writers for the lake: these choices, not query code,
  * decide whether a 100 TB table is scannable. The reference's lake is
  * managed tables behind dbt materializations (SURVEY §2.1 A4-A6); here
  * the same surfaces are explicit so layout is a first-class, testable
  * decision.
  *
  * - Hive-style partition columns → partition PRUNING: a filter on the
  *   partition column skips whole directories at planning time, before
  *   any I/O. Choose low-cardinality, always-filtered columns (event
  *   date, event type), never high-cardinality keys (one dir per user
  *   would melt the namenode/listing).
  * - Bucketing → shuffle-FREE joins/aggregations: two tables bucketed on
  *   the same key into the same bucket count co-locate their keys at
  *   write time, so join/groupBy on that key needs no Exchange at read
  *   time. This is THE lever for a fact-fact join that would otherwise
  *   shuffle 100 TB every run: pay the shuffle once at ingest.
  */
object Lake {

  /** Target rows per data file for SIZE-ADAPTIVE commit writes (guide §6:
    * files in the 128 MB – 1 GB band; at the lake's ~30–100 B rows, 4 Mi
    * rows ≈ 128–400 MB). A rewrite commit whose expected output is far
    * below this coalesces to ceil(rows / target) files instead of
    * inheriting one file per upstream task — the per-file open + footer +
    * manifest-entry cost is what melts small-commit paths (a streaming MV
    * fold otherwise publishes ~10 KB-sized files per micro-batch, and
    * every later scan pays per-file overhead). The SAME rule derives many
    * files for a big rewrite, so it is scale-adaptive, not a local-mode
    * constant. Tables carrying a `_graft_stats` manifest are exempt —
    * their file boundaries encode clustering (z-order, range cells) that a
    * coalesce would smear.
    */
  private val targetCommitFileRows: Long = 4L * 1024 * 1024

  /** ceil(estRows / target) as a coalesce width — never below 1. Callers
    * apply it only when the estimate is sound and the layout is free-form
    * (no stats manifest).
    */
  private def commitFileParts(estRows: Long): Int =
    math.max(1L, (estRows + targetCommitFileRows - 1) / targetCommitFileRows)
      .min(Int.MaxValue.toLong).toInt

  def writePartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    readParquet(spark, path)

  /** Bucketed managed table (bucketBy requires saveAsTable). `sortBy` the
    * same key so merge-style reads stream in key order.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)

  /** Interchange formats: same DataFrame surface, different cost profile —
    * columnar+stats (parquet/orc) for the lake, line formats (csv/json)
    * for ingest/egress edges only.
    */
  def write(df: DataFrame, path: String, format: String): Unit =
    df.write.mode(SaveMode.Overwrite).format(format)
      .option("header", "true").save(path)

  def read(spark: SparkSession, path: String, format: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read.format(format).option("header", "true")
    schema.fold(r.option("inferSchema", "true"))(r.schema).load(path)
  }

  /** RAW MEDIA ingestion — Spark's bundled `binaryFile` source: one row
    * per file with (path, modificationTime, length, content). This is the
    * edge where image/audio/video corpora ENTER the lake; downstream
    * everything flows as binary columns + typed metadata
    * ([[graft.ext.Multimodal]]). Two scale levers matter at the edge:
    * `pathGlobFilter` prunes non-media files at LISTING time (before any
    * read), and `maxBytesPerFile` is deliberately not exposed — media
    * files are atomic, a partial JPEG is garbage. Blob-dominated rows
    * mean the FIRST thing after ingestion should be writing
    * length/type metadata columns so later planning never touches
    * `content` (mediaSchema's n_bytes pattern).
    */
  def readBinaryFiles(spark: SparkSession, path: String,
      glob: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    glob.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** Versioned table writes with time-travel reads — the commit half of
    * the Delta behaviors this lake reproduces (compaction and data
    * skipping being the others).
    *
    * A VERSION IS A MANIFEST OF FILE REFERENCES: `_graft_versions/v=N.json`
    * records the version's schema plus `{path, n_rows}` file references —
    * exactly the Delta/Iceberg log shape, including the log-vs-checkpoint
    * split: a snapshot publish writes a FULL manifest, while the
    * file-granular commits ([[appendVersioned]], [[deleteWhere]],
    * [[optimizeVersioned]]) write DELTA manifests recording only the
    * added/removed references against a base version, so commit metadata
    * is O(changed files) — an append to an 800k-file table writes a few
    * KB, never an ~80 MB file-list rewrite. Chains self-checkpoint at a
    * bounded depth, and [[vacuum]] materializes any retained manifest
    * whose chain passes through a dropped version, so resolution is
    * always a bounded number of metadata-sized reads and never dangles.
    * Files UNCHANGED between versions are carried BY REFERENCE (the same
    * physical file appears in many resolved manifests), which is what
    * makes the file-granular operations scale: an append links every
    * prior file and writes O(batch); a delete rewrites ONLY the files
    * containing matching rows and links the rest, so a handful-of-rows
    * takedown on a 100 TB table costs a few file rewrites + a few KB of
    * metadata, not a corpus copy. Per-file `n_rows` rides in the manifest
    * (read from parquet FOOTERS at commit time — metadata I/O), so
    * version row counts and delete audits resolve without scanning data.
    *
    * Publish protocol, in load-bearing order: data files first (orphans a
    * crash leaves behind are invisible — no manifest references them),
    * then the version manifest (tmp-write + rename with a
    * rename-to-existing guard against concurrent publishers), then the
    * `_graft_latest` pointer via FileContext.rename(OVERWRITE) — one
    * atomic swap, so a reader sees the previous complete version or the
    * new complete version, never a partial write. Old versions stay
    * readable (`readVersioned(path, Some(n))`) until [[vacuum]] reclaims
    * the files no retained version references — the retention contract
    * that makes concurrent long scans safe at 100 TB: a reader planned
    * against v(n) keeps a valid file list while writers publish v(n+1).
    *
    * The manifests are the only record of what a version holds: a `v=N`
    * data dir no manifest references is a crashed commit's leavings, not
    * a version. Read a versioned table through [[readVersioned]] (or
    * [[readSkipping]]/[[readLookup]], which resolve the manifest) — a
    * plain recursive parquet read would see retired files.
    *
    * `writeVersioned` publishes `df` as a full new snapshot (its contract
    * is "this frame IS the new table"); the file-granular commits are
    * [[appendVersioned]] (insert), [[deleteWhere]] (delete),
    * [[mergeInto]] (upsert) and [[optimizeVersioned]] (maintenance).
    */
  def writeVersioned(spark: SparkSession, df: DataFrame, path: String,
      streamBatchId: Option[Long] = None): Long = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(hp)
    // a full-snapshot overwrite of a column-mapped table would publish a
    // manifest WITHOUT the colmap, silently discarding the rename for a
    // caller still holding stale/physical names — refuse like every other
    // physical-schema op; materializeMapping first makes the logical names
    // physical, after which a snapshot is unambiguous again
    val m0 = headManifest(spark, fs, path)
    require(m0.forall(_.schemaLog.isEmpty),
      s"$path is a schema-evolving table; append via writeEvolving (delete " +
        "via deleteWhere) - writeVersioned would bypass the schema log")
    refuseColMap(m0.fold(Seq.empty[(String, String)])(_.colmap), path,
      "writeVersioned")
    // the head's properties gate the batch; when a gate will read the
    // batch before the write does, persist it so the caller's (possibly
    // expensive) plan runs once
    val gate = m0.fold(TableProps())(_.props)
    val dfIn = if (gate.gates) df.persist() else df
    try {
      val batch = applyGeneratedTo(spark, path, m0, dfIn, "writeVersioned")
      if (gate.checks.nonEmpty)
        enforceConstraintsOn(spark, batch, gate.checks, s"writeVersioned($path)")
      val (dataDir, entries) = writeClaimedDir(spark, fs, path, batch)
      // an overwrite keeps the table's properties (Delta's rule): it
      // replaces whatever head it lands on, carrying that head's
      // properties; a table's first version is its claimed dir's number
      val ddl = batch.schema.toDDL
      commit(spark, fs, path, m0.getOrElse(VersionManifest(dataDir - 1, ddl, Nil)),
        "snapshot", streamBatchId = streamBatchId,
        replace = Some(VersionManifest(0L, ddl, entries))).version
    } finally { if (gate.gates) dfIn.unpersist(); () }
  }

  /** O(batch) versioned APPEND: write only `df`'s files, publish a manifest
    * referencing every prior file + the new ones. The commit cost is the
    * batch plus a few KB of metadata — flat in table size, which is the
    * property that lets a daily intake commit to a 100 TB table without
    * touching it. Schema must match the table exactly (appends are not
    * schema evolution — that is [[writeEvolving]]).
    *
    * CONCURRENT appends REBASE instead of failing: an append reads
    * nothing of the table, so the loser of the manifest-publish race
    * republishes its delta over the winners ([[commit]]) — the data
    * files, already on disk, are never rewritten; a winner that changed
    * the schema refuses it. This is Delta's optimistic-concurrency
    * behavior for AddFile-only commits. The linearization point is the
    * manifest rename: sibling commits against one base are impossible —
    * the second writer always observes the first's manifest and chains
    * behind it.
    */
  def appendVersioned(spark: SparkSession, df: DataFrame, path: String,
      streamBatchId: Option[Long] = None): Long = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // continuous-streaming idempotence gate: a micro-batch REPLAY (crash
    // after a data write, before the checkpoint commit) finds its batch
    // id already in a manifest and no-ops BEFORE writing a byte; the
    // crashed attempt's files sit in an unpublished claimed dir that no
    // reader ever sees and vacuum's grace window reclaims
    streamBatchId.foreach { bid =>
      if (streamBatchCommitted(spark, path, bid)) return headVersion(fs, path)
    }
    // the manifests are the only versions. An unversioned dir holding data
    // files is a plain table: its files become version 1, the adopt rule
    // deleteWhere, mergeInto and stageAppend follow, and the batch appends
    // to them. An empty dir, or one holding only a crashed commit's
    // claimed dir, starts at this batch.
    if (manifestVersions(fs, path).isEmpty) {
      if (!holdsTableData(fs, hp))
        return writeVersioned(spark, df, path, streamBatchId)
      bootstrapRootVersion(spark, fs, path)
    }
    val (_, m0) = resolveHead(spark, fs, path)
    // the head's CHECK constraints and GENERATED specs gate the batch;
    // when a gate will read the batch, it is persisted around gate +
    // write so the caller's (possibly expensive) plan runs once, not twice
    val dfIn = if (m0.props.gates) df.persist() else df
    try appendAt(spark, fs, path, dfIn, m0, streamBatchId)
    finally { if (m0.props.gates) dfIn.unpersist(); () }
  }

  /** [[appendVersioned]] of `df` over head `m0`. */
  private def appendAt(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, df: DataFrame,
      m0: VersionManifest, streamBatchId: Option[Long]): Long = {
    val gate = m0.props
    // GENERATED columns first: compute the ones the batch omits, validate
    // the ones it carries — before any schema logic, so an omitted
    // generated column never masquerades as schema drift
    val dfG = applyGeneratedTo(spark, path, Some(m0), df, "appendVersioned")
    // COLUMN-MAPPED table: the batch arrives in LOGICAL names and is
    // translated ONCE to the frozen physical names, before any schema
    // logic — the drift checks below then compare physical-vs-physical,
    // and the published delta INHERITS the base's colmap (manifest
    // resolution rule), so a concurrent rename rebases cleanly.
    val dfP =
      if (m0.colmap.isEmpty) dfG
      else {
        val logical = m0.colmap.map(_._1)
        require(dfG.schema.fields.map(_.name).toSeq == logical,
          s"appendVersioned($path): column-mapped table expects logical " +
            s"columns (${logical.mkString(", ")}); frame has " +
            s"(${dfG.schema.fieldNames.mkString(", ")})")
        dfG.select(m0.colmap.map { case (l, p) =>
          org.apache.spark.sql.functions.col(l).as(p) }: _*)
      }
    // SCHEMA EVOLUTION IS NOT A REFUSAL: a 24/7 stream appending through
    // this path must survive upstream column drift. A DRIFTED batch
    // publishes the schema log's next entry WITH its files in one
    // evolve-append commit (the same validation as writeEvolving: additive
    // or widening only, stamped with this batch id). A batch matching the
    // current schema is a plain delta append (no log entry — per-batch log
    // growth would pile thousands of identical versions)
    if (fieldsOf(dfP.schema) != fieldsOf(m0.schemaDdl))
      return evolve(spark, fs, path, df, Some(m0), Map.empty, streamBatchId,
        logOf(m0))._2.version
    // constraints gate BEFORE any write: a violating batch refuses with
    // nothing on disk, not even an unpublished claimed dir
    if (gate.checks.nonEmpty)
      enforceConstraintsOn(spark, dfP, gate.checks, s"appendVersioned($path)")
    // the batch is written ONCE into a uniquely-claimed dir (see
    // writeClaimedDir for the claim protocol and why the dir number is a
    // namespace, not the commit number), then published over m0
    val pub = commit(spark, fs, path, m0, "append",
      add = writeClaimedDir(spark, fs, path, dfP)._2,
      streamBatchId = streamBatchId)
    // table-level auto-compaction (see setAutoOptimize), under the policy
    // of the version this commit published: runs AFTER this commit
    // published, in its own maintenance commit — the append's version
    // contract is unchanged
    maybeAutoOptimize(spark, fs, path, pub)
    pub.version
  }

  def listVersions(spark: SparkSession, path: String): Seq[Long] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    manifestVersions(fs, path)
  }

  def readVersioned(spark: SparkSession, path: String,
      version: Option[Long] = None): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    readManifestFiles(spark, fs, path, manifestAt(spark, fs, path, version))
  }

  /** TIMESTAMP time travel — `readVersioned` resolved by commit time: the
    * NEWEST version whose commit timestamp is ≤ `asOfMillis` (the Delta
    * `TIMESTAMP AS OF` contract). Version manifests are stamped at
    * publish, vacuum's checkpoint materialization preserves the original
    * stamp, and resolution is a metadata-only walk over the manifest
    * headers — no data I/O until the returned frame is acted on.
    *
    * Versions written before timestamps existed sort BEFORE every stamped
    * one (they are genuinely older — stamping began when this table's
    * first stamped commit landed), so mixed-era tables resolve sanely.
    * An `asOfMillis` before the first commit is refused loudly: there was
    * no table then, and silently returning the oldest version would
    * invent history.
    */
  def readVersionedAsOf(spark: SparkSession, path: String,
      asOfMillis: Long): DataFrame =
    readVersioned(spark, path, Some(versionAsOf(spark, path, asOfMillis)))

  /** The version number `asOfMillis` resolves to (see
    * [[readVersionedAsOf]]); public so callers can log/audit which
    * version a timestamp query actually read.
    */
  def versionAsOf(spark: SparkSession, path: String,
      asOfMillis: Long): Long = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(versionsDir(path)),
      s"$path has no _graft_versions manifests - timestamp travel needs " +
        "manifest commit stamps (write through the versioned API first)")
    val stamped = manifestVersions(fs, path).map(v =>
      v -> readRawManifest(spark, fs, path, v).flatMap(_.ts).getOrElse(0L))
    require(stamped.nonEmpty, s"no versions under $path")
    val eligible = stamped.filter(_._2 <= asOfMillis).map(_._1)
    require(eligible.nonEmpty,
      s"no version of $path committed at or before $asOfMillis " +
        s"(earliest commit: ${stamped.map(_._2).min})")
    eligible.max
  }

  /** (version, commit epoch-millis, operation) per retained version,
    * ascending — the DESCRIBE HISTORY surface. ts is 0 and op "unknown"
    * for manifests written before those fields existed; vacuum's
    * checkpoint materialization preserves both.
    */
  def versionHistory(spark: SparkSession,
      path: String): Seq[(Long, Long, String)] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(versionsDir(path))) Seq.empty
    else manifestVersions(fs, path).map { v =>
      val raw = readRawManifest(spark, fs, path, v)
      (v, raw.flatMap(_.ts).getOrElse(0L),
        raw.flatMap(_.op).getOrElse("unknown"))
    }
  }

  /** CATALOG/SQL NAMING for Lake tables — the analog of the reference's
    * schema grants + named dbt models (`01-setup-sp-permissions.sql:5-12`,
    * `macros/generate_schema_name.sql:1-8`): register `name` as a SQL
    * view over the table at `path`, so `spark.sql("… FROM name …")` works
    * against versioned/evolving/plain Lake tables alike. Resolution
    * picks the strongest table shape: version manifests (current
    * published version, or `version` for a named time-travel view) →
    * plain parquet dir. Re-registering replaces the view.
    *
    * The view captures the MANIFEST RESOLUTION at registration time (a
    * Spark temp view holds the logical plan): re-register after commits
    * to expose a newer version. That is deliberate — a named snapshot is
    * what SQL consumers want mid-session; a production metastore binding
    * would re-resolve per query.
    */
  def registerTable(spark: SparkSession, name: String, path: String,
      version: Option[Long] = None): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val df =
      if (fs.exists(versionsDir(path))) readVersioned(spark, path, version)
      else {
        require(version.isEmpty,
          s"$path carries no version manifests; cannot register version $version")
        readParquet(spark, path)
      }
    df.createOrReplaceTempView(name)
  }

  /** Row-reorganizing maintenance ops whose commits preserve the row
    * multiset exactly — a change feed skips them (Delta marks the same
    * commits `dataChange=false` and `table_changes` omits them).
    */
  private val ReorgOps = Set("optimize", "zorder", "rerange", "purge")

  /** CHANGE DATA FEED over the delta-manifest chain (Delta's
    * `table_changes(t, startingVersion, endingVersion)` shape, derived
    * entirely from the manifests already on disk — nothing extra is
    * written at commit time). Emits every row-level change committed in
    * versions `fromVersion..toVersion` INCLUSIVE, as the table's columns
    * plus:
    *   - `_change_type`  — `"insert"` (row added by the commit) or
    *     `"delete"` (row removed). File-granular manifests carry no
    *     row-level update lineage, so an update surfaces as
    *     delete(preimage) + insert(postimage) — RETRACTION semantics,
    *     which is exactly what incremental downstream maintenance needs:
    *     an aggregate applies inserts with weight +1 and deletes with
    *     weight −1 and lands on the same state as a full recompute.
    *   - `_commit_version` — the version that committed the change.
    *   - `_commit_timestamp` — the commit wall-clock (null for manifests
    *     predating timestamps).
    *
    * Cost ∝ CHANGED files only: each commit contributes exactly its
    * manifest's add/remove file lists; files carried between versions by
    * reference are NEVER opened (the property that makes an incremental
    * refresh against a 100 TB table read megabytes, not the table).
    * Maintenance commits ([[ReorgOps]]) rewrite files without changing
    * rows and are skipped whole. Snapshot commits (writeVersioned /
    * restore) diff their resolved file set against the previous
    * version's — re-carried files drop out of the diff, so even a
    * restore feeds only what actually changed.
    *
    * The range must lie within vacuum retention: a removed file whose
    * last referencing manifest was vacuumed is gone, and the read fails
    * loudly rather than fabricating an empty delete.
    */
  def readChangeFeed(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{lit, timestamp_millis}
    require(fromVersion <= toVersion,
      s"readChangeFeed: fromVersion $fromVersion > toVersion $toVersion")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(versionsDir(path)), s"no versions under $path")
    // feed rows would expose physical names, and deltas across a rename
    // version would mix eras
    val head = resolveHead(spark, fs, path)._2
    refuseColMap(head.colmap, path, "readChangeFeed")
    val all = manifestVersions(fs, path)
    val inRange = all.filter(v => v >= fromVersion && v <= toVersion)
    // a version vacuumed out of the requested range must REFUSE, never be
    // silently omitted — an incremental consumer that missed a commit's
    // changes would diverge from the table forever
    val missing = (fromVersion to toVersion).toSet -- inRange.toSet
    require(missing.isEmpty,
      s"readChangeFeed: version(s) ${missing.toSeq.sorted.take(5).mkString(",")}" +
        s" in [$fromVersion,$toVersion] have no manifest under $path — " +
        "vacuumed past retention; recompute downstream state in full")
    val root = rootPath(fs, hp)
    // the dv set live at a commit's PREDECESSOR — what the commit's
    // removed files must be read through (their tombstoned rows were
    // retracted by the dvDelete commit that wrote them; re-emitting them
    // as this commit's deletes would double-retract downstream state)
    def dvsAtPrev(v: Long): Seq[DvEntry] =
      readVersionManifest(spark, fs, path, v - 1) match {
        case Some(m) => m.dvs
        case None =>
          // predecessor vacuumed: its sidecar coverage is unknowable. A
          // table with NO dv trace anywhere proceeds (nothing to apply);
          // any surviving trace refuses, like every other read past the
          // vacuum horizon.
          val trace = manifestVersions(fs, path).exists(w =>
            readRawManifest(spark, fs, path, w).exists(r =>
              r.dv.nonEmpty || r.dvAdd.nonEmpty))
          require(!trace,
            s"readChangeFeed: version ${v - 1} (predecessor of commit $v," +
              s" which removes files) has no manifest under $path and the" +
              " table carries deletion-vector history — vacuumed past" +
              " retention; recompute downstream state in full")
          Nil
      }
    // a stand-in manifest carrying only what readFilesWithDv consults;
    // every commit's files read through the head's schema log, so the
    // commits before a schema evolution resolve the evolved schema
    def dvView(ddl: String, dvs: Seq[DvEntry]) =
      VersionManifest(0L, ddl, Nil, dvs, schemaLog = head.schemaLog)
    def tombFrame(dvs: Seq[DvEntry]): DataFrame = readTombstones(spark, fs,
      dvs.map(d => resolveRef(root, d.dv)))
    val parts: Seq[DataFrame] = inRange.flatMap { v =>
      val raw = readRawManifest(spark, fs, path, v).getOrElse(
        sys.error(s"version $v has no manifest under $path"))
      def stamp(df: DataFrame, changeType: String): DataFrame =
        df.withColumn("_change_type", lit(changeType))
          .withColumn("_commit_version", lit(v))
          .withColumn("_commit_timestamp", raw.ts
            .map(t => timestamp_millis(lit(t)))
            .getOrElse(lit(null).cast("timestamp")))
      // `ddl` is the schema of the manifest that LISTS `files`: a removed
      // file read with a later version's DDL would null-fill a column that
      // version added, and the union below would no longer refuse the era
      // mix
      def tag(files: Seq[String], changeType: String,
          dvs: Seq[DvEntry], ddl: String = raw.schemaDdl): Option[DataFrame] =
        if (files.isEmpty) None
        else Some(stamp(
          readFilesWithDv(spark, fs, path, dvView(ddl, dvs),
            files.map(f => resolveRef(root, f))), changeType))
      // rows of `files` AT the tombstoned positions in `positions` — the
      // dv-delete preimages; cost ∝ covered files + KB-sized sidecars
      def rowsAt(files: Seq[String], positions: DataFrame,
          changeType: String): Option[DataFrame] =
        if (files.isEmpty) None
        else {
          import org.apache.spark.sql.functions.broadcast
          val scanned = readFilesWithDvTagged(spark, fs, path,
            dvView(raw.schemaDdl, Nil), files.map(f => resolveRef(root, f)))
          Some(stamp(scanned.join(broadcast(positions),
              scanned(DvSrcFileCol) === positions("file") &&
                scanned(DvPosCol) === positions("pos"),
              "left_semi")
            .drop(DvSrcFileCol, DvPosCol), changeType))
        }
      if (raw.op.exists(ReorgOps)) Seq.empty
      else if (raw.op.contains("dvdelete") && raw.files.isEmpty) {
        // merge-on-read delete: the commit's payload is its sidecars;
        // the deleted rows are the covered files' rows at the tombstoned
        // positions (reading only files this commit touched — the feed's
        // cost contract). A vacuum-MATERIALIZED dvdelete is a full
        // manifest carrying the resolved dv set, not a dvAdd — it falls
        // through to the snapshot branch below, whose carried-file
        // tombstone diff against v-1 reconstructs exactly these deletes.
        // Positions already tombstoned at v-1 are SUBTRACTED first: two
        // racing dvDeletes with overlapping predicates may legally
        // repeat a (file, pos) (each anti-joined only its own base), and
        // re-emitting the shared row would retract it twice downstream.
        val mine = tombFrame(raw.dvAdd).distinct()
        val prevDvs = dvsAtPrev(v)
        val fresh =
          if (prevDvs.isEmpty) mine
          else mine.except(tombFrame(prevDvs))
        rowsAt(raw.dvAdd.flatMap(_.files).distinct, fresh, "delete").toSeq
      }
      else raw.files match {
        case None =>
          val prevDvs =
            if (raw.remove.isEmpty) Nil
            else dvsAtPrev(v)
          tag(raw.add.map(_._1), "insert", Nil).toSeq ++
            tag(raw.remove, "delete", prevDvs).toSeq
        case Some(cur) =>
          // full-snapshot manifest: the change set is the file diff vs
          // the previous version. All-inserts ONLY for the table's
          // GENUINE first commit (v=1 — prior state empty); a full
          // manifest at the vacuum horizon (v>1, a materialized
          // delta) must not be re-fed as whole-table inserts, so it
          // diffs against v-1 and fails loudly if v-1 is gone.
          if (v == 1L) tag(cur.map(_._1), "insert", raw.dv).toSeq
          else {
            val prevM = readVersionManifest(spark, fs, path, v - 1)
              .getOrElse(sys.error(
                s"readChangeFeed: version ${v - 1} (predecessor of " +
                  s"snapshot commit $v) has no manifest under $path — " +
                  "range reaches past vacuum retention"))
            val prevSet = prevM.entries.map(_._1).toSet
            val curSet = cur.map(_._1).toSet
            val fileParts =
              tag(cur.map(_._1).filterNot(prevSet), "insert", raw.dv).toSeq ++
                tag(prevM.entries.map(_._1).filterNot(curSet), "delete",
                  prevM.dvs, prevM.schemaDdl).toSeq
            // carried files whose TOMBSTONE set changed (a restore across
            // a dvDelete/purge boundary): positions tombstoned before but
            // not after came BACK (insert); newly tombstoned ones are
            // deletes. File-diff alone cannot see either.
            val carried = prevSet.intersect(curSet)
            def carriedTombs(dvs: Seq[DvEntry]): Option[DataFrame] = {
              val ds = dvs.filter(_.files.exists(carried))
              if (ds.isEmpty) None
              else Some(tombFrame(ds).filter(
                org.apache.spark.sql.functions.col("file")
                  .isin(carried.toSeq: _*)))
            }
            // short-circuit the common checkpoint shape (depth-cap or
            // vacuum materialization of a non-dv commit): identical dv
            // sets on both sides diff to nothing — decided from metadata
            // already in hand, no covered-file I/O
            val dvParts =
              if (prevM.dvs.toSet == raw.dv.toSet) Seq.empty
              else (carriedTombs(prevM.dvs), carriedTombs(raw.dv)) match {
                case (None, None) => Seq.empty
                case (p, c) =>
                  val empty = tombFrame(
                    (prevM.dvs ++ raw.dv).take(1)).limit(0)
                  // SET semantics: racing dvDeletes may duplicate a
                  // (file, pos) across sidecars — multiset exceptAll
                  // would turn "two copies minus one" into a phantom
                  // insert for a row that is still tombstoned
                  val pT = p.getOrElse(empty).distinct()
                  val cT = c.getOrElse(empty).distinct()
                  val coveredFiles = (prevM.dvs ++ raw.dv)
                    .flatMap(_.files).distinct.filter(carried)
                  rowsAt(coveredFiles, pT.except(cT), "insert").toSeq ++
                    rowsAt(coveredFiles, cT.except(pT), "delete").toSeq
              }
            fileParts ++ dvParts
          }
      }
    }
    if (parts.isEmpty) {
      val v = all.lastOption.getOrElse(
        sys.error(s"no versions under $path"))
      val ddl = readRawManifest(spark, fs, path, v).get.schemaDdl
      val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        .add("_change_type", "string").add("_commit_version", "bigint")
        .add("_commit_timestamp", "timestamp")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else parts.reduce(_.unionByName(_))
  }

  /** CHANGE-FEED → FILE-STREAM BRIDGE: export every not-yet-exported
    * commit's change rows as immutable JSON files under `landing`, in
    * commit order with distinct mod-times, so a Structured Streaming file
    * source (`readStream.json(landing)`) replays the table's history as
    * micro-batches — the Delta-CDF-as-a-stream composition every
    * production incremental pipeline runs (the reference's
    * `STREAM(ref(...))` at `silver_iot_events.sql:11` is this pattern on
    * Databricks). Spark's file source is the one streaming source whose
    * offset/commit logs give exactly-once replay for free, so the bridge
    * rides it instead of a bespoke DSv2 source.
    *
    * Contract:
    *   - RESUMABLE + IDEMPOTENT: exported versions are encoded in the
    *     file names (`cdf-v00003-*.json`) and each version's publish is
    *     sealed by a `_cdf-v00003.done` completion marker written after
    *     its last part rename (the `_` prefix hides it from Spark's file
    *     sources). A re-call exports only commits that landed since the
    *     last SEALED version, never rewrites a sealed file (the
    *     file-stream immutability contract), and re-exports a version
    *     whose publish crashed mid-rename (data files without a marker)
    *     after cleaning its partial parts — the rewrite is
    *     byte-deterministic, so an exactly-once consumer is unharmed.
    *     Call it after each producer commit (or on a timer) and the
    *     consumer stream sees an unbounded, ordered feed.
    *   - cost per call ∝ the NEW commits' CHANGED files only (the
    *     [[readChangeFeed]] guarantee) — flat in table size.
    *   - `_commit_timestamp` is DROPPED (wall-clock — a replayed export
    *     must be byte-deterministic); `_change_type` (+1/−1 retraction
    *     weights downstream) and `_commit_version` ride along.
    *   - `mtimeOrder = true` (default) separates versions by >1 s of
    *     mod-time so coarse-mtime filesystems preserve commit order for
    *     ORDER-SENSITIVE consumers. That costs ~1.1 s per version — an
    *     18-minute pure-sleep tax on a 1,000-commit backfill — so
    *     `mtimeOrder = false` skips every sleep for ORDER-INSENSITIVE
    *     consumers: the commit version already rides IN the rows
    *     (`_commit_version`) and in the file names, so any fold that is
    *     commutative over commits (a ±1 retraction-weight aggregate) or
    *     that resolves order from the data (argmax by `_commit_version`)
    *     replays exactly even when micro-batches interleave versions.
    *   - `keys` nonEmpty switches to the KEYED feed
    *     ([[readChangeFeedKeyed]]): update pre/post classification,
    *     carried file-rewrite pairs dropped — the export a key-driven
    *     consumer (SCD1 fold, notification fan-out) wants.
    *   - `format` "json" (default — human-greppable, the fixture
    *     landings' convention) or "parquet" (the 100 TB choice: ~3x
    *     fewer bytes, column pruning at the consumer's scan; the file
    *     stream source reads either). A landing is ONE format for its
    *     lifetime — mixing would break the consumer's schema contract,
    *     so a resume call refuses a format switch loudly.
    *
    * @return the newest exported version (head, or `upTo` if lower)
    */
  def exportChangeFeedLanding(spark: SparkSession, path: String,
      landing: String, upTo: Option[Long] = None,
      filesPerVersion: Int = 2, keys: Seq[String] = Nil,
      format: String = "json", mtimeOrder: Boolean = true): Long = {
    require(format == "json" || format == "parquet",
      s"exportChangeFeedLanding: format must be json or parquet, got $format")
    val lp = new org.apache.hadoop.fs.Path(landing)
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(lp)
    val versions = listVersions(spark, path)
    require(versions.nonEmpty, s"exportChangeFeedLanding: no versions under $path")
    val head = upTo.map(u => math.min(u, versions.last)).getOrElse(versions.last)
    val namePat = "cdf-v(\\d+)-.*\\.(json|parquet)".r
    val markerPat = "_cdf-v(\\d+)\\.done".r
    val names = fs.listStatus(lp).toSeq.map(_.getPath.getName)
    val published = names.collect { case namePat(v, fmt) => (v.toLong, fmt) }
    published.map(_._2).distinct.foreach(f0 =>
      require(f0 == format,
        s"exportChangeFeedLanding($landing): landing holds $f0 files; a " +
          s"$format resume would hand the consumer a mixed-schema dir — " +
          "one landing, one format"))
    // A version counts EXPORTED only when its completion marker exists —
    // the marker is written AFTER the last part rename, so a crash
    // mid-publish leaves data files without a marker, never the reverse.
    // Marker names lead with `_`, which Spark's file sources filter out,
    // so the consumer stream never sees them. Partial (marker-less)
    // versions are cleaned and re-exported below: the rewrite is
    // byte-deterministic BY CONSTRUCTION — rows are hash-partitioned
    // into filesPerVersion parts on their own values and sorted within
    // each part (coalesce alone re-cuts boundaries by file-listing
    // order, which Spark does NOT fix across JVMs), so a consumer that
    // already ingested a partial file by name re-reads nothing and
    // loses nothing.
    val exported = names.collect { case markerPat(v) => v.toLong }
    val partial = published.map(_._1).distinct.filterNot(exported.contains)
    partial.foreach { v =>
      names.collect { case n @ namePat(pv, _) if pv.toLong == v => n }
        .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(lp, n), false))
    }
    val start = if (exported.isEmpty) versions.head else exported.max + 1
    val todo = (versions.filter(v => v >= start && v <= head) ++
      partial.filter(_ <= head)).distinct.sorted
    // ZERO-SLEEP LANE, FUSED: with no mtime-order contract the versions
    // need no wall-clock separation, so exporting them one job per
    // version pays (versions − 1) avoidable job launches + stage writes.
    // One pass reads the whole todo range, tags every row with the SAME
    // part index the per-version path computes — HashPartitioning's
    // pmod(murmur3(sortCols), filesPerVersion), available as the SQL
    // hash() — and writes all (version, part) groups in a single
    // dynamic-partitioned job. Per-file rows and order are therefore
    // byte-identical to the per-version path (same membership rule, same
    // within-part sort, same writer); ExportFusionSpec pins that.
    if (!mtimeOrder && todo.size > 1) {
      fusedExport(spark, path, landing, fs, lp, todo, filesPerVersion,
        keys, format)
      return head
    }
    todo.zipWithIndex.foreach { case (v, i) =>
      // mtime separation: from prior landing files always, and between
      // sibling versions in one call (first version of a fresh landing
      // needs none — nothing precedes it); skipped entirely for
      // order-insensitive consumers (see the mtimeOrder contract above)
      if (mtimeOrder && (i > 0 || exported.nonEmpty || partial.nonEmpty))
        Thread.sleep(1100)
      val stage = new org.apache.hadoop.fs.Path(landing, s".stage-v$v")
      val feed =
        if (keys.isEmpty) readChangeFeed(spark, path, v, v)
        else readChangeFeedKeyed(spark, path, v, v, keys)
      // deterministic part assignment + in-file order: a crashed publish
      // is cleaned and re-exported, and a consumer may have ingested a
      // partial part BY NAME before the crash — the re-cut must
      // reproduce those bytes exactly. Hash partitioning on the row's
      // own values and a total sort within each part are pure functions
      // of the data; coalesce's boundaries follow file-listing order,
      // which can drift across JVMs/filesystems.
      val bare = feed.drop("_commit_timestamp")
      val sortCols = bare.columns.sorted.map(org.apache.spark.sql.functions.col(_))
      val w = bare
        .repartition(filesPerVersion, sortCols: _*)
        .sortWithinPartitions(sortCols: _*)
        .write.mode("overwrite")
      if (format == "json") w.json(stage.toString)
      else w.parquet(stage.toString)
      // SORT BY NAME before indexing: listStatus order is filesystem-
      // dependent (RawLocalFileSystem delegates to File.list, unsorted),
      // and the landing index j decides which rows a consumer already
      // ingested under cdf-vN-j — an unsorted re-cut could swap the two
      // parts' contents under their names. The part-NNNNN prefix IS the
      // deterministic hash-partition id, so name order = partition order.
      fs.listStatus(stage)
        .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        .sortBy(_.getPath.getName)
        .zipWithIndex.foreach { case (f, j) =>
          require(fs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(landing, f"cdf-v$v%05d-$j.$format")),
            s"exportChangeFeedLanding: rename failed for v$v part $j")
        }
      fs.delete(stage, true)
      // completion marker LAST: publish is now detectably atomic — a
      // crash between renames leaves no marker and the next call
      // re-exports the version instead of silently skipping its
      // remaining parts (the old resume compared nothing and lost rows)
      fs.create(new org.apache.hadoop.fs.Path(lp, f"_cdf-v$v%05d.done"),
        true).close()
    }
    head
  }

  /** One-job export of every pending version (zero-sleep lane only — the
    * mtime-order contract needs per-version wall-clock separation, which
    * forces the loop). Rows are tagged with `_graft_p =
    * pmod(hash(sortCols…), filesPerVersion)` — exactly the part index
    * HashPartitioning assigns in the per-version path — and written with
    * dynamic partitioning on (version, part); each group lands whole in
    * one task, so the rename pass below finds exactly one file per
    * (version, part). Markers are written ascending AFTER all renames:
    * a crash mid-publish leaves marker-less versions that the next call
    * cleans and re-exports, same as the per-version path.
    */
  private def fusedExport(spark: SparkSession, path: String,
      landing: String, fs: org.apache.hadoop.fs.FileSystem,
      lp: org.apache.hadoop.fs.Path, todo: Seq[Long], filesPerVersion: Int,
      keys: Seq[String], format: String): Unit = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    val feedAll =
      (if (keys.isEmpty) readChangeFeed(spark, path, todo.min, todo.max)
       else readChangeFeedKeyed(spark, path, todo.min, todo.max, keys))
        .filter(col("_commit_version").isin(todo: _*))
        .drop("_commit_timestamp")
    val sortCols = feedAll.columns.sorted
    val stage = new org.apache.hadoop.fs.Path(landing, ".stage-fused")
    val staged = feedAll
      .withColumn("_graft_v", col("_commit_version"))
      .withColumn("_graft_p",
        pmod(hash(sortCols.map(col): _*), lit(filesPerVersion)))
      .repartition(col("_graft_v"), col("_graft_p"))
      .sortWithinPartitions(
        (Seq("_graft_v", "_graft_p") ++ sortCols).map(col): _*)
      .write.mode("overwrite").partitionBy("_graft_v", "_graft_p")
    if (format == "json") staged.json(stage.toString)
    else staged.parquet(stage.toString)
    val vDirPat = "_graft_v=(\\d+)".r
    val pDirPat = "_graft_p=(\\d+)".r
    fs.listStatus(stage).filter(_.isDirectory).foreach { vd =>
      val v = vd.getPath.getName match {
        case vDirPat(x) => x.toLong
        case other => sys.error(s"fusedExport: unexpected stage dir $other")
      }
      fs.listStatus(vd.getPath).filter(_.isDirectory).foreach { pd =>
        val p = pd.getPath.getName match {
          case pDirPat(x) => x.toInt
          case other => sys.error(s"fusedExport: unexpected part dir $other")
        }
        val parts = fs.listStatus(pd.getPath)
          .filter(f => f.isFile && f.getPath.getName.startsWith("part-"))
        require(parts.length == 1,
          s"fusedExport: (v$v, p$p) produced ${parts.length} files — the " +
            "(version, part) repartition should land each group whole")
        require(fs.rename(parts.head.getPath,
          new org.apache.hadoop.fs.Path(landing, f"cdf-v$v%05d-$p.$format")),
          s"fusedExport: rename failed for v$v part $p")
      }
    }
    fs.delete(stage, true)
    // markers ascending, after every part is in place (an empty delta
    // version has no stage dir but still seals its marker)
    todo.foreach { v =>
      fs.create(new org.apache.hadoop.fs.Path(lp, f"_cdf-v$v%05d.done"),
        true).close()
    }
  }

  /** [[readChangeFeed]] with UPDATE classification — Delta CDF's four
    * `_change_type` values for KEY-UNIQUE tables (the merge-maintained
    * shape): within each commit, a delete and an insert sharing `keys`
    * are an update and re-emit as `update_preimage` / `update_postimage`;
    * unpaired rows stay `insert` / `delete`. File-granular manifests
    * carry no row lineage, so the pairing is BY KEY — on a table with
    * duplicate keys the pairing would be ambiguous and this form must
    * not be used (the raw retraction feed stays correct there).
    *
    * CARRIED rows are no-ops, matching Delta's `table_changes`: a file
    * rewrite re-emits every unchanged row it carried as a delete+insert
    * pair with IDENTICAL payloads — emitting those as update pre/post
    * images would show key-driven consumers (notification, propagation)
    * a phantom update for every carried row. Pairs whose pre and post
    * payloads are null-safely equal are filtered out entirely; the
    * retraction fold is unchanged (an identical ±1 pair nets zero).
    *
    * One self-join of the feed per call, on (commit, keys) — cost ∝ the
    * feed, which is ∝ changed files.
    */
  def readChangeFeedKeyed(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, struct, when}
    require(keys.nonEmpty, "readChangeFeedKeyed needs key columns")
    val feed = readChangeFeed(spark, path, fromVersion, toVersion)
    val metaCols = Set("_change_type", "_commit_version", "_commit_timestamp")
    val payload = feed.columns.filterNot(c => metaCols(c) || keys.contains(c))
    // keys-only table: a pair is by definition carried (identical rows)
    def payloadStruct =
      if (payload.isEmpty) lit(0) else struct(payload.map(col): _*)
    val joinCols = "_commit_version" +: keys
    val dels = feed.filter(col("_change_type") === "delete")
    val ins = feed.filter(col("_change_type") === "insert")
    val paired = dels
      .select(joinCols.map(col) :+ payloadStruct.as("_graft_pre"): _*)
      .distinct()
      .join(ins.select(joinCols.map(col) :+ payloadStruct.as("_graft_post"): _*)
        .distinct(), joinCols.toSeq)
      .select(joinCols.map(col) :+
        (col("_graft_pre") <=> col("_graft_post")).as("_graft_carried"): _*)
    feed.join(paired, joinCols.toSeq, "left_outer")
      .filter(col("_graft_carried").isNull || !col("_graft_carried"))
      .withColumn("_change_type",
        when(col("_graft_carried").isNull, col("_change_type"))
          .when(col("_change_type") === "delete", lit("update_preimage"))
          .otherwise(lit("update_postimage")))
      .drop("_graft_carried")
  }

  /** SCD2 HISTORY from the change feed — dbt-snapshot semantics over a
    * versioned table, with the COMMIT VERSION as the validity axis
    * (deterministic, unlike wall-clock commit times): every row version
    * the table ever held in `fromVersion..toVersion` yields
    * `(payload…, valid_from_version, valid_to_version, is_current)`,
    * where valid_to −1 means still current.
    *
    * Mechanics, all ∝ the feed (changed files, never the table):
    * file-rewrite noise — carried rows a merge/delete re-emitted as
    * identical delete+insert pairs — cancels by NET WEIGHT per
    * (commit, payload) first, so only true value changes open or close
    * intervals; an interval's close is the first cancelling commit after
    * its open (payload-matched with a NULL-SAFE join, so null-bearing
    * payloads pair correctly); a payload re-appearing later opens a
    * fresh interval.
    */
  def scd2FromFeed(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, min, sum, when}
    val feed = readChangeFeed(spark, path, fromVersion, toVersion)
    val payload = feed.columns.filterNot(Set("_change_type",
      "_commit_version", "_commit_timestamp")).toSeq
    val w = when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    val net = feed
      .groupBy(("_commit_version" +: payload).map(col): _*)
      .agg(sum(w).as("_net")).filter(col("_net") =!= 0L)
    val opens = net.filter(col("_net") > 0).select(payload.map(col) :+
      col("_commit_version").as("valid_from_version"): _*).as("o")
    val closes = net.filter(col("_net") < 0).select(payload.map(col) :+
      col("_commit_version").as("_close_v"): _*).as("c")
    val cond = payload.map(p => col(s"o.$p") <=> col(s"c.$p")).reduce(_ && _)
    opens.join(closes, cond, "left_outer")
      .groupBy(payload.map(p => col(s"o.$p").as(p)) :+
        col("o.valid_from_version").as("valid_from_version"): _*)
      .agg(min(when(col("c._close_v") > col("o.valid_from_version"),
        col("c._close_v"))).as("_vt"))
      .select(payload.map(col) ++ Seq(
        col("valid_from_version"),
        coalesce(col("_vt"), lit(-1L)).as("valid_to_version"),
        col("_vt").isNull.cast("int").as("is_current")): _*)
  }

  /** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE over the change feed —
    * the reference's "automatic incremental refresh"
    * (README_DBT.md:32,102-103) as a first-class operator. The view at
    * `viewPath` is the distributive aggregate
    * {{{ SELECT keys…, count(*) AS countCol, sum(c) AS c  -- c ∈ sumCols
    *     FROM readVersioned(sourcePath) GROUP BY keys… }}}
    * maintained as a versioned Lake table. Every refresh commit is
    * stamped (streamBatchId channel) with the SOURCE version it folded
    * up to — the watermark rides the commit ATOMICALLY, so a crashed
    * refresh retries idempotently: either the commit landed (watermark
    * advanced, re-refresh no-ops) or it didn't (nothing was applied,
    * the same window recomputes).
    *
    * Refresh cost never touches the unchanged source: [[readChangeFeed]]
    * opens only each commit's add/remove files and the per-key delta
    * aggregates map-side (insert +1 / delete −1 retraction weights). The
    * fold ([[foldAggDelta]]) then reads the VIEW once, whole, rewrites
    * only the view files that hold changed keys, and lands as ONE
    * file-granular merge commit — keys whose count reaches zero are
    * deleted from the view. A view of at most a million rows, in files
    * no larger together than Spark's broadcast threshold, is read and
    * merged on the driver, so a steady fold starts two Spark jobs: the
    * delta collect and the rewrite. A feed larger than Spark's per-file
    * open cost (4 MB by default) adds its aggregate's map stage, and a
    * larger view is scanned and joined by Spark (two jobs more). First
    * call (no view yet) materializes the full aggregate once.
    *
    * `forceFull = true` recomputes the view from the current source
    * snapshot instead of folding the feed — the recovery path when the
    * feed window was vacuumed past retention (readChangeFeed refuses) or
    * after changing the aggregate definition.
    *
    * Key columns must be NON-NULL in the source: SQL join semantics never
    * match null keys (the same rule as Delta MERGE), so a null-key group
    * would re-insert instead of update on every fold. Coalesce nulls to a
    * sentinel upstream if the domain needs them. Aggregates are limited
    * to count + sums because those are the retraction-foldable ones;
    * min/max need a recompute on delete (use forceFull or a full view).
    *
    * @return (view version, source version the view now reflects)
    */
  def refreshIncremental(spark: SparkSession, sourcePath: String,
      viewPath: String, keys: Seq[String],
      sumCols: Seq[String] = Seq.empty,
      countCol: String = "n_rows",
      forceFull: Boolean = false): (Long, Long) =
    refreshIncrementalBounded(spark, sourcePath, viewPath, keys, sumCols,
      countCol, forceFull)

  /** [[refreshIncremental]] with the fold's collect bound exposed, so
    * specs can drive the above-bound path.
    */
  private[graft] def refreshIncrementalBounded(spark: SparkSession,
      sourcePath: String, viewPath: String, keys: Seq[String],
      sumCols: Seq[String], countCol: String, forceFull: Boolean,
      maxBroadcastKeys: Long = 1000000L): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    require(keys.nonEmpty, "refreshIncremental needs at least one key column")
    val sfs = new org.apache.hadoop.fs.Path(sourcePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(sfs.exists(versionsDir(sourcePath)),
      s"$sourcePath is not a versioned table (refresh tracks its versions)")
    val srcHead = headVersion(sfs, sourcePath)
    val vfs = new org.apache.hadoop.fs.Path(viewPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (forceFull || !vfs.exists(versionsDir(viewPath))) {
      val full = readVersioned(spark, sourcePath, Some(srcHead))
        .groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(countCol),
          sumCols.map(c => sum(col(c)).as(c)): _*)
      return (writeVersioned(spark, full, viewPath,
        streamBatchId = Some(srcHead)), srcHead)
    }
    val (viewHead, viewM) = resolveHead(spark, vfs, viewPath)
    val w = viewM.streamBatchId.getOrElse(sys.error(
      s"$viewPath's latest commit carries no source watermark — " +
        "not a refresh-maintained view"))
    if (w >= srcHead) return (viewHead, w) // nothing new to fold
    val aggs = foldDeltaAggs(sumCols)
    val feed = readChangeFeed(spark, sourcePath, w + 1, srcHead)
    // a feed (the planner's size estimate, from file lengths) no larger
    // than the open cost Spark charges per file — the floor of every split
    // size it plans a scan with — is smaller than any scan task's share, so
    // it aggregates in one task: a single partition needs no exchange, and
    // the delta collect is one job. A larger feed keeps Spark's splits.
    val oneTask = feed.queryExecution.optimizedPlan.stats.sizeInBytes <=
      spark.sessionState.conf.filesOpenCostInBytes
    val delta = (if (oneTask) feed.coalesce(1) else feed)
      .groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    (foldAggDelta(spark, viewPath, viewM, delta, keys, sumCols, countCol,
      retainNonPositive = false, stamp = srcHead, maxBroadcastKeys), srcHead)
  }

  /** STREAMING incremental MV maintenance — [[refreshIncremental]]'s
    * continuous sibling and the composition r18's verdict flagged as the
    * unjoined halves: the change feed arrives as a STREAM (the
    * [[exportChangeFeedLanding]] bridge), and each `foreachBatch`
    * micro-batch folds its retraction-weighted per-key delta into the
    * versioned view with ONE merge commit. The reference's
    * "automatic incremental refresh" (README_DBT.md:32,102-103) run
    * continuously instead of on demand.
    *
    * Exactly-once rides the commit ATOMICALLY: every fold commit is
    * stamped (streamBatchId channel) with the micro-batch id, so a
    * foreachBatch REPLAY after a crash (offsets logged, sink work maybe
    * done, checkpoint commit missing — Spark's documented replay window)
    * sees `stamp >= batchId` and no-ops instead of double-folding. The
    * batch's feed rows must arrive in commit order ACROSS batches (the
    * landing's mtimeOrder contract): deletes retract state that earlier
    * batches inserted, and the ≤0 delete rule makes the fold
    * order-sensitive by design (the production shape — a zero-count key
    * leaves the view). For the zero-sleep export lane (`mtimeOrder =
    * false`, versions free to interleave across micro-batches) pass
    * `retainNonPositive = true`: the fold keeps transiently-negative
    * counts in the view instead of deleting at ≤0 — per-key addition is
    * commutative, so ANY arrival order lands on the same net state — and
    * the reader filters `countCol > 0` (or a final compaction drops
    * zeros). With the delete rule, a delete arriving BEFORE its insert
    * would drop the key at count −1 and LOSE the retraction; the next
    * insert would then land on 0 instead of net.
    *
    * Cost per micro-batch: the batch, one read of the whole view, and a
    * rewrite of only the view files holding changed keys — never the
    * source. The fold is [[refreshIncremental]]'s ([[foldAggDelta]]):
    * at steady state three Spark jobs (the batch aggregate's map stage,
    * the delta collect and the rewrite) for a view of at most a million
    * rows, which is read and merged on the driver; five above that.
    *
    * @return the view version now current
    */
  def foldFeedBatchIntoAggView(batch: DataFrame, viewPath: String,
      batchId: Long, keys: Seq[String], sumCols: Seq[String] = Seq.empty,
      countCol: String = "n_rows",
      retainNonPositive: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    require(keys.nonEmpty, "foldFeedBatchIntoAggView needs key columns")
    require(batchId >= 0 && batchId < DimStampBase,
      s"fact-channel batch id $batchId collides with the dim stamp " +
        s"channel (ids must be < $DimStampBase)")
    val spark = batch.sparkSession
    val vfs = new org.apache.hadoop.fs.Path(viewPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head =
      if (vfs.exists(versionsDir(viewPath))) Some(resolveHead(spark, vfs, viewPath))
      else None
    head.foreach { case (v, _) =>
      // replay guard compares ONLY against the FACT channel's latest
      // stamp: the head commit may be a dim-side fold (stamped at
      // 1e6+bid), and comparing a small fact batch id against a dim
      // stamp would silently no-op every fact fold that follows a dim
      // fold — dropping fact data in exactly the "continuous fact-side
      // fold between dim refreshes" pattern the docs advertise.
      val (factStamp, anyStamp) =
        latestStampInChannel(spark, vfs, viewPath, _ < DimStampBase)
      if (!anyStamp) sys.error(
        s"$viewPath carries no batch stamp in any commit — " +
          "not a stream-maintained view")
      if (factStamp.exists(_ >= batchId))
        return v // replayed batch: idempotent no-op
    }
    val aggs = foldDeltaAggs(sumCols)
    val delta = batch.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    head match {
      case Some((_, m0)) =>
        foldAggDelta(spark, viewPath, m0, delta, keys, sumCols, countCol,
          retainNonPositive, stamp = batchId)
      case None =>
        val initAll = delta.select((keys.map(col) :+
          col("_graft_dn").as(countCol)) ++
          sumCols.map(c => col(s"_graft_d_$c").as(c)): _*)
        // order-insensitive lane: a first batch that is all-deletes must
        // SEED the view with its negative balance, not drop it
        val init = if (retainNonPositive) initAll
          else initAll.filter(col(countCol) > 0L)
        writeVersioned(spark, init, viewPath, streamBatchId = Some(batchId))
    }
  }

  /** The per-key delta of a change-feed frame: `_graft_dn` is the row
    * count with inserts weighted +1 and deletes −1, `_graft_d_<c>` the
    * same weighting over each sum column.
    */
  private def foldDeltaAggs(
      sumCols: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit, sum, when}
    val sign = when(col("_change_type") === "insert", lit(1L))
      .otherwise(lit(-1L))
    sum(sign).as("_graft_dn") +:
      sumCols.map(c => sum(col(c) * sign).as(s"_graft_d_$c"))
  }

  /** Fold a per-key delta ([[foldDeltaAggs]] over `keys`) into the
    * aggregate view at `viewPath`, whose head manifest is `m0`, as ONE
    * merge commit stamped `stamp` —
    * the gold fold of [[refreshIncremental]] and
    * [[foldFeedBatchIntoAggView]]. A key whose new count is ≤ 0 leaves
    * the view unless `retainNonPositive`.
    *
    * A view of at most `maxBroadcastKeys` rows (its manifest's summed
    * n_rows) whose files together fit the size Spark broadcasts a
    * relation at (`spark.sql.autoBroadcastJoinThreshold`, against the
    * summed file bytes a file scan's size estimate is made of; −1 keeps
    * every fold distributed) folds on the DRIVER: the delta is
    * collected, the view's files are decoded by the driver
    * ([[readFilesOnDriver]]), keys match
    * in a driver map, and the merge Columns below evaluate as a
    * projection over a driver-local relation — the optimizer folds it,
    * so casts, decimal widening and ANSI overflow behave exactly as on
    * the distributed path, and no job runs. The matched files' surviving
    * rows and the upserts are written from local relations, so the fold
    * starts only the delta collect (plus its map stage when the delta's
    * aggregate needs an exchange) and the rewrite.
    *
    * A larger view — or one the driver cannot match byte for byte:
    * schema-evolving, or keyed by a float, binary, complex or collated
    * column — folds distributed: its files are scanned ONCE, each row
    * tagged with its file at the scan, and left-joined to the delta; one
    * collect brings every merged row (keys, new count, new sums, source
    * file) to the driver, which derives the matched files, the arm
    * counts and the key-uniqueness refusal, and the rewrite anti-joins
    * the matched files with a broadcast of the matched keys.
    *
    * Both publish through [[publishMergeRewrite]], the tail [[mergeCdc]]
    * uses. The delta collect is bounded by `maxBroadcastKeys` (the bound
    * [[mergeCdc]] puts on its probe collect); a delta above it folds
    * through [[mergeCdc]] instead.
    *
    * @return the view version now current (the base when nothing changed)
    */
  private def foldAggDelta(spark: SparkSession, viewPath: String,
      m0: VersionManifest, delta: DataFrame, keys: Seq[String], sumCols: Seq[String],
      countCol: String, retainNonPositive: Boolean, stamp: Long,
      maxBroadcastKeys: Long = 1000000L): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{broadcast, coalesce, col, input_file_name, lit}
    import org.apache.spark.sql.types.StructType
    val hp = new org.apache.hadoop.fs.Path(viewPath)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v0 = m0.version
    refuseColMap(m0.colmap, viewPath, "mergeInto")
    refuseDvs(m0.dvs, viewPath, "mergeInto")
    val root = rootPath(fs, hp)
    val evolving = m0.schemaLog.nonEmpty
    lazy val view = readSomeFiles(spark, fs,
      m0.entries.map(e => resolveRef(root, e._1)), m0)
    val viewSchema =
      if (evolving) view.schema else StructType.fromDDL(m0.schemaDdl)
    val viewTypes = viewSchema.map(f => f.name -> f.dataType).toMap
    // one merged row per delta key, over the delta ⟕ view columns
    val mergedCols = (keys.map(col) :+
      (coalesce(col(countCol), lit(0L)) + col("_graft_dn")).as(countCol)) ++
      sumCols.map(c =>
        // Both sides need the coalesce: sum(c * sign) over a fold window
        // where every changed row for the key has NULL in c is NULL, and
        // view.c + NULL would overwrite the key's accumulated sum with
        // NULL (silently rebasing it to 0 on the NEXT fold).
        (coalesce(col(c), lit(0).cast(viewTypes(c))) +
          coalesce(col(s"_graft_d_$c"), lit(0).cast(viewTypes(c))))
          .cast(viewTypes(c)).as(c))
    def merged(v: DataFrame, extra: Seq[String]): DataFrame =
      delta.join(v, keys, "left_outer").select(mergedCols ++ extra.map(col): _*)
    val deleteRule =
      if (retainNonPositive) lit(false) else col(countCol) <= 0L
    val width = keys.length + 1 + sumCols.length
    val collectBound = math.min(maxBroadcastKeys, Int.MaxValue - 1L).toInt + 1
    def viaMergeCdc(): Long =
      mergeCdc(spark, viewPath, merged(view, Nil), keys,
        deleteWhen = deleteRule, maxBroadcastKeys = maxBroadcastKeys,
        streamBatchId = Some(stamp))._1
    val notUnique = s"mergeInto source is not unique on (${keys.mkString(",")})"
    lazy val viewFiles = m0.entries.map(e =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(resolveRef(root, e._1))))
    val onDriver = m0.entries.map(_._2).sum <= maxBroadcastKeys &&
      !evolving && viewTypes.contains(countCol) &&
      keys.forall(k => delta.schema.find(_.name == k).exists(f =>
        viewTypes.get(k).contains(f.dataType) && driverMatchable(f.dataType))) &&
      viewFiles.map(_.getLen).sum <=
        spark.sessionState.conf.autoBroadcastJoinThreshold
    if (onDriver) {
      val deltaRows = delta.limit(collectBound).collect()
      if (deltaRows.length > maxBroadcastKeys) return viaMergeCdc()
      // (manifest-relative file, row) for every view row; a key holding a
      // NULL never matches, as in the SQL join
      val viewRows: Seq[(String, Row)] = m0.entries.map(_._1)
        .zip(readFilesOnDriver(spark, viewFiles, viewSchema))
        .flatMap { case (rel, rows) => rows.map(rel -> _) }
      def keyOf(r: Row, at: Seq[Int]): Option[Seq[Any]] =
        Some(at.map(r.get)).filterNot(_.contains(null))
      val (viewAt, deltaAt) =
        (keys.map(viewSchema.fieldIndex), keys.map(delta.schema.fieldIndex))
      val byKey = viewRows.flatMap(fr => keyOf(fr._2, viewAt).map(_ -> fr))
        .groupMap(_._1)(_._2)
      val hits = deltaRows.map(d =>
        keyOf(d, deltaAt).flatMap(byKey.get).getOrElse(Nil))
      require(hits.forall(_.length <= 1), notUnique)
      val valueCols = countCol +: sumCols
      val valueAt = valueCols.map(viewSchema.fieldIndex)
      val joined = spark.createDataFrame(
        java.util.Arrays.asList(deltaRows.zip(hits).map { case (d, h) =>
          Row.fromSeq(d.toSeq ++ h.headOption.fold(valueCols.map(_ => null: Any))(
            fr => valueAt.map(fr._2.get)))
        }: _*),
        StructType(delta.schema.fields ++ valueCols.map(viewSchema(_))))
      val mergedLocal = joined.select(mergedCols: _*)
      // the generated-column gate mergeCdc applies to its source
      applyGeneratedTo(spark, viewPath, Some(m0), mergedLocal, "mergeInto",
        computeAbsent = false)
      val upserts = mergedLocal.withColumn("_graft_del", deleteRule)
        .collect().filterNot(_.getBoolean(width))
        .map(r => Row.fromSeq(r.toSeq.take(width)))
      val matched = hits.flatMap(_.headOption.map(_._1)).toSet
      if (matched.isEmpty && upserts.isEmpty) return v0
      val touched = deltaRows.flatMap(keyOf(_, deltaAt)).toSet
      val kept = viewRows.collect { case (rel, r)
        if matched(rel) && !keyOf(r, viewAt).exists(touched) => r }
      return publishMergeRewrite(spark, fs, viewPath, m0,
        m0.entries.filter(e => matched(e._1)),
        spark.createDataFrame(java.util.Arrays.asList(kept: _*), viewSchema),
        spark.createDataFrame(java.util.Arrays.asList(upserts: _*),
          StructType(mergedLocal.schema.take(width))),
        upserts.length.toLong, kept.length.toLong + upserts.length,
        Some(stamp))
    }
    // the generated-column gate mergeCdc applies to its source
    applyGeneratedTo(spark, viewPath, Some(m0), merged(view, Nil), "mergeInto",
      computeAbsent = false)
    // file name bound AT THE SCAN — after the join the row has two
    // sources and input_file_name is undefined
    val tagged = merged(view.withColumn("_graft_file", input_file_name()),
      Seq("_graft_file")).withColumn("_graft_del", deleteRule)
    val rows = tagged.limit(collectBound).collect()
    if (rows.length > maxBroadcastKeys) return viaMergeCdc()
    val nk = keys.length
    val (fileAt, delAt) = (width, width + 1)
    require(rows.map(r => (0 until nk).map(r.get)).distinct.length == rows.length,
      notUnique)
    val matchedRows = rows.filterNot(_.isNullAt(fileAt))
    val upserts = rows.filterNot(_.getBoolean(delAt))
    if (matchedRows.isEmpty && upserts.isEmpty) return v0
    val matched = matchedRows
      .map(r => new java.net.URI(r.getString(fileAt)).getPath).toSet
    val matchedEntries =
      m0.entries.filter(e => matched(resolveRef(root, e._1)))
    def local(rs: Seq[Row], n: Int): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(rs.map(r => Row.fromSeq(r.toSeq.take(n))): _*),
      StructType(tagged.schema.take(n)))
    // every matched key leaves its file; updated and new keys enter with
    // the upserts
    val estRows = matchedEntries.map(_._2).sum - matchedRows.length +
      upserts.length
    publishMergeRewrite(spark, fs, viewPath, m0, matchedEntries,
      keptAfterMerge(spark, fs, viewPath, m0, matchedEntries,
        broadcast(local(matchedRows.toSeq, nk)), keys),
      local(upserts.toSeq, fileAt), upserts.length.toLong, estRows,
      Some(stamp))
  }

  /** Key types whose values compare on the driver exactly as a Spark
    * equi-join compares them. A join normalizes float NaN and −0.0,
    * compares binary by content and strings by collation, so those keys
    * (and complex ones) stay with Spark.
    */
  private def driverMatchable(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t match {
      case StringType | BooleanType | ByteType | ShortType | IntegerType |
          LongType | DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Every row of each parquet data file in `files`, decoded on the
    * driver by the reader function a Spark scan task applies to its file
    * splits (`ParquetFileFormat.buildReaderWithPartitionValues`, built
    * once from the session's settings and hadoop conf), so values convert
    * exactly as a scan converts them and no Spark job runs. The rows are
    * materialized: metadata-sized files only.
    */
  private def readFilesOnDriver(spark: SparkSession,
      files: Seq[org.apache.hadoop.fs.FileStatus],
      schema: org.apache.spark.sql.types.StructType)
      : Seq[Seq[org.apache.spark.sql.Row]] = {
    import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
    val read = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().buildReaderWithPartitionValues(spark, schema,
        new org.apache.spark.sql.types.StructType(), schema, Nil,
        Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf())
    val toRow = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(schema)
    files.map { st =>
      val rows = read(PartitionedFile(
        org.apache.spark.sql.catalyst.InternalRow.empty,
        org.apache.spark.paths.SparkPath.fromFileStatus(st), 0L, st.getLen,
        fileSize = st.getLen))
      // a task closes its reader on completion; the driver has no task
      try rows.map(r => toRow(r).asInstanceOf[org.apache.spark.sql.Row]).toVector
      finally rows match { case c: java.io.Closeable => c.close(); case _ => }
    }
  }

  /** The boundary between the two stamp channels packed into the one
    * `streamBatchId` slot a manifest carries: FACT-side folds stamp the
    * raw micro-batch id (required < 1e6) and DIM-side folds stamp
    * `1e6 + id`. A replay guard must compare a batch id ONLY against
    * stamps from its OWN channel — the head commit may belong to the
    * other drain, and a cross-channel compare either silently no-ops
    * real work (fact id vs dim stamp) or misses a replay (dim tag vs
    * fact stamp).
    */
  private[graft] val DimStampBase = 1000000L

  /** The view's latest stamp WITHIN a channel, walking commits head →
    * tail until one matches `inChannel` — the replay-guard primitive for
    * custom foreachBatch folds (e.g. the dim-side join-view maintenance
    * in StreamQueries): skip the fold when the channel's latest stamp
    * already covers the batch id. There is deliberately NO head-only
    * variant — comparing against whatever stamp happens to sit at the
    * head is exactly the cross-channel bug this replaced (a foreign
    * channel's big stamp silently no-ops real work; a replay hides
    * behind a foreign commit and double-applies). Cost ∝ commits since
    * the channel's last fold (manifests are small JSON; in an
    * alternating fold the walk is 1–2 reads).
    */
  def lastStreamBatchStampInChannel(spark: SparkSession, path: String,
      inChannel: Long => Boolean): Option[Long] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(versionsDir(path))) return None
    latestStampInChannel(spark, fs, path, inChannel)._1
  }

  /** (latest stamp satisfying `inChannel`, whether ANY commit in the
    * walked history carried a stamp at all). The second element lets
    * [[foldFeedBatchIntoAggView]] keep refusing to fold into a view no
    * stream ever maintained, without mistaking "head is the other
    * channel's commit" for "not stream-maintained".
    */
  private def latestStampInChannel(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      inChannel: Long => Boolean): (Option[Long], Boolean) = {
    var anyStamp = false
    val it = manifestVersions(fs, path).sorted.reverseIterator
    while (it.hasNext) {
      readRawManifest(spark, fs, path, it.next())
        .flatMap(_.streamBatchId) match {
        case Some(s) =>
          anyStamp = true
          if (inChannel(s)) return (Some(s), true)
        case None => ()
      }
    }
    (None, anyStamp)
  }

  /** CONSUMER-CHECKPOINT-AWARE landing retention — the cleanup that
    * bounds an [[exportChangeFeedLanding]] landing (r18's verdict: "the
    * landing appends forever"). A version's data files are reclaimable
    * once the consumer's checkpoint PROVES it ingested them: the file
    * source's offset log (`sources/0/<batch>`) names every file each
    * batch read, and `commits/<batch>` seals the batches that finished.
    * A SEALED landing version whose every present part appears in a
    * committed batch is pruned; its `_cdf-v*.done` marker STAYS — the
    * marker carries the producer's resume watermark (versions must never
    * re-export) and costs zero bytes of data. Exactly-once is unharmed:
    * the file source never re-lists a deleted path, and replay of a
    * committed batch reads from the checkpoint, not the landing.
    *
    * Multi-consumer landings pass EVERY consumer's checkpoint in ONE
    * call: a version is reclaimed only when ALL of them have committed
    * every one of its parts — true intersection semantics. (Calling the
    * single-checkpoint form once per consumer would be a UNION: pruning
    * against consumer A's checkpoint deletes versions consumer B has not
    * yet read — the r19 advisor's data-loss finding.) A checkpoint that
    * has not committed anything yet vetoes all pruning. A consumer ADDED
    * after a prune must not start from the landing's beginning — gate it
    * with [[requireLandingIntact]] before its first drain.
    *
    * @return (versions pruned, data files deleted)
    */
  def pruneChangeFeedLanding(spark: SparkSession, landing: String,
      checkpointDir: String): (Long, Long) =
    pruneChangeFeedLanding(spark, landing, Seq(checkpointDir))

  def pruneChangeFeedLanding(spark: SparkSession, landing: String,
      checkpointDirs: Seq[String]): (Long, Long) = {
    require(checkpointDirs.nonEmpty,
      "pruneChangeFeedLanding: need at least one consumer checkpoint")
    val lp = new org.apache.hadoop.fs.Path(landing)
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val namePat = "cdf-v(\\d+)-.*\\.(json|parquet)".r
    val markerPat = "_cdf-v(\\d+)\\.done".r
    val names = fs.listStatus(lp).toSeq.map(_.getPath.getName)
    val sealedVs = names.collect { case markerPat(v) => v.toLong }.toSet
    // the file-name sets each consumer's checkpoint PROVES ingested;
    // None = that consumer committed nothing yet, which vetoes pruning
    val perConsumer = checkpointDirs.map(d => committedLandingFiles(spark, d))
    if (perConsumer.exists(_.isEmpty)) return (0L, 0L)
    val committed = perConsumer.flatten.reduce(_ intersect _)
    val prunable = names.collect { case n @ namePat(v, _) => (v.toLong, n) }
      .groupBy(_._1)
      .filter { case (v, parts) =>
        sealedVs(v) && parts.forall(p => committed(p._2)) }
    var nFiles = 0L
    prunable.toSeq.sortBy(_._1).foreach { case (v, parts) =>
      // tombstone BEFORE the deletes: [[requireLandingIntact]] must
      // distinguish "pruned after consumers passed it" from "sealed with
      // a legitimately empty delta" (an empty feed writes zero part files
      // but still seals its .done marker) — absence of data alone cannot.
      // Ordering is load-bearing (r20 advisor): a crash BETWEEN the
      // deletes and a trailing tombstone create would leave a gutted
      // version that reads as a harmless empty delta, silently admitting
      // a fresh consumer to a partial history. Tombstone-first fails the
      // other way — a crash before any delete leaves an intact version
      // marked pruned, which refuses fresh consumers (safe) and is
      // finished by the next prune call.
      fs.create(new org.apache.hadoop.fs.Path(lp, f"_cdf-v$v%05d.pruned"),
        true).close()
      parts.foreach { case (_, n) =>
        if (fs.delete(new org.apache.hadoop.fs.Path(lp, n), false))
          nFiles += 1
      }
    }
    (prunable.size.toLong, nFiles)
  }

  /** The landing file names one consumer's checkpoint PROVES ingested:
    * the file source's offset log (`sources/0/<batch>`) names every file
    * each batch read, gated on the batches `commits/` sealed. None when
    * the checkpoint has no committed batch at all (a brand-new consumer
    * must veto pruning, not permit everything).
    */
  private def committedLandingFiles(spark: SparkSession,
      checkpointDir: String): Option[Set[String]] = {
    val cp = new org.apache.hadoop.fs.Path(checkpointDir)
    val cfs = cp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commitsDir = new org.apache.hadoop.fs.Path(cp, "commits")
    val srcDir = new org.apache.hadoop.fs.Path(cp, "sources/0")
    if (!cfs.exists(commitsDir) || !cfs.exists(srcDir)) return None
    def numeric(n: String): Option[Long] =
      scala.util.Try(n.stripSuffix(".compact").toLong).toOption
    val lastCommit = cfs.listStatus(commitsDir).toSeq
      .flatMap(s => numeric(s.getPath.getName))
      .sorted.lastOption.getOrElse(return None)
    // batch logs (and their periodic `.compact` rollups) are `v1` + one
    // JSON FileEntry per line; path + batchId are all we need and a
    // per-line targeted extract avoids a JSON dependency. Entries are
    // gated on THEIR OWN batchId ≤ the last sealed commit — a compact
    // file can carry a logged-but-uncommitted trailing batch.
    val entry = "\"path\":\"([^\"]+)\".*\"batchId\":(\\d+)".r.unanchored
    Some(cfs.listStatus(srcDir).toSeq
      .filter(s => numeric(s.getPath.getName).isDefined)
      .flatMap { s =>
        val in = cfs.open(s.getPath)
        val lines =
          try scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().toList
          finally in.close()
        lines.collect {
          case entry(p, bid) if bid.toLong <= lastCommit =>
            new org.apache.hadoop.fs.Path(new java.net.URI(p)).getName
        }
      }.toSet)
  }

  /** Gate for a consumer STARTING FRESH on a landing: refuses loudly if
    * any sealed version's data files were already reclaimed by
    * [[pruneChangeFeedLanding]] — a new consumer with an empty
    * checkpoint would silently fold a PARTIAL history (the pruned
    * versions' rows are gone from disk; only their `_cdf-v*.done`
    * markers remain as the producer's resume watermark). Existing
    * consumers resuming from their own checkpoint are unaffected — they
    * replay from the checkpoint, not the landing. Recovery for a late
    * consumer: export a fresh landing from the source table (or start
    * it from a snapshot + the surviving feed tail).
    */
  def requireLandingIntact(spark: SparkSession, landing: String): Unit = {
    val lp = new org.apache.hadoop.fs.Path(landing)
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prunedPat = "_cdf-v(\\d+)\\.pruned".r
    // the prune's own tombstones are the evidence — a sealed version with
    // zero data files may simply have had an EMPTY delta (an empty feed
    // writes no part files), which a fresh consumer can skip harmlessly
    val gutted = fs.listStatus(lp).toSeq.map(_.getPath.getName)
      .collect { case prunedPat(v) => v.toLong }.sorted
    require(gutted.isEmpty,
      s"landing $landing is not intact from the start: version(s) " +
        s"${gutted.mkString(", ")} were pruned after earlier consumers " +
        "passed them — a fresh consumer would fold a partial history. " +
        "Export a new landing from the source table instead.")
  }

  // The join-view watermark packs BOTH source versions into the one
  // streamBatchId slot a manifest carries: fact*1e6 + dim. Versions are
  // commit ordinals (a table gains a few per refresh cycle), so the 1e6
  // radix holds for ~1e6 dim commits and ~9e12 fact commits; the encode
  // refuses loudly past that rather than aliasing two states.
  private def encodeJoinWatermark(f: Long, d: Long): Long = {
    require(d >= 0 && d < 1000000L && f >= 0 && f < 9000000000000L,
      s"join-view watermark out of range: fact=$f dim=$d")
    f * 1000000L + d
  }

  /** Incremental maintenance of a JOIN view — the delta-join algebra
    * [[refreshIncremental]] (aggregate-only) cannot express. The view is
    *   SELECT groupKeys, count, sums FROM fact JOIN dim USING (joinKeys)
    * and BOTH sources may change between refreshes. The fold applies the
    * sequential decomposition
    *   V(F', D') − V(F, D) = ΔF ⋈ D  +  F' ⋈ ΔD
    * (fact changes join the dim AT ITS LAST-FOLDED version; dim changes
    * join the fact at its NEW head), with every feed row weighted ±1 by
    * change type — updates are delete+insert pairs, so a dim attribute
    * move RETRACTS the old group and inserts the new one, and carried
    * (identical) pairs net zero. Cost ∝ changed files on each source
    * plus ONE join per changed side — never the view, never both
    * corpora; at 100 TB the fact feed reads megabytes and the dim
    * snapshot broadcast-joins it.
    *
    * Same contracts as refreshIncremental: non-null keys, count+sum
    * aggregates only (retraction-foldable), groups folding to count ≤ 0
    * are deleted. Fact and dim must not share non-join column names.
    */
  def refreshJoinIncremental(spark: SparkSession, factPath: String,
      dimPath: String, viewPath: String, joinKeys: Seq[String],
      groupKeys: Seq[String], sumCols: Seq[String] = Seq.empty,
      countCol: String = "n_rows"): (Long, Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, sum, when}
    require(joinKeys.nonEmpty && groupKeys.nonEmpty,
      "refreshJoinIncremental needs join and group keys")
    def fsOf(p: String) = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def head(p: String): (Long, VersionManifest) = {
      require(fsOf(p).exists(versionsDir(p)), s"$p is not a versioned table")
      resolveHead(spark, fsOf(p), p)
    }
    val ((fHead, fM), (dHead, dM)) = (head(factPath), head(dimPath))
    def fact = readManifestFiles(spark, fsOf(factPath), factPath, fM)
    val vfs = fsOf(viewPath)
    if (!vfs.exists(versionsDir(viewPath))) {
      val full = fact
        .join(readManifestFiles(spark, fsOf(dimPath), dimPath, dM), joinKeys)
        .groupBy(groupKeys.map(col): _*)
        .agg(count(lit(1)).as(countCol),
          sumCols.map(c => sum(col(c)).as(c)): _*)
      return (writeVersioned(spark, full, viewPath,
        streamBatchId = Some(encodeJoinWatermark(fHead, dHead))),
        fHead, dHead)
    }
    val (viewHead, viewM) = resolveHead(spark, vfs, viewPath)
    val w = viewM.streamBatchId.getOrElse(sys.error(
      s"$viewPath's latest commit carries no source watermark — " +
        "not a refresh-maintained join view"))
    val (fW, dW) = (w / 1000000L, w % 1000000L)
    if (fHead <= fW && dHead <= dW) return (viewHead, fW, dW)
    val sign = when(col("_change_type") === "insert", lit(1L))
      .otherwise(lit(-1L))
    val meta = Seq("_change_type", "_commit_version", "_commit_timestamp")
    val picked = (groupKeys ++ sumCols :+ "_graft_w").map(col)
    val fPiece =
      if (fHead > fW)
        Some(readChangeFeed(spark, factPath, fW + 1, fHead)
          .withColumn("_graft_w", sign).drop(meta: _*)
          .join(readVersioned(spark, dimPath, Some(dW)), joinKeys)
          .select(picked: _*))
      else None
    val dPiece =
      if (dHead > dW)
        Some(fact
          .join(readChangeFeed(spark, dimPath, dW + 1, dHead)
            .withColumn("_graft_w", sign).drop(meta: _*), joinKeys)
          .select(picked: _*))
      else None
    val deltaAggs = sum(col("_graft_w")).as("_graft_dn") +:
      sumCols.map(c => sum(col(c) * col("_graft_w")).as(s"_graft_d_$c"))
    val delta = Seq(fPiece, dPiece).flatten.reduce(_.unionByName(_))
      .groupBy(groupKeys.map(col): _*)
      .agg(deltaAggs.head, deltaAggs.tail: _*)
    val view = readManifestFiles(spark, vfs, viewPath, viewM)
    val viewTypes = view.schema.map(f => f.name -> f.dataType).toMap
    val merged = delta.join(view, groupKeys, "left_outer")
      .select((groupKeys.map(col) :+
        (coalesce(col(countCol), lit(0L)) + col("_graft_dn")).as(countCol))
        ++ sumCols.map(c =>
          (coalesce(col(c), lit(0).cast(viewTypes(c))) +
            coalesce(col(s"_graft_d_$c"), lit(0).cast(viewTypes(c))))
            .cast(viewTypes(c)).as(c)): _*)
    val (v, _) = mergeCdc(spark, viewPath, merged, groupKeys,
      deleteWhen = col(countCol) <= 0L,
      streamBatchId = Some(encodeJoinWatermark(fHead, dHead)))
    (v, fHead, dHead)
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE … SHALLOW CLONE` semantics): a
    * ZERO-COPY table whose v1 manifest references the source head's data
    * files — no bytes move, so cloning a 100 TB table is a metadata
    * write. References are stored as RELATIVE paths with `..` traversal
    * (manifests are relative so tables survive relocation; the clone's
    * resolve `root/../src/file` normalizes in Hadoop paths), and the
    * isolation properties fall out of the existing machinery:
    *  - writes on the clone (append/delete/merge) add files under the
    *    CLONE's root and drop source references from its manifests — the
    *    source never observes them;
    *  - vacuum on the clone reclaims only files under the clone's root
    *    (its orphan listing never walks the source), matching Delta's
    *    rule that external files are never deleted through a clone.
    * The one contract the caller owns, as in Delta: do not vacuum the
    * SOURCE past versions the clone still references. Tables with live
    * deletion vectors refuse (purge first) — a cloned sidecar reference
    * would couple the clone to source tombstones the source may purge.
    */
  def shallowClone(spark: SparkSession, srcPath: String,
      dstPath: String): Long = {
    val shp = new org.apache.hadoop.fs.Path(srcPath)
    val sfs = shp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(sfs.exists(versionsDir(srcPath)),
      s"$srcPath is not a versioned table")
    val (head, m) = resolveHead(spark, sfs, srcPath)
    require(m.dvs.isEmpty, s"shallowClone: $srcPath@v$head carries live " +
      "deletion vectors — purgeDeletes the source first")
    val dhp = new org.apache.hadoop.fs.Path(dstPath)
    val dfs = dhp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!dfs.exists(versionsDir(dstPath)),
      s"$dstPath is already a versioned table")
    // `../` references relativize scheme-less PATHS and later resolve
    // against the CLONE's filesystem — across filesystems (s3a→hdfs,
    // cross-bucket) they would point at nonexistent files and fail only
    // at first read. Refuse loudly at clone time instead.
    require(sfs.getUri == dfs.getUri,
      s"shallowClone: source and destination live on different " +
        s"filesystems (${sfs.getUri} vs ${dfs.getUri}); relative " +
        "references cannot cross them - deep-copy instead")
    val rel = java.nio.file.Paths.get(rootPath(dfs, dhp))
      .relativize(java.nio.file.Paths.get(rootPath(sfs, shp))).toString
    writeVersionManifest(dfs, dstPath, m.copy(version = 1L,
      entries = m.entries.map { case (f, n) => (s"$rel/$f", n) },
      streamBatchId = None), op = Some("clone"))
    writeVersionPointer(spark, dfs, dstPath, 1L)
    1L
  }

  /** METADATA-ONLY column rename (Delta's column-mapping rename): publish a
    * new version whose manifest carries a logical→physical name map — not
    * one data file is touched, so a rename on a 100 TB table is a KB-sized
    * commit. Reads of the new version resolve through the map (one alias
    * projection Catalyst folds into the scan); time travel to a
    * pre-rename version returns THAT version's names, because each
    * manifest carries its own map. The manifest's `schema` field keeps
    * describing the PHYSICAL file schema, so every internal scan path
    * stays byte-identical.
    *
    * Physical names are FROZEN at first mapping: a second rename re-maps
    * logical names onto the same physical columns (Delta freezes physical
    * ids the same way). Operations that scan or rewrite by physical
    * column names refuse on mapped tables ([[requireNoColMap]]);
    * [[materializeMapping]] rewrites once under the logical names and
    * clears the map.
    *
    * @return the published version
    */
  def renameColumns(spark: SparkSession, path: String,
      renames: Map[String, String]): Long = {
    require(renames.nonEmpty, "renameColumns: empty rename set")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(versionsDir(path))) bootstrapRootVersion(spark, fs, path)
    val (v0, m0) = resolveHead(spark, fs, path)
    require(m0.schemaLog.isEmpty,
      s"$path is a schema-evolving table; rename through writeEvolving's " +
        "renames parameter instead")
    val cm0: Seq[(String, String)] =
      if (m0.colmap.nonEmpty) m0.colmap
      else org.apache.spark.sql.types.StructType.fromDDL(m0.schemaDdl)
        .fields.toSeq.map(f => (f.name, f.name))
    val logical0 = cm0.map(_._1)
    requireNoMaintenanceArtifacts(fs, path, m0.props, "renameColumns")
    renames.foreach { case (from, to) =>
      require(logical0.contains(from),
        s"renameColumns: '$from' is not a column of $path@v$v0 " +
          s"(have: ${logical0.mkString(", ")})")
      require(from != to, s"renameColumns: '$from' -> '$to' is a no-op")
    }
    val cm1 = cm0.map { case (l, p) => (renames.getOrElse(l, l), p) }
    require(cm1.map(_._1).distinct.length == cm1.length,
      s"renameColumns: resulting schema has duplicate column names " +
        s"(${cm1.map(_._1).mkString(", ")})")
    commit(spark, fs, path, m0, "rename", colmap = cm1).version
  }

  /** METADATA-ONLY column drop: publish a new version whose column map no
    * longer carries the dropped logical columns — the physical data stays
    * in the files untouched (time travel before the drop still reads it),
    * and because the manifest's physical `schema` shrinks with the map,
    * post-drop scans never even READ the dropped column (column pruning
    * at the manifest, not just the reader). [[vacuum]]-of-versions never
    * reclaims the bytes (the files are shared with pre-drop versions);
    * [[materializeMapping]] is the rewrite that physically sheds them.
    *
    * @return the published version
    */
  def dropColumns(spark: SparkSession, path: String,
      cols: Seq[String]): Long = {
    require(cols.nonEmpty, "dropColumns: empty column set")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(versionsDir(path))) bootstrapRootVersion(spark, fs, path)
    val (v0, m0) = resolveHead(spark, fs, path)
    require(m0.schemaLog.isEmpty,
      s"$path is a schema-evolving table; evolving drops are refused by " +
        "design (writeEvolving's carry-or-rename contract)")
    val phys = org.apache.spark.sql.types.StructType.fromDDL(m0.schemaDdl)
    val cm0: Seq[(String, String)] =
      if (m0.colmap.nonEmpty) m0.colmap
      else phys.fields.toSeq.map(f => (f.name, f.name))
    requireNoMaintenanceArtifacts(fs, path, m0.props, "dropColumns")
    cols.foreach(c => require(cm0.exists(_._1 == c),
      s"dropColumns: '$c' is not a column of $path@v$v0 " +
        s"(have: ${cm0.map(_._1).mkString(", ")})"))
    val cm1 = cm0.filterNot(e => cols.contains(e._1))
    require(cm1.nonEmpty, s"dropColumns: cannot drop every column of $path")
    val keepPhys = cm1.map(_._2).toSet
    val ddl1 = org.apache.spark.sql.types.StructType(
      phys.fields.filter(f => keepPhys(f.name))).toDDL
    commit(spark, fs, path, m0, "drop", schemaDdl = Some(ddl1),
      colmap = cm1).version
  }

  /** Rewrite a column-mapped table ONCE under its logical names and clear
    * the map (the purgeDeletes analog for column mapping): after this,
    * physical == logical again and every physical-name operation
    * (delete/merge/optimize/stats/…) works. Cost ∝ table bytes — the
    * deliberate, explicit price; the rename/drop commits themselves stay
    * metadata-only.
    *
    * @return (published version, files rewritten); (current, 0) when the
    *         table carries no mapping
    */
  def materializeMapping(spark: SparkSession, path: String): (Long, Long) = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (v0, m0) = resolveHead(spark, fs, path)
    if (m0.colmap.isEmpty) return (v0, 0L)
    val logical = readManifestFiles(spark, fs, path, m0)
    val (_, entries) = writeClaimedDir(spark, fs, path, logical)
    // the rewrite read the whole table: only an alter winner rebases it
    val pub = commit(spark, fs, path, m0, "remap", readAll = true,
      replace = Some(VersionManifest(0L, logical.schema.toDDL, entries,
        schemaLog = m0.schemaLog)))
    (pub.version, entries.size.toLong)
  }

  /** Delta's `GENERATE symlink_format_manifest` analog — EXTERNAL-ENGINE
    * interop: write `_symlink_format_manifest/manifest`, one absolute
    * qualified data-file URI per line for the CURRENT version, so engines
    * that speak plain parquet + a file listing (Trino/Presto/Athena/Hive
    * via SymlinkTextInputFormat) read the versioned table WITHOUT
    * understanding its manifests. Metadata-only: cost ∝ live-file count,
    * never bytes; atomic tmp+rename publish; re-export after a commit
    * overwrites (like Delta, the export is a SNAPSHOT — stale until
    * regenerated, which is the documented contract of the feature).
    *
    * Refusals keep the external read HONEST: live deletion vectors
    * (an external engine cannot apply tombstones — purge first) and
    * column mappings (it would read physical names — materialize first)
    * refuse loudly.
    *
    * @return number of files listed
    */
  def exportSymlinkManifest(spark: SparkSession, path: String): Long = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(versionsDir(path)),
      s"$path carries no _graft_versions manifests - nothing to export")
    val (_, m0) = resolveHead(spark, fs, path)
    require(m0.dvs.isEmpty,
      s"exportSymlinkManifest($path): table carries live deletion " +
        "vectors; an external engine cannot apply tombstones - " +
        "purgeDeletes first")
    require(m0.colmap.isEmpty,
      s"exportSymlinkManifest($path): table carries a column mapping; " +
        "an external engine would read physical names - " +
        "materializeMapping first")
    val root = rootPath(fs, hp)
    val uris = m0.entries.map(e => fs.makeQualified(
      new org.apache.hadoop.fs.Path(resolveRef(root, e._1))).toString)
    val dir = new org.apache.hadoop.fs.Path(path, "_symlink_format_manifest")
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".manifest.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val dst = new org.apache.hadoop.fs.Path(dir, "manifest")
    val out = fs.create(tmp, true)
    out.write((uris.mkString("\n") + "\n").getBytes("UTF-8"))
    out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, fs.getConf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    uris.size.toLong
  }

  /** TIME-based retention vacuum — `VACUUM … RETAIN n HOURS` semantics on
    * the commit stamps: keep every version committed within `retainMs` of
    * now (and always the newest), drop the rest, then reclaim files and
    * orphans exactly like [[vacuum]]. Pre-timestamp manifests count as
    * infinitely old.
    */
  def vacuumOlderThan(spark: SparkSession, path: String, retainMs: Long,
      orphanGraceMs: Long = 86400000L): Seq[Long] = {
    val hist = versionHistory(spark, path)
    if (hist.isEmpty) return Seq.empty
    val cutoff = System.currentTimeMillis() - retainMs
    val keep = math.max(1, hist.count(_._2 >= cutoff))
    vacuum(spark, path, keep, orphanGraceMs)
  }

  /** TAKEDOWN / right-to-be-forgotten delete: publish a new version
    * retaining only rows NOT matching `pred`, rewriting ONLY the files
    * that contain matching rows — untouched files are carried into the new
    * version BY REFERENCE (same path, same bytes). Matching files are
    * found with one COLUMN-PRUNED pass (parquet reads just `pred`'s
    * columns), optionally narrowed first by the `_graft_stats` manifest:
    * pass `filePrune` (built with [[skipRange]]) and files whose stats
    * provably exclude every matching row are never opened — the same
    * superset contract as [[readSkipping]]'s `keep`. Delete cost therefore
    * scales with MATCHED files, not table size.
    *
    * Composition: readers planned against the old version keep a valid
    * file list, the delete is time-travel AUDITABLE (`readVersioned(v0)`
    * shows exactly what was removed; `removed` itself is computed from the
    * manifests' per-file n_rows — metadata, no counting scan), and
    * [[vacuum]] is the separate, deliberate step that makes it PHYSICAL —
    * until vacuum runs the bytes still exist, which is what a compliance
    * pipeline wants: audit first, destroy second.
    *
    * Works on any table shape: versioned tables delete in place; a plain
    * table is BOOTSTRAPPED (current files become version 1) and the
    * delete publishes version 2 — evolved tables resolve through their
    * schema log on every read and rewrite, and the rewritten files carry
    * the latest logical schema.
    *
    * Isolation: by default a delete that loses the commit race REBASES
    * over disjoint winners (see [[commit]]) — rows APPENDED
    * concurrently that match `pred` survive, because the delete applies
    * to the data it read. That is WEAKER than Delta's WriteSerializable,
    * which raises ConcurrentAppendException when a winner's added files
    * match the delete's read predicate. For compliance/takedown deletes
    * pass `strict = true`: after a rebased publish the winner-added files
    * still live at the head are re-checked against `pred`, and any
    * matching rows trigger another delete pass — the returned version is
    * guaranteed to hold NO row matching `pred` among data visible when it
    * published (bounded by MaxCommitRetries, then refuses loudly).
    *
    * @return (published version, rows removed); no matching rows →
    *         (current version, 0) with nothing written
    */
  def deleteWhere(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column,
      filePrune: Option[org.apache.spark.sql.Column] = None,
      strict: Boolean = false): (Long, Long) = {
    import org.apache.spark.sql.functions.{coalesce, col, input_file_name, lit}
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(versionsDir(path))) bootstrapRootVersion(spark, fs, path)
    val root = rootPath(fs, hp)
    val statsDir = new org.apache.hadoop.fs.Path(path, "_graft_stats")
    // one base→publish delete pass; returns (base read, version published,
    // rows removed) — published == base means nothing matched
    def onePass(): (Long, Long, Long) = {
      val (v0, m0) = resolveHead(spark, fs, path)
      // pred names logical columns; the COW rewrite would also persist
      // physical names under a stale map
      refuseColMap(m0.colmap, path, "deleteWhere")
      val abs0 = m0.entries.map(e => resolveRef(root, e._1))
      // files whose stats bounds exclude every matching row are not even
      // OPENED; files the stats manifest does not cover stay candidates
      val candidates: Seq[String] = filePrune match {
        case Some(keep) if fs.exists(statsDir) =>
          pruneCandidatesWithStats(spark, statsDir, keep, abs0)
        case _ => abs0
      }
      // ONE column-pruned discovery pass: which candidate files hold a
      // matching row? Parquet reads only pred's columns; nothing is
      // written. Under live DELETION VECTORS the pass reads THROUGH the
      // tombstones (a file whose only matches are already dv-deleted must
      // not be rewritten), via the scan-stage _metadata tag — the raw
      // input_file_name shortcut stays for the common dv-free table
      // because it also serves schema-evolving reads, which have no
      // _metadata contract.
      val matched: Set[String] =
        if (candidates.isEmpty) Set.empty
        else if (m0.dvs.nonEmpty)
          readFilesWithDvTagged(spark, fs, path, m0, candidates)
            .filter(pred).select(col(DvSrcFileCol)).distinct()
            .collect().map(r => resolveRef(root, r.getString(0))).toSet
        else readSomeFiles(spark, fs, candidates, m0)
          .filter(pred).select(input_file_name().as("f")).distinct()
          .collect().map(r => new java.net.URI(r.getString(0)).getPath).toSet
      if (matched.isEmpty) return (v0, v0, 0L)
      // SQL DELETE semantics: remove rows where pred is TRUE; a null
      // predicate KEEPS the row (a bare !pred would silently delete it).
      // The rewrite lands in a claimed namespace dir (the COMMIT number
      // is the next free one — see commit). It also reads through any
      // live tombstones, so it PURGES them for the matched files (their
      // dv coverage drops with the remove) instead of resurrecting
      // dv-deleted rows.
      val matchedEntries = m0.entries.filter(e => matched(resolveRef(root, e._1)))
      // size-adaptive rewrite (same rule as mergeInto): the survivors are
      // bounded by the matched files' manifest row counts, so shape the
      // output file count from that bound instead of one-file-per-task.
      // Stats-manifest tables keep natural boundaries (clustering).
      val survivors = readFilesWithDv(spark, fs, path, m0, matched.toSeq)
        .filter(!coalesce(pred, lit(false)))
      val (_, rewritten) = writeClaimedDir(spark, fs, path,
        if (fs.exists(statsDir)) survivors
        else survivors.coalesce(commitFileParts(matchedEntries.map(_._2).sum)))
      // O(changed-files) delta commit with disjoint-set conflict handling:
      // a concurrent commit that touched NONE of our matched files (append,
      // disjoint delete) rebases this delete behind it; a commit that
      // removed one of them refuses loudly (our rewrite would resurrect
      // rows it dropped) — see commit
      val pub = commit(spark, fs, path, m0, "delete", add = rewritten,
        remove = matchedEntries.map(_._1))
      // metadata-only audit count from the manifests' per-file n_rows: rows
      // in the matched (resolved-source) files minus rows in their rewrites
      // — never a dir-listing guess, never a counting scan. Rows a prior
      // dvDelete already tombstoned in the matched files vanish from the
      // rewrite too but were deleted by THAT commit, not this one: their
      // count (one read of the KB-sized sidecars) comes off the audit.
      val matchedRel = matchedEntries.map(_._1).toSet
      val priorTombs =
        if (!m0.dvs.exists(_.files.exists(matchedRel))) 0L
        else liveTombstones(spark, fs, root, m0.dvs, matchedRel.toSeq).count()
      val removed = matchedEntries.map(_._2).sum -
        rewritten.map(_._2).sum - priorTombs
      (v0, pub.version, removed)
    }
    var (v0, next, total) = onePass()
    if (!strict) return (next, total)
    var guard = 0
    // strict re-check loop: a rebased publish (next > v0 + 1) means winner
    // commits landed between our read and our commit — re-check THEIR
    // added files (only those still live at the head; cost ∝ winner adds,
    // never the table) and delete again if any row matches
    while (next > v0 + 1) {
      guard += 1
      require(guard <= MaxCommitRetries,
        s"deleteWhere(strict): concurrent appends kept matching the " +
          s"predicate under $path $MaxCommitRetries times; quiesce " +
          "writers or retry")
      val live = readVersionManifest(spark, fs, path, next).getOrElse(
        sys.error(s"version $next has no manifest under $path"))
      val liveFiles = live.entries.map(_._1).toSet
      val winnerAdds = ((v0 + 1) until next).flatMap(w =>
        readRawManifest(spark, fs, path, w).toSeq.flatMap(_.add.map(_._1)))
        .distinct.filter(liveFiles)
      if (winnerAdds.isEmpty) return (next, total)
      val anyMatch = winnerAdds.nonEmpty && !readSomeFiles(spark, fs,
        winnerAdds.map(f => resolveRef(root, f)), live).filter(pred).isEmpty
      if (!anyMatch) return (next, total)
      val r = onePass()
      v0 = r._1; next = r._2; total += r._3
    }
    (next, total)
  }

  /** MERGE-ON-READ delete (Delta's deletion-vector path): instead of
    * rewriting every file that holds a matching row ([[deleteWhere]]'s
    * copy-on-write), the commit writes a TOMBSTONE sidecar — `(file,
    * row-position)` pairs, found in one column-pruned discovery pass —
    * and publishes a delta manifest whose only payload is the sidecar
    * reference. Reads ([[readVersioned]], time travel, the change feed)
    * apply the tombstones as an anti-join confined to the covered files.
    * This is the takedown-latency lever at 100 TB: deleting a handful of
    * rows costs one narrow discovery scan plus KILOBYTES of writes,
    * where copy-on-write re-writes every touched gigabyte — at the price
    * of a per-read anti-join until [[purgeDeletes]] (or a compaction /
    * clustering rewrite of the covered files) materializes the deletes.
    * Use copy-on-write for big sweeps, DVs for small urgent ones.
    *
    * Semantics, all pinned in DeletionVectorSpec:
    *  - SQL DELETE null handling (a NULL predicate keeps the row);
    *  - successive dvDeletes UNION (earlier sidecars are never rewritten);
    *  - already-tombstoned rows are skipped at discovery, so re-running a
    *    predicate publishes nothing (returns the current version, 0);
    *  - time travel to a pre-delete version still sees the rows (each
    *    manifest resolves its OWN live sidecar set);
    *  - the commit REBASES over concurrent appends (it touches no files)
    *    and refuses when a winner rewrote a covered file — positions
    *    don't survive a rewrite (see commit's dv checks);
    *  - like non-strict [[deleteWhere]], rows in files appended AFTER the
    *    discovery pass are not re-screened (pass `strict` there for that).
    *
    * Schema-evolving tables refuse (their reads resolve through the
    * rename-fold projection, which has no `_metadata` contract);
    * copy-on-write [[deleteWhere]] covers them.
    *
    * @return (published version, rows tombstoned); (current, 0) when
    *         nothing matched — no commit published
    */
  def deleteWhereDv(spark: SparkSession, path: String,
      pred: org.apache.spark.sql.Column,
      filePrune: Option[org.apache.spark.sql.Column] = None): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(versionsDir(path))) bootstrapRootVersion(spark, fs, path)
    val (v0, m0) = resolveHead(spark, fs, path)
    require(m0.schemaLog.isEmpty,
      s"$path is a schema-evolving table; deletion vectors need the " +
        "fixed-schema read path - use the copy-on-write deleteWhere")
    refuseColMap(m0.colmap, path, "deleteWhereDv")
    val root = rootPath(fs, hp)
    val statsDir = new org.apache.hadoop.fs.Path(path, "_graft_stats")
    // Shallow-clone guard (the mirror of shallowClone's DV refusal): an
    // external `../src` entry cannot be keyed table-relatively by
    // relDataPathCol — the sidecar would record the SOURCE-absolute path,
    // readers would re-prefix the clone root via resolveRef, the
    // covered-set match would miss, and the tombstoned rows would
    // silently reappear. Copy-on-write deleteWhere handles clones: it
    // rewrites matched files under the clone's own root.
    require(!m0.entries.exists(e => isExternalRef(e._1)),
      s"$path@v$v0 holds shallow-clone external references; deletion " +
        "vectors key files table-relatively and cannot cover them - use " +
        "the copy-on-write deleteWhere (it localizes matched files)")
    val abs0 = m0.entries.map(e => resolveRef(root, e._1))
    val candidates: Seq[String] = filePrune match {
      case Some(keep) if fs.exists(statsDir) =>
        pruneCandidatesWithStats(spark, statsDir, keep, abs0)
      case _ => abs0
    }
    if (candidates.isEmpty) return (v0, 0L)
    // ONE discovery pass, reading THROUGH the live tombstones: rows an
    // earlier dvDelete already deleted can't be re-tombstoned, so
    // re-running a predicate is a clean no-op
    val positions = readFilesWithDvTagged(spark, fs, path, m0, candidates)
      .filter(pred)
      .select(col(DvSrcFileCol).as("file"), col(DvPosCol).as("pos"))
    // tombstones are metadata-sized (a DV delete is the SMALL-delete
    // path): while the candidate files hold at most DvBroadcastPositions
    // rows, the positions are collected once, the covered files come from
    // the rows in hand and the sidecar is written from them
    val rowsOf = m0.entries.map(e => resolveRef(root, e._1) -> e._2).toMap
    val collected =
      if (candidates.flatMap(rowsOf.get).sum > DvBroadcastPositions) None
      else Some(positions.collect())
    if (collected.exists(_.isEmpty)) return (v0, 0L)
    val sidecar = collected.fold(positions)(rs => spark.createDataFrame(
      java.util.Arrays.asList(rs: _*), positions.schema))
    // one sidecar file keeps the manifest entry single
    val (claimedDir, written) = writeClaimedDir(spark, fs, path,
      sidecar.coalesce(1))
    val nDel = written.map(_._2).sum
    if (nDel == 0L) {
      // nothing matched: reclaim the WHOLE claimed dir (sidecar, claim
      // marker, _SUCCESS) and publish nothing — a repeated no-op
      // predicate must not burn a version-number namespace per call or
      // leave crumb dirs for vacuum's grace reclaim to chew through
      fs.delete(new org.apache.hadoop.fs.Path(path, s"v=$claimedDir"), true)
      return (v0, 0L)
    }
    // covered-file list: path strings only to the driver (the engine's
    // metadata-transfer rule), bounded by the candidate file count; above
    // the collect bound, read back from the sidecar just written
    val covered = collected match {
      case Some(rs) => rs.map(_.getString(0)).distinct.toSeq
      case None =>
        readTombstones(spark, fs, written.map(e => resolveRef(root, e._1)))
          .select("file").distinct().collect().map(_.getString(0)).toSeq
    }
    val pub = commit(spark, fs, path, m0, "dvdelete",
      dvAdd = written.map(e => DvEntry(e._1, e._2, covered)),
      readSet = covered.toSet)
    (pub.version, nDel)
  }

  /** Materialize a table's deletion vectors: rewrite the covered files
    * without their tombstoned rows and retire both the files and the
    * sidecars in one commit (`op = "purge"` — row-multiset preserving,
    * so the change feed skips it like any reorg). Cost ∝ covered-file
    * bytes, never the table. After a full purge every read is
    * sidecar-free again; [[vacuum]] reclaims the retired sidecars once
    * no retained version references them. A nonzero
    * `minDeletedFraction` purges SELECTIVELY: only files whose live
    * tombstones exceed that share of their rows are rewritten, the rest
    * keep their merge-on-read sidecars — the rewrite-amplification
    * guard for lightly-tombstoned big files.
    *
    * @return (published version, covered files rewritten); (current, 0)
    *         when nothing crosses the threshold
    */
  def purgeDeletes(spark: SparkSession, path: String,
      minDeletedFraction: Double = 0.0): (Long, Long) = {
    require(minDeletedFraction >= 0.0 && minDeletedFraction <= 1.0,
      s"minDeletedFraction must be in [0,1], got $minDeletedFraction")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (v0, m0) = resolveHead(spark, fs, path)
    refuseColMap(m0.colmap, path, "purgeDeletes")
    if (m0.dvs.isEmpty) return (v0, 0L)
    val root = rootPath(fs, hp)
    val covered = m0.dvs.flatMap(_.files).distinct
    // SELECTIVE purge (Databricks' auto-purge threshold shape): with a
    // nonzero fraction, only files whose live-tombstone share crosses it
    // are rewritten — a 1-GB file with one tombstone keeps its sidecar
    // instead of paying a gigabyte of rewrite for 100 bytes of logical
    // change. The per-file counts come from the KB-sized sidecars
    // (distinct — racing overlaps), row totals from the manifest; only
    // path strings + counts reach the driver.
    val dvdRel =
      if (minDeletedFraction <= 0.0) covered
      else {
        val nRows = m0.entries.toMap
        val perFile = liveTombstones(spark, fs, root, m0.dvs, covered)
          .groupBy("file").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        covered.filter(f => nRows.get(f).exists(n =>
          n > 0 && perFile.getOrElse(f, 0L).toDouble / n >= minDeletedFraction))
      }
    if (dvdRel.isEmpty) return (v0, 0L)
    val (_, rewritten) = writeClaimedDir(spark, fs, path,
      readFilesWithDv(spark, fs, path, m0,
        dvdRel.map(f => resolveRef(root, f))))
    val pub = commit(spark, fs, path, m0, "purge", add = rewritten,
      remove = dvdRel, readSet = dvdRel.toSet)
    (pub.version, dvdRel.size.toLong)
  }

  /** METADATA-ONLY row count — `SELECT count(*)` answered from the
    * version manifest's per-file `n_rows` (read from parquet footers at
    * commit time) minus the live tombstones, without scanning a byte of
    * data. At 100 TB this is the difference between an instant answer
    * and a full-corpus pass; Delta/Iceberg answer the same query from
    * their stats the same way. The tombstone correction reads only the
    * KB-sized sidecars (their recorded `nDel` goes stale when a rewrite
    * trims an entry's coverage, so the live positions are counted, not
    * trusted from the audit field). Exactness is spec-pinned against a
    * full scan across dvDelete/COW-delete/purge/append sequences.
    */
  def rowCount(spark: SparkSession, path: String,
      version: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions.col
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(versionsDir(path)),
      s"$path carries no version manifests - metadata counts need the " +
        "versioned write path")
    val m = manifestAt(spark, fs, path, version)
    val physical = m.entries.map(_._2).sum
    if (m.dvs.isEmpty) physical
    else physical - liveTombstones(spark, fs, rootPath(fs, hp), m.dvs,
      m.dvs.flatMap(_.files).distinct).count()
  }

  /** DISTINCT live tombstone positions in `dvs`, restricted to `files`
    * (table-relative). Two RACING dvDeletes with overlapping predicates
    * each anti-join only their own base's tombstones, so one row can
    * legally appear in two sidecars — reads are anti-joins (idempotent
    * under duplicates), but every COUNTING or DIFFING consumer must see
    * a set, not the multiset.
    */
  private def liveTombstones(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, root: String,
      dvs: Seq[DvEntry], files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    readTombstones(spark, fs, dvs.map(d => resolveRef(root, d.dv)))
      .filter(col("file").isin(files: _*))
      .distinct()
  }

  /** The live deletion-vector sidecars at `version` (default: current):
    * (sidecar path, tombstones written at its commit, covered data
    * files). Empty for a DV-free table — the audit/test surface.
    */
  def deletionVectors(spark: SparkSession, path: String,
      version: Option[Long] = None): Seq[(String, Long, Seq[String])] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(versionsDir(path))) return Seq.empty
    version.fold(Option(resolveHead(spark, fs, path)._2))(
        readVersionManifest(spark, fs, path, _)).toSeq
      .flatMap(_.dvs.map(d => (d.dv, d.nDel, d.files)))
  }

  /** Refusal gate, against the resolved head's dv entries, for paths not
    * yet deletion-vector-aware: a raw file read under live tombstones would
    * resurrect deleted rows — refusing loudly beats silently wrong (the
    * vacuum-horizon contract).
    */
  private def refuseDvs(dvs: Seq[DvEntry], path: String,
      opName: String): Unit =
    require(dvs.isEmpty,
      s"$opName($path): table carries live deletion vectors " +
        s"(${dvs.map(_.nDel).sum} tombstones); run purgeDeletes first " +
        "or read via readVersioned")

  /** File-granular MERGE (upsert) — Delta's `MERGE … WHEN MATCHED THEN
    * UPDATE SET * WHEN NOT MATCHED THEN INSERT *`, published as a new
    * version: rows whose key appears in `source` are REPLACED by the
    * source row, unmatched target rows are carried (by reference wherever
    * their whole FILE holds no matched key), and source rows with new
    * keys are inserted. Only files CONTAINING a matched key are rewritten
    * — discovery is one column-pruned semi-join pass, narrowed first by
    * `filePrune` against `_graft_stats` when given (the [[deleteWhere]]
    * contract) — so a daily upsert batch against a 100 TB table rewrites
    * the few files it touches plus one O(changed-files) delta manifest.
    *
    * `source` must be unique on `keyCols` (refused otherwise — with
    * duplicate keys "the" replacement row is undefined; Delta errors on
    * multi-matches the same way) and must match the table schema exactly.
    * This is the versioned-lake form of the reference's dbt
    * `unique_key` incremental materialization ([[graft.pipeline.Dag]]
    * runs the same semantics as a whole-table overwrite).
    *
    * @return (published version, (rows updated, rows inserted)); counts
    *         come from manifest n_rows + one source count (no table
    *         scan), exact when the TARGET is key-unique too — the normal
    *         state of an upsert-maintained table (a dup-keyed target
    *         still merges correctly; only the update/insert split blurs)
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String],
      filePrune: Option[org.apache.spark.sql.Column] = None,
      maxBroadcastKeys: Long = 1000000L): (Long, (Long, Long)) = {
    val (v, (upd, ins, _)) = mergeImpl(spark, path, source, keyCols,
      deleteWhen = None, filePrune, maxBroadcastKeys)
    (v, (upd, ins))
  }

  /** MERGE with CONDITIONAL CLAUSES — the Delta `WHEN MATCHED AND cond
    * THEN DELETE / WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN
    * INSERT *` form, so a Debezium-shaped CDC feed (rows flagged
    * `_is_deleted`, reference README_DBT.md:243) applies in ONE
    * file-granular commit instead of mergeInto + deleteWhere (two
    * versions, two discovery passes, two rewrite generations).
    *
    * `deleteWhen` is evaluated per SOURCE row: matching target rows of a
    * delete-flagged source row are removed; delete-flagged rows whose key
    * matches nothing are no-ops (Delta's WHEN MATCHED semantics — a
    * delete for an absent key inserts nothing); unflagged rows upsert
    * exactly like [[mergeInto]]. The source may carry EXTRA columns (the
    * flag itself) beyond the table schema — they are dropped at write;
    * it must still contain every table column at its exact type and be
    * unique on `keyCols` across the whole batch (a key that both deletes
    * and updates in one batch has no defined outcome).
    *
    * @return (published version, (target rows updated, source rows
    *         inserted, target rows deleted)); counts come from the
    *         discovery pass's per-arm tallies (column-pruned, matched
    *         files only — never a table scan)
    */
  def mergeCdc(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String], deleteWhen: org.apache.spark.sql.Column,
      filePrune: Option[org.apache.spark.sql.Column] = None,
      maxBroadcastKeys: Long = 1000000L,
      streamBatchId: Option[Long] = None): (Long, (Long, Long, Long)) =
    mergeImpl(spark, path, source, keyCols, Some(deleteWhen), filePrune,
      maxBroadcastKeys, streamBatchId)

  /** An UNVERSIONED table's schema DDL (a versioned one's is its head
    * manifest's) — None only when nothing exists yet to compare against.
    */
  private def currentSchemaDdl(spark: SparkSession,
      path: String): Option[String] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) None
    else if (listDataFiles(fs, hp).nonEmpty)
      Some(readParquet(spark, path).schema.toDDL)
    else None
  }

  /** The merge DISCOVERY join exactly as [[mergeInto]] plans it (current
    * version's files ⋈ source keys), exposed package-private so PlanSpec
    * can pin the join strategy on the real code path: hinted broadcast
    * under the size guard, planner/AQE's free choice above it.
    */
  private[graft] def mergeDiscoveryFrame(spark: SparkSession, path: String,
      source: DataFrame, keyCols: Seq[String],
      maxBroadcastKeys: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, count, input_file_name, lit}
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, m0) = resolveHead(spark, fs, path)
    val root = rootPath(fs, hp)
    // mirrors mergeImpl's probe exactly: a small source is grouped to
    // per-key rows, collected, and broadcast as a driver-LOCAL relation
    // (no cluster-side broadcast-build job); above the bound no hint is
    // planted and the join degrades to a shuffle strategy
    val probe: DataFrame =
      if (source.count() <= maxBroadcastKeys) {
        val pdf = source.groupBy(keyCols.map(col): _*)
          .agg(count(lit(1)).as("_graft_n"))
          .select(keyCols.map(col): _*)
        broadcast(spark.createDataFrame(
          java.util.Arrays.asList(pdf.collect(): _*), pdf.schema))
      } else source.select(keyCols.map(col): _*)
    readSomeFiles(spark, fs, m0.entries.map(e => resolveRef(root, e._1)), m0)
      .withColumn("_graft_file", input_file_name())
      .select((keyCols.map(col) :+ col("_graft_file")): _*)
      .join(probe, keyCols, "inner")
  }

  private def mergeImpl(spark: SparkSession, path: String, source: DataFrame,
      keyCols: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column],
      filePrune: Option[org.apache.spark.sql.Column],
      maxBroadcastKeys: Long,
      streamBatchId: Option[Long] = None): (Long, (Long, Long, Long)) = {
    import org.apache.spark.sql.functions.{coalesce, col, count, input_file_name, lit, sum, when}
    require(keyCols.nonEmpty, "mergeInto needs at least one key column")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // every gate runs before a plain table is bootstrapped, so a refused
    // merge leaves it unversioned
    val head = if (fs.exists(versionsDir(path))) Some(resolveHead(spark, fs, path))
      else None
    // the colmap guard must precede the schema compare: on a mapped table
    // the physical-vs-logical mismatch message would mislead
    refuseColMap(head.map(_._2.colmap).getOrElse(Nil), path, "mergeInto")
    // exact-schema contract for the plain upsert (the CDC form allows
    // extra source columns because the delete flag rides there)
    if (deleteWhen.isEmpty)
      head.map(_._2.schemaDdl).orElse(currentSchemaDdl(spark, path)).foreach { ddl =>
        val prior = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        require(source.schema.fields.map(f =>
            (f.name, f.dataType.catalogString)).toSeq ==
            prior.fields.map(f => (f.name, f.dataType.catalogString)).toSeq,
          s"mergeInto schema mismatch: table has ${prior.toDDL}, " +
            s"source has ${source.schema.toDDL}")
      }
    // generated columns: a merge source must carry complete rows and its
    // derived values must MATCH — one aggregate gate, nothing published
    // on violation (computeAbsent=false: an upsert that omitted the
    // column would need per-branch computation; refuse instead)
    applyGeneratedTo(spark, path, head.map(_._2), source, "mergeInto",
      computeAbsent = false)
    refuseDvs(head.map(_._2.dvs).getOrElse(Nil), path, "mergeInto")
    val (v0, m0) = head.getOrElse {
      bootstrapRootVersion(spark, fs, path)
      resolveHead(spark, fs, path)
    }
    val prior = org.apache.spark.sql.types.StructType.fromDDL(m0.schemaDdl)
    prior.fields.foreach { f =>
      require(source.schema.fields.exists(s => s.name == f.name &&
          s.dataType.catalogString == f.dataType.catalogString),
        s"merge source is missing table column ${f.name}: " +
          s"${f.dataType.catalogString} (table ${prior.toDDL})")
    }
    // caller-supplied source may be expensive; persist for the guard +
    // counts + the joins below, released even when a require throws
    val src = source.persist()
    // grouped per-key stats persisted too: the global guard aggregate AND
    // the probe collect below both read it, so the groupBy shuffle over
    // the source runs exactly once
    val delFlagEarly = deleteWhen.map(c => coalesce(c, lit(false)))
      .getOrElse(lit(false))
    val grouped = src.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_graft_n"),
        sum(when(delFlagEarly, lit(1L)).otherwise(lit(0L)))
          .as("_graft_ndel"))
      .persist()
    try {
      val delFlag = delFlagEarly
      // ONE pass over the persisted source computes the multi-match guard
      // (a key mapping to two source rows has no defined outcome — Delta
      // errors the same way), the row count, and the delete-arm count.
      // These were three separate actions (guard isEmpty / count /
      // filter.count); each action re-launches a job over the source, and
      // on a micro-batch fold the per-job overhead dwarfed the data.
      // The aggregate runs on a SECOND driver thread (guide §2.6) so the
      // candidate-file pruning below — a stats-manifest read that touches
      // neither the source nor table data — overlaps it instead of
      // queueing behind it; both are pure reads, and nothing is written
      // until the guard has been checked on the main thread.
      val statsFut = scala.concurrent.Future(grouped
        .agg(sum(col("_graft_n")), org.apache.spark.sql.functions
          .max(col("_graft_n")), sum(col("_graft_ndel")))
        .head())(scala.concurrent.ExecutionContext.global)
      val root = rootPath(fs, hp)
      val abs0 = m0.entries.map(e => resolveRef(root, e._1))
      val statsDir = new org.apache.hadoop.fs.Path(path, "_graft_stats")
      val candidates: Seq[String] = filePrune match {
        case Some(keep) if fs.exists(statsDir) =>
          pruneCandidatesWithStats(spark, statsDir, keep, abs0)
        case _ => abs0
      }
      val guardRow = scala.concurrent.Await.result(statsFut,
        scala.concurrent.duration.Duration.Inf)
      val nSrc = if (guardRow.isNullAt(0)) 0L else guardRow.getLong(0)
      require(guardRow.isNullAt(1) || guardRow.getLong(1) <= 1L,
        s"mergeInto source is not unique on (${keyCols.mkString(",")})")
      val nDel =
        if (deleteWhen.isEmpty || guardRow.isNullAt(2)) 0L
        else guardRow.getLong(2)
      val nUp = nSrc - nDel
      // an EMPTY source provably reaches the no-op return below (empty
      // probe → no matched files, nUp = 0) — short-circuit before paying
      // the probe-collect and discovery jobs. Streaming folds hit this on
      // every non-actionable micro-batch.
      if (nSrc == 0L) return (v0, (0L, 0L, 0L))
      // COLLECT the probe once when it is provably small (the same bound
      // the broadcast hint used): both the discovery join and the rewrite
      // anti-join then build their broadcast from a driver-LOCAL relation
      // — no cluster-side broadcast-build job per join (two jobs saved per
      // merge commit). The guard above already ran, so the grouped frame
      // has exactly one row per source key and `_graft_ndel > 0` IS the
      // row's delete flag. Above the bound: unchanged shuffle-join path.
      val probe: DataFrame =
        if (nSrc <= maxBroadcastKeys) {
          val pdf = grouped.select(
            (keyCols.map(col) :+ (col("_graft_ndel") > 0).as("_graft_del")): _*)
          val rows = pdf.collect()
          org.apache.spark.sql.functions.broadcast(spark.createDataFrame(
            java.util.Arrays.asList(rows: _*), pdf.schema))
        } else src.select(
          (keyCols.map(col) :+ delFlag.as("_graft_del")): _*)
      // ONE column-pruned discovery pass: which files hold a matched key,
      // and how many target rows does each merge arm touch? (file name
      // bound AT THE SCAN — after the join the row has two sources and
      // input_file_name is undefined)
      val fileArms: Seq[(String, Long, Long)] =
        if (candidates.isEmpty) Seq.empty
        else readSomeFiles(spark, fs, candidates, m0)
          .withColumn("_graft_file", input_file_name())
          .select((keyCols.map(col) :+ col("_graft_file")): _*)
          .join(probe, keyCols, "inner")
          .groupBy(col("_graft_file"))
          .agg(
            sum(when(col("_graft_del"), lit(0L)).otherwise(lit(1L)))
              .as("n_upd"),
            sum(when(col("_graft_del"), lit(1L)).otherwise(lit(0L)))
              .as("n_del"))
          .collect().toSeq.map(r => (
            new java.net.URI(r.getString(0)).getPath,
            r.getLong(1), r.getLong(2)))
      val matched: Set[String] = fileArms.map(_._1).toSet
      // target-row tallies per arm, exact whatever the target's key shape
      val updated = fileArms.map(_._2).sum
      val deleted = fileArms.map(_._3).sum
      if (matched.isEmpty && nUp == 0L) return (v0, (0L, 0L, 0L))
      val matchedEntries = m0.entries.filter(e => matched(resolveRef(root, e._1)))
      val estRows =
        matchedEntries.map(_._2).sum - updated - deleted + (nSrc - nDel)
      val next = publishMergeRewrite(spark, fs, path, m0, matchedEntries,
        keptAfterMerge(spark, fs, path, m0, matchedEntries, probe, keyCols),
        src.filter(!delFlag), nUp, estRows, streamBatchId)
      // inserted = upsert rows whose key matched nothing; with a
      // key-unique target (the normal state of a merge-maintained table)
      // `updated` counts exactly the matched upsert keys, so the split is
      // exact — a dup-keyed target still merges correctly, only the
      // update/insert split blurs (deleted stays exact: it tallies
      // target rows directly)
      (next, (updated, nUp - updated, deleted))
    } finally { grouped.unpersist(); src.unpersist(); () }
  }

  /** The rows of a merge's matched files whose key `keysOut` does not
    * hold (a distributed anti-join on `keyCols`), in the table's column
    * order: what survives of those files.
    */
  private def keptAfterMerge(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      m0: VersionManifest, matchedEntries: Seq[(String, Long)],
      keysOut: DataFrame, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val root = rootPath(fs, new org.apache.hadoop.fs.Path(path))
    readSomeFiles(spark, fs, matchedEntries.map(e => resolveRef(root, e._1)), m0)
      .join(keysOut, keyCols, "left_anti")
      .select(org.apache.spark.sql.types.StructType.fromDDL(m0.schemaDdl)
        .fieldNames.map(col): _*)
  }

  /** The commit tail every merge shares — [[mergeInto]], [[mergeCdc]]
    * and the gold fold ([[foldAggDelta]]):
    *   1. gate the rows ENTERING the table (`upserts`, `nUp` of them) on
    *      `m0`'s CHECK constraints — carried rows were validated when they
    *      entered, deleted rows remove data;
    *   2. write `keptOld` (the surviving rows of the matched files, in
    *      the table's column order) plus the upserts into one claimed
    *      dir, shaped to `estRows` rows;
    *   3. [[commit]] it over `m0` as a commit that read the whole table:
    *      it rebases only over alter winners, enforcing a constraint
    *      added since step 1 on the rewrite, and refuses any other.
    */
  private def publishMergeRewrite(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      m0: VersionManifest, matchedEntries: Seq[(String, Long)],
      keptOld: DataFrame, upserts: DataFrame,
      nUp: Long, estRows: Long, streamBatchId: Option[Long]): Long = {
    import org.apache.spark.sql.functions.col
    val prior = org.apache.spark.sql.types.StructType.fromDDL(m0.schemaDdl)
    val entering = upserts.select(prior.fieldNames.map(col): _*)
    val statsDir = new org.apache.hadoop.fs.Path(path, "_graft_stats")
    val cs = m0.props.checks
    if (nUp > 0L && cs.nonEmpty)
      enforceConstraintsOn(spark, entering, cs, s"mergeInto($path)")
    // rewrite = unmatched rows of matched files + every UPSERT row
    // (updated keys replace, new keys insert; delete-flagged keys
    // contribute removals only) — one write into a claimed namespace
    // dir
    val rewriteAll = keptOld.unionByName(entering)
    // size-adaptive output: the rewrite's row count is KNOWN before the
    // write (matched files' manifest n_rows minus replaced/deleted rows
    // plus the upsert arm) — shape the file count to the data instead of
    // inheriting ~one tiny file per upstream task. Stats-manifest tables
    // keep their natural boundaries (file-level clustering).
    val rewriteDf =
      if (fs.exists(statsDir)) rewriteAll
      else rewriteAll.coalesce(commitFileParts(estRows))
    val (_, rewritten) = writeClaimedDir(spark, fs, path, rewriteDf)
    commit(spark, fs, path, m0, "merge", add = rewritten,
      remove = matchedEntries.map(_._1), readAll = true,
      streamBatchId = streamBatchId).version
  }

  /** Make a STREAM-WRITTEN table versioned — the commit half of the
    * reference's streaming-table shape (`bronze_iot_events.sql:1-6` is a
    * Delta streaming table: every drain lands in a transaction log with
    * time travel for free). Our streaming sinks write flat parquet files
    * at the table root plus a `_spark_metadata` sink log; this publishes
    * every ROOT-LEVEL data file not yet referenced by any retained
    * version manifest as one `appendVersioned`-style delta commit —
    * METADATA-ONLY (files are adopted by reference, never moved), so the
    * per-drain commit cost is O(new files) exactly like the stats append.
    *
    * Idempotence is by FILE DIFF, which is strictly stronger than
    * batch-id dedup: a re-drain that adds no files publishes no version;
    * a crash between drain and commit self-heals (the next commit adopts
    * both drains' files); calling it twice is a no-op. Root-level only is
    * load-bearing: files under `v=N` dirs belong to versioned REWRITES
    * (delete/merge/optimize) — a crash-orphaned rewrite dir must never be
    * adopted as streamed data (vacuum reclaims it instead). The adoption
    * reads nothing of the table, so it rebases over concurrent commits
    * like an append ([[commit]]); a winner that adopted one of the same
    * files refuses it, so two adoptions of one file never both land.
    *
    * After the first commit the table is a first-class versioned Lake
    * table: `readVersioned`/time travel/`deleteWhere`/`mergeInto`/
    * `optimizeVersioned`/`vacuum` all work with NO bootstrap step. The
    * `_spark_metadata` log keeps serving the SINK's exactly-once
    * bookkeeping, but versioned readers resolve manifests (explicit file
    * lists never consult the sink log), so the two metadata systems no
    * longer conflict — batch consumers of a versioned streamed table
    * should read through [[readVersioned]], not a raw dir scan.
    *
    * For CONTINUOUS (foreachBatch) deployments pass the micro-batch's
    * `streamBatchId`: it is recorded in the version manifest, and a
    * replayed batch (crash after the data write, before the checkpoint
    * commit) is detected via [[streamBatchCommitted]] BEFORE writing —
    * exactly-once at the version level, surviving vacuum's checkpoint
    * materialization.
    *
    * @return the published version, or None when no new files exist (or
    *         this batch id already committed)
    */
  def commitStreamVersion(spark: SparkSession, path: String,
      streamBatchId: Option[Long] = None): Option[Long] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) return None
    // the newest MANIFEST, resolved once: the column-mapping and property
    // guards read it, and the adoption commits over it, rebasing over
    // any winner that did not adopt one of its files
    val retained = manifestVersions(fs, path)
    val base =
      if (!fs.exists(versionsDir(path))) None
      else Some(retained.lastOption.flatMap(readVersionManifest(spark, fs, path, _))
        .getOrElse(throw new IllegalArgumentException(s"no versions under $path")))
    refuseColMap(base.fold(Seq.empty[(String, String)])(_.colmap), path,
      "commitStreamVersion")
    val props = base.fold(TableProps())(_.props)
    require(props.generated.isEmpty,
      s"commitStreamVersion($path): table declares GENERATED columns; " +
        "adopted stream files were written outside the derivation gate - " +
        "append through appendVersioned, or drop the generated spec")
    require(base.forall(_.schemaLog.isEmpty),
      s"$path is a schema-evolving table; streamed commits assume the " +
        "sink's fixed schema (evolve via writeEvolving, not a stream)")
    if (streamBatchId.exists(streamBatchCommitted(spark, path, _)))
      return None
    // when the dir carries a `_spark_metadata` sink log, adopt ONLY files
    // the SINK COMMITTED: a sink batch that crashed mid-write leaves
    // unlogged part files at the root, and adopting them would surface
    // rows the sink itself will re-write on replay (duplicates). The log
    // is the sink's exactly-once source of truth; the manifest diff
    // layers version-level idempotence on top of it.
    val logged: Option[Set[String]] = sinkLoggedFiles(fs, path)
    def rootFiles(): Seq[String] = fs.listStatus(hp).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.toUri.getPath)
      .filter(f => logged.forall(_.contains(f)))
    val m0 = base match {
      case Some(m) => m
      case None =>
        // first commit: version 1 is EXACTLY the sink-committed root files
        // (not a blind dir listing — see the sink-log note above)
        val rf = rootFiles()
        if (rf.isEmpty) return None
        val adopted = readParquet(spark, path, rf)
        writeVersionManifest(fs, path, VersionManifest(1L, adopted.schema.toDDL,
          fileEntries(spark, fs, path, rf), streamBatchId = streamBatchId),
          op = Some("stream-adopt"))
        writeVersionPointer(spark, fs, path, 1L)
        return Some(1L)
    }
    // every file ANY retained version references is already owned —
    // including files a delete RETIRED but vacuum still retains, which a
    // naive current-version diff would wrongly re-adopt (resurrecting
    // deleted rows on the next drain). A version's files are its base's
    // plus its `add`, and every chain base is retained, so the raw
    // manifests' `files` and `add` lists name them all, one open each
    val known: Set[String] = retained
      .flatMap(readRawManifest(spark, fs, path, _))
      .flatMap(r => r.files.getOrElse(Nil) ++ r.add).map(_._1).toSet
    val root = rootPath(fs, hp)
    val fresh = rootFiles().map(_.stripPrefix(root + "/")).filterNot(known)
    if (fresh.isEmpty) return None
    if (props.checks.nonEmpty)
      enforceConstraintsOn(spark,
        readParquet(spark, path, fresh.map(r => resolveRef(root, r))),
        props.checks, s"commitStreamVersion($path)")
    val pub = commit(spark, fs, path, m0, "stream-adopt",
      add = fileEntries(spark, fs, path, fresh.map(r => resolveRef(root, r))),
      streamBatchId = streamBatchId)
    // a drained sink accretes one file set per drain — exactly the
    // auto-compaction target case (see setAutoOptimize); folded originals
    // stay on disk for log-trusting readers until vacuum, like every
    // optimizeVersioned commit
    maybeAutoOptimize(spark, fs, path, pub)
    Some(pub.version)
  }

  /** Files the `_spark_metadata` streaming-sink log has COMMITTED
    * (absolute scheme-less paths), or None when the dir carries no sink
    * log. Log batch files are JSON-lines — a version header then one
    * SinkFileStatus object per line; `.compact` files use the same
    * format. Metadata-sized driver read, Jackson-parsed like the version
    * manifests.
    */
  private def sinkLoggedFiles(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[Set[String]] = {
    val logDir = new org.apache.hadoop.fs.Path(path, "_spark_metadata")
    if (!fs.exists(logDir)) None
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      Some(fs.listStatus(logDir).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith(".") &&
          !s.getPath.getName.startsWith("_"))
        .flatMap { st =>
          val in = fs.open(st.getPath)
          val txt =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString
            finally in.close()
          txt.linesIterator.filter(_.startsWith("{")).flatMap { line =>
            try {
              val n = m.readTree(line)
              val act = Option(n.get("action")).map(_.asText).getOrElse("add")
              if (act == "delete") None
              else Option(n.get("path")).map(p =>
                new java.net.URI(p.asText).getPath)
            } catch { case _: Exception => None }
          }.toSeq
        }.toSet)
    }
  }

  /** Has a version carrying this stream batch id already been published?
    * The replay check for continuous-mode callers. One stream stamps a
    * table with rising batch ids, so the walk goes newest-first, skips
    * unstamped versions (optimize, delete) and stops at the first stamp
    * at or below `batchId`: a fresh batch reads back to the previous
    * batch's manifest, not the whole history.
    */
  def streamBatchCommitted(spark: SparkSession, path: String,
      batchId: Long): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(versionsDir(path)) && manifestVersions(fs, path).reverseIterator
      .flatMap(readRawManifest(spark, fs, path, _).flatMap(_.streamBatchId))
      .find(_ <= batchId).contains(batchId)
  }

  /** RESTORE — Delta's `RESTORE TABLE … TO VERSION AS OF v`: publish
    * version `v`'s file list as a NEW version (metadata-only — files are
    * re-referenced, never copied), so the table's latest state becomes
    * the old state while the full history, including the versions being
    * rolled back, stays time-travelable until vacuum. A [[commit]] like
    * any other, op "restore": it read nothing of the head, so it rebases
    * over concurrent winners and replaces whatever head it lands on.
    *
    * @return the new version number
    */
  def restoreVersion(spark: SparkSession, path: String, v: Long): Long = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(versionsDir(path)),
      s"$path carries no _graft_versions manifests - nothing to restore")
    val m = readVersionManifest(spark, fs, path, v).getOrElse(
      sys.error(s"version $v does not exist under $path (have: " +
        s"${manifestVersions(fs, path).mkString(",")})"))
    val (_, head) = resolveHead(spark, fs, path)
    if (v == head.version) return v // restoring the latest is a no-op
    // the restore keeps the HEAD's properties (a restore rolls data back,
    // not the table's constraints). A version published BEFORE
    // addGeneratedColumn/addCheckConstraint may hold rows they reject;
    // re-publishing it at head would break the invariant every write path
    // enforces (no commit publishes a violating row), so validate the
    // restored data first — one column-pruned aggregate per artifact
    // kind, zero cost when the table declares neither (the common case)
    val gens = head.props.generated
    if (gens.nonEmpty)
      validateGeneratedOn(spark, readManifestFiles(spark, fs, path, m), gens,
        s"restoreVersion($path, v=$v)")
    val resCs = head.props.checks
    if (resCs.nonEmpty)
      enforceConstraintsOn(spark, readManifestFiles(spark, fs, path, m), resCs,
        s"restoreVersion($path, v=$v)")
    // the restored version's schema log describes its files, and the
    // head's properties never join a schema log (commit's rule)
    require(m.schemaLog.isEmpty || !head.props.gates,
      s"restoreVersion($path, v=$v): version $v is schema-evolving and " +
        "the table carries CHECK constraints or GENERATED columns - drop " +
        "them first")
    // the restored version's live deletion vectors travel with it — a
    // restore to a pre-purge version re-applies that version's sidecars —
    // and so do its column mapping (restoring past a rename restores
    // that version's own logical names) and its schema log
    commit(spark, fs, path, head, "restore", replace = Some(m)).version
  }

  /** CHECK CONSTRAINTS for versioned tables — Delta's `ALTER TABLE ADD
    * CONSTRAINT` semantics: a named SQL predicate every row entering the
    * table must satisfy, from this commit on. Adding a constraint
    * VALIDATES EXISTING DATA first (one column-pruned aggregate over the
    * head it resolved — refusing a constraint the table already violates
    * is the honest contract, and an unparseable predicate fails there
    * too); thereafter every [[appendVersioned]]/[[writeVersioned]]/
    * [[mergeInto]]/[[mergeCdc]]-upsert batch, every [[publishStaged]] and
    * every [[commitStreamVersion]] adoption is checked in ONE extra narrow
    * pass (all constraints folded into a single aggregate — cost is one
    * scan of the BATCH, never the table) and a violating commit is
    * refused loudly with per-constraint counts before any manifest
    * publishes. SQL CHECK null semantics: a row violates only when the
    * predicate is definitively FALSE; NULL passes (use an explicit
    * `IS NOT NULL` constraint for null rejection).
    *
    * A constraint is a table property, so adding one is a commit: an
    * `alter` version (no file added or removed) that races every other
    * commit for its version number. A commit that published after the
    * validated head is a winner the alter rebases over, and the rows it
    * added are checked against the constraint first; a commit publishing
    * after the alter finds the constraint in its base and enforces it
    * ([[enforceNewProps]]). Either way the head never holds a constraint
    * together with a row violating it. Duplicate names are refused.
    */
  def addCheckConstraint(spark: SparkSession, path: String, name: String,
      sqlExpr: String): Unit = {
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"constraint name '$name' must be [A-Za-z0-9_]+")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, m0) = resolveHead(spark, fs, path)
    // schema-evolving tables are refused: writeEvolving bypasses the
    // versioned-commit gates, and a rename could silently detach the
    // constraint from the column it was written against — an unenforced
    // constraint is worse than none. An evolution that lands concurrently
    // makes this alter's rebase refuse (commit)
    require(m0.schemaLog.isEmpty,
      s"$path is a schema-evolving table; CHECK constraints require the " +
        "fixed-schema versioned write path")
    refuseColMap(m0.colmap, path, "addCheckConstraint")
    require(!m0.props.checks.exists(_._1 == name),
      s"constraint '$name' already exists on $path (drop it first)")
    enforceConstraintsOn(spark, readManifestFiles(spark, fs, path, m0),
      Seq(name -> sqlExpr), s"addCheckConstraint($name) on existing data of $path")
    publishAlter(spark, fs, path, m0, m0.props.copy(
      checks = (m0.props.checks :+ (name -> sqlExpr)).sortBy(_._1)))
  }

  // ======================================================================
  // GENERATED COLUMNS — Delta's `GENERATED ALWAYS AS (expr)`: a column
  // declared as a deterministic function of the row's OTHER columns.
  // Append-path batches may OMIT the column (the engine computes it) or
  // carry it (the engine VALIDATES it matches, one aggregate pass — the
  // CHECK-constraint cost shape); either way no commit can publish a row
  // where column ≠ expr. A spec is a table property: declaring it
  // validates the existing data at the head it resolved, then publishes
  // an `alter` commit raced exactly like a CHECK constraint's (see
  // addCheckConstraint); dropping it is an `alter` commit with no Spark
  // job. The 100 TB point is partition-prune synergy: a stats manifest
  // over a generated day/bucket column prunes scans while writers never
  // hand-maintain the derivation.
  // ======================================================================

  /** Declare `name` (already in the table schema) as GENERATED ALWAYS AS
    * `sqlExpr`. Refuses: evolving tables, column mappings, a type
    * mismatch between the expression and the declared column, a name
    * already declared, and existing rows that violate the derivation
    * (validated in one pass before anything publishes).
    */
  def addGeneratedColumn(spark: SparkSession, path: String, name: String,
      sqlExpr: String): Unit = {
    import org.apache.spark.sql.functions.expr
    require(name.nonEmpty && name.forall(c => c.isLetterOrDigit || c == '_'),
      s"generated column name '$name' must be [A-Za-z0-9_]+")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, m0) = resolveHead(spark, fs, path)
    require(m0.schemaLog.isEmpty,
      s"$path is a schema-evolving table; generated columns require the " +
        "fixed-schema versioned write path")
    refuseColMap(m0.colmap, path, "addGeneratedColumn")
    val cur = readManifestFiles(spark, fs, path, m0)
    require(cur.schema.fieldNames.contains(name),
      s"addGeneratedColumn($path): '$name' is not a column of the table " +
        s"(have: ${cur.schema.fieldNames.mkString(", ")})")
    val declared = cur.schema(name).dataType.catalogString
    val computed = cur.select(expr(sqlExpr).as(name))
      .schema.head.dataType.catalogString
    require(computed == declared,
      s"addGeneratedColumn($path): expression type $computed does not " +
        s"match declared column type $declared")
    require(!m0.props.generated.exists(_._1 == name),
      s"generated column '$name' already declared on $path (drop it first)")
    validateGeneratedOn(spark, cur, Seq(name -> sqlExpr),
      s"addGeneratedColumn($name) on existing data of $path")
    publishAlter(spark, fs, path, m0, m0.props.copy(
      generated = (m0.props.generated :+ (name -> sqlExpr)).sortBy(_._1)))
  }

  def dropGeneratedColumn(spark: SparkSession, path: String,
      name: String): Boolean =
    alterProps(spark, path)(p =>
      p.copy(generated = p.generated.filterNot(_._1 == name)))

  /** The table's (column, sql) generated-column specs, name-ascending. */
  def generatedColumns(spark: SparkSession,
      path: String): Seq[(String, String)] =
    headProps(spark, path).generated

  /** The head version's properties; none on an unversioned path. */
  private def headProps(spark: SparkSession, path: String): TableProps = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    headManifest(spark, fs, path).fold(TableProps())(_.props)
  }

  /** Commit `props` as the table's whole property set over head `m0`: an
    * `alter` version with no file added or removed.
    */
  private def publishAlter(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, m0: VersionManifest,
      props: TableProps): Unit = {
    commit(spark, fs, path, m0, "alter", props = Some(props))
    ()
  }

  /** Change the head's properties with one `alter` commit — metadata
    * only, no Spark job. False, with nothing published, when `change`
    * leaves them as they are or the path has no versions.
    */
  private def alterProps(spark: SparkSession,
      path: String)(change: TableProps => TableProps): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    headManifest(spark, fs, path).exists { m0 =>
      val props = change(m0.props)
      props != m0.props && { publishAlter(spark, fs, path, m0, props); true }
    }
  }

  /** One aggregate pass refusing any row where a generated column's
    * stored value differs (null-safely) from its derivation.
    */
  private def validateGeneratedOn(spark: SparkSession, incoming: DataFrame,
      specs: Seq[(String, String)], what: String): Unit = {
    import org.apache.spark.sql.functions.{col, expr}
    refuseRows(incoming, specs, s"GENERATED column violation in $what")(
      (n, e) => !(col(n) <=> expr(e)))
  }

  /** Apply head `m`'s generated-column specs to an incoming batch:
    * COMPUTE columns the batch omits, VALIDATE ones it carries, and
    * return the frame in the table's column order (compute appends at
    * the end, which the exact-schema append contract would refuse).
    * No specs (or no head) → the batch passes through untouched.
    */
  private def applyGeneratedTo(spark: SparkSession, path: String,
      m: Option[VersionManifest], df: DataFrame, what: String,
      computeAbsent: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val specs = m.fold(Seq.empty[(String, String)])(_.props.generated)
    if (specs.isEmpty) return df
    var out = df
    val toValidate = scala.collection.mutable.ListBuffer.empty[(String, String)]
    specs.foreach { case (n, e) =>
      if (!out.columns.contains(n)) {
        require(computeAbsent,
          s"$what($path): source omits generated column '$n'; this path " +
            "requires complete rows - compute it upstream")
        out = out.withColumn(n, expr(e))
      } else toValidate += (n -> e)
    }
    if (toValidate.nonEmpty)
      validateGeneratedOn(spark, out, toValidate.toSeq, what)
    // restore the table's column order when the schemas now agree as SETS
    val tableCols = org.apache.spark.sql.types.StructType.fromDDL(m.get.schemaDdl)
      .fieldNames.toSeq
    if (out.columns.toSeq != tableCols && out.columns.toSet == tableCols.toSet)
      out = out.select(tableCols.map(col): _*)
    out
  }

  def dropCheckConstraint(spark: SparkSession, path: String,
      name: String): Boolean =
    alterProps(spark, path)(p => p.copy(checks = p.checks.filterNot(_._1 == name)))

  /** The table's (name, sql) CHECK constraints, name-ascending. */
  def checkConstraints(spark: SparkSession,
      path: String): Seq[(String, String)] =
    headProps(spark, path).checks

  /** THE publish-time rule for table properties. A commit publishes over
    * a base whose properties it has enforced. When the manifest it is
    * about to publish (`m`, the base it rebased onto plus the commit)
    * carries CHECK constraints or generated specs that the properties its
    * gate enforced (`have`) lack, they are enforced here on `files`
    * (manifest-relative, read through `m`'s schema and deletion vectors)
    * before the manifest rename: one narrow pass per kind, none when
    * nothing is new. [[commit]] calls it on every rebase, so a commit
    * whose gate missed a concurrent alter enforces that alter's
    * properties before it publishes.
    */
  private def enforceNewProps(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, m: VersionManifest,
      files: Seq[String], have: TableProps, what: String): Unit = {
    val cs = m.props.checks.filterNot(have.checks.contains)
    val gs = m.props.generated.filterNot(have.generated.contains)
    if (files.nonEmpty && (cs.nonEmpty || gs.nonEmpty)) {
      val root = rootPath(fs, new org.apache.hadoop.fs.Path(path))
      val rows = readFilesWithDv(spark, fs, path, m, files.map(resolveRef(root, _)))
      if (cs.nonEmpty) enforceConstraintsOn(spark, rows, cs, what)
      if (gs.nonEmpty) validateGeneratedOn(spark, rows, gs, what)
    }
  }

  /** Refuse `incoming` unless every row satisfies every constraint — ONE
    * aggregate pass whatever the constraint count (a violation is
    * `NOT coalesce(expr, true)`: SQL CHECK lets NULL pass).
    */
  private def enforceConstraintsOn(spark: SparkSession, incoming: DataFrame,
      cs: Seq[(String, String)], what: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    refuseRows(incoming, cs, s"CHECK constraint violation in $what")(
      (_, e) => !coalesce(expr(e), lit(true)))
  }

  /** One aggregate counting, per (name, sql) spec, the rows `bad` flags;
    * refuses with `stem` and each flagged spec's count.
    */
  private def refuseRows(incoming: DataFrame, specs: Seq[(String, String)],
      stem: String)(bad: (String, String) => org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.functions.{sum, when}
    val aggs = specs.map { case (n, e) => sum(when(bad(n, e), 1L).otherwise(0L)).as(n) }
    val row = incoming.agg(aggs.head, aggs.tail: _*).head()
    val hits = specs.indices.map(i => specs(i)._1 -> (
      if (row.isNullAt(i)) 0L else row.getLong(i))).filter(_._2 > 0)
    require(hits.isEmpty, s"$stem: " +
      hits.map { case (n, c) => s"$n ($c rows)" }.mkString(", ") +
      " - commit refused, nothing published")
  }

  /** Remove versions older than the newest `keepLast` (the published
    * pointer target is always kept), then delete only the data files NO
    * retained version references — shared files survive, which is what
    * file-granular commits require. Returns the removed version numbers.
    */
  def vacuum(spark: SparkSession, path: String, keepLast: Int,
      orphanGraceMs: Long = 86400000L): Seq[Long] = {
    require(keepLast >= 1, "vacuum must keep at least the latest version")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = listVersions(spark, path)
    if (all.isEmpty) return Seq.empty
    val current = headVersion(fs, path)
    val drop = all.dropRight(keepLast).filterNot(_ == current)
    val retained = all.filterNot(drop.contains)
    // deletion-vector sidecars are references like any data file: a
    // retained version that still applies a sidecar must keep it on disk
    val referenced = retained.flatMap(v =>
      readVersionManifest(spark, fs, path, v).toSeq.flatMap(m =>
        m.entries.map(_._1) ++ m.dvs.map(_.dv)))
      .toSet ++
      // staged-but-unpublished WAP batches are LIVE ROOTS: their files
      // have no manifest yet by design, and the orphan-grace sweep must
      // not mistake a long-pending audit for a crashed commit — abort,
      // not age, is what reclaims staged work
      stagedReferencedFiles(spark, fs, path)
    // a retained DELTA manifest may resolve through a version being
    // dropped: materialize it to a full checkpoint FIRST (metadata-only
    // atomic swap), so no chain ever dangles. Ascending order: once an
    // older retained version is full, newer chains stop at it.
    val dropSet = drop.toSet
    def chainHitsDropped(v: Long): Boolean = {
      var cur = readRawManifest(spark, fs, path, v)
      while (cur.exists(_.files.isEmpty)) {
        val b = cur.get.base.get
        if (dropSet(b)) return true
        cur = readRawManifest(spark, fs, path, b)
      }
      false
    }
    retained.foreach { v =>
      if (chainHitsDropped(v)) {
        val m = readVersionManifest(spark, fs, path, v).getOrElse(
          sys.error(s"version $v has no manifest under $path"))
        // carry the ORIGINAL commit ts and stream batch id into the
        // checkpoint: asOf resolution and batch-replay idempotence must
        // behave identically before and after a vacuum
        val orig = readRawManifest(spark, fs, path, v)
        writeVersionManifest(fs, path, m, orig.flatMap(_.op),
          replace = true, ts = orig.flatMap(_.ts))
      }
    }
    val root = rootPath(fs, hp)
    // resolve every dropped version BEFORE deleting any manifest — a
    // dropped delta may resolve through another dropped version's file
    val droppedEntries: Seq[(Long, Seq[String])] = drop.map(v =>
      v -> readVersionManifest(spark, fs, path, v).toSeq
        .flatMap(m => m.entries.map(_._1) ++ m.dvs.map(_.dv)))
    droppedEntries.foreach { case (v, rels) =>
      // external (shallow-clone) references are dropped from the
      // manifests but their files belong to the SOURCE table — never
      // physically deleted through the clone (Delta's clone rule)
      rels.filterNot(referenced).filterNot(isExternalRef).foreach(rel =>
        fs.delete(new org.apache.hadoop.fs.Path(resolveRef(root, rel)), false))
      fs.delete(versionManifestFile(path, v), false)
    }
    // reclaim CRASH ORPHANS — unreferenced files in v= dirs, gated by an
    // MTIME GRACE window (Delta VACUUM's model): a file no retained
    // manifest references is either a crashed commit's leavings (its
    // writer died before publishing) or a LIVE commit's work in progress
    // (its writer will publish soon). Version numbers cannot tell the two
    // apart once data-dir numbers and manifest numbers decouple (a rebase
    // can publish manifest v=7 over dir v=5, and concurrent manifests can
    // catch up past a live writer's dir), so the discriminator is AGE:
    // a live commit publishes within minutes, a crashed one never does —
    // files older than `orphanGraceMs` (default 24 h) with no reference
    // are dead. Root-level files are NEVER touched here: on a streamed
    // table they may be drained-but-not-yet-committed batches
    // ([[commitStreamVersion]] adopts them).
    val now = System.currentTimeMillis()
    def expired(st: org.apache.hadoop.fs.FileStatus): Boolean =
      st.getModificationTime + orphanGraceMs <= now
    fs.listStatus(hp).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .foreach { d =>
        listDataFiles(fs, d.getPath)
          .filterNot(f => referenced(f.stripPrefix(root + "/")))
          .map(f => fs.getFileStatus(new org.apache.hadoop.fs.Path(f)))
          .filter(expired)
          .foreach(st => fs.delete(st.getPath, false))
      }
    // reclaim SINK-CRASH leftovers at the table ROOT, only when a
    // `_spark_metadata` sink log exists to adjudicate: a root file that
    // is UNLOGGED (the sink never committed it — its batch died mid-write
    // and was rewritten on replay under a new name), UNREFERENCED by any
    // retained manifest, and past the grace window will never be adopted
    // ([[commitStreamVersion]] adopts only logged files when a log
    // exists). Without a sink log, root files are left strictly alone —
    // they may be drained batches awaiting adoption.
    sinkLoggedFiles(fs, path).foreach { logged =>
      fs.listStatus(hp).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .filter(expired)
        .filter { s =>
          val p = s.getPath.toUri.getPath
          !logged(p) && !referenced(p.stripPrefix(root + "/"))
        }
        .foreach(s => fs.delete(s.getPath, false))
    }
    // fold away v= dirs with no data files left, under the same grace:
    // a raw-empty dir deletes immediately; a dir holding only expired
    // crumbs (claim markers, _SUCCESS, stale _temporary) deletes with
    // them; a dir with any RECENT entry is a live writer's workspace and
    // survives untouched
    fs.listStatus(hp).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .foreach { d =>
        val crumbs = fs.listStatus(d.getPath).toSeq
        if (crumbs.isEmpty ||
            (listDataFiles(fs, d.getPath).isEmpty && crumbs.forall(expired)))
          fs.delete(d.getPath, true)
      }
    drop
  }

  /** OPTIMIZE for versioned tables — small-file compaction published as a
    * NEW VERSION, never an in-place rewrite (shared files are immutable;
    * that is why [[compact]] refuses versioned tables). Files
    * smaller than half the target are bin-packed into ~targetFileBytes
    * rewrites; every already-compact file carries into the new version BY
    * REFERENCE. Cost is therefore ∝ SMALL-FILE bytes, not table size —
    * after a year of O(batch) [[appendVersioned]] commits, the periodic
    * optimize pays only for the accreted tail, exactly Delta's OPTIMIZE
    * shape. Readers are never disturbed: old versions keep their file
    * lists, [[vacuum]] later reclaims the folded originals.
    *
    * @return (new version, files folded); ((current, 0)) when fewer than
    *         two small files exist — nothing to fold, nothing published
    */
  def optimizeVersioned(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20): (Long, Long) = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (v0, m0) = resolveHead(spark, fs, path)
    refuseColMap(m0.colmap, path, "optimizeVersioned")
    val root = rootPath(fs, hp)
    val sized = m0.entries.map { e =>
      (e, fs.getFileStatus(new org.apache.hadoop.fs.Path(resolveRef(root, e._1))).getLen)
    }
    val small = sized.filter(_._2 < targetFileBytes / 2)
    if (small.size <= 1) return (v0, 0L)
    val smallBytes = small.map(_._2).sum
    val nOut = math.max(1L,
      (smallBytes + targetFileBytes - 1) / targetFileBytes).toInt
    // reading THROUGH any live deletion vectors makes the fold double as
    // a purge for the folded files: tombstoned rows drop from the
    // rewrite, and the files' dv coverage drops with the remove
    val (_, folded) = writeClaimedDir(spark, fs, path,
      readFilesWithDv(spark, fs, path, m0,
        small.map(e => resolveRef(root, e._1._1)))
        .coalesce(nOut)) // NARROW: compaction moves bytes, never an exchange
    // disjoint-set commit: maintenance must not starve under a steady
    // append stream — concurrent appends rebase this fold behind them
    val pub = commit(spark, fs, path, m0, "optimize", add = folded,
      remove = small.map(_._1._1))
    (pub.version, small.size.toLong)
  }

  /** AUTO-COMPACTION policy — the reference's "automatic maintenance"
    * posture (README_DBT.md:32,102-103) made a TABLE property instead of
    * an external scheduler: once set, every [[appendVersioned]] commit
    * checks the live small-file count afterwards and, when it crosses
    * `smallFileLimit`, folds the accreted tail with [[optimizeVersioned]]
    * in a separate maintenance commit (op = "optimize", so change-feed
    * readers still see it as an invisible reorg and incremental views
    * are undisturbed). The count early-exits at the limit, so a steady
    * append stream pays O(limit) driver-side file stats per commit; the
    * fold itself costs ∝ small-file bytes (optimizeVersioned's
    * contract). Under a steady stream the live file count is therefore
    * bounded by ~(smallFileLimit + compact-file count) instead of
    * growing one file per batch forever. A concurrent appender losing
    * the maintenance race simply rebases (disjoint-set commits); the
    * policy is re-checked on its own next append.
    *
    * Setting or clearing the policy is an `alter` commit (metadata only,
    * no Spark job; a plain table is versioned first), so a commit sees
    * the policy of the version it published over, and time travel and
    * restore see it per version.
    */
  def setAutoOptimize(spark: SparkSession, path: String,
      smallFileLimit: Int = 16, targetFileBytes: Long = 128L << 20): Unit = {
    require(smallFileLimit >= 2,
      s"smallFileLimit must be >= 2, got $smallFileLimit")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(versionsDir(path))) bootstrapRootVersion(spark, fs, path)
    alterProps(spark, path)(
      _.copy(autoOptimize = Some((smallFileLimit, targetFileBytes))))
    ()
  }

  def clearAutoOptimize(spark: SparkSession, path: String): Unit = {
    alterProps(spark, path)(_.copy(autoOptimize = None))
    ()
  }

  /** The head's (smallFileLimit, targetFileBytes) policy, if set. */
  private[graft] def autoOptimizePolicy(spark: SparkSession,
      path: String): Option[(Int, Long)] =
    headProps(spark, path).autoOptimize

  /** Post-commit policy check over the manifest the commit just published
    * (`head`), under the policy that manifest carries: count live files
    * under target/2, stopping
    * as soon as the limit is reached (an append-heavy table stats at most
    * `limit` files before deciding), and fold when at/over it. A file
    * vacuumed between the manifest read and the stat is simply skipped.
    * At warehouse scale the byte sizes would ride in the manifest itself;
    * the trigger rule and the bound are the same either way.
    */
  private def maybeAutoOptimize(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      head: VersionManifest): Unit = {
    // COLUMN-MAPPED tables skip auto-compaction SILENTLY rather than let
    // optimizeVersioned's refusal fail a commit that already published.
    // The policy is file-size-based and resumes the moment the map is
    // materialized away.
    if (head.colmap.nonEmpty) return
    head.props.autoOptimize.foreach { case (limit, target) =>
      val root = rootPath(fs, new org.apache.hadoop.fs.Path(path))
      var small = 0
      val it = head.entries.iterator
      while (small < limit && it.hasNext) {
        val e = it.next()
        val len =
          try fs.getFileStatus(
            new org.apache.hadoop.fs.Path(resolveRef(root, e._1))).getLen
          catch { case _: java.io.FileNotFoundException => Long.MaxValue }
        if (len < target / 2) small += 1
      }
      if (small >= limit) { optimizeVersioned(spark, path, target); () }
    }
  }

  /** RE-RANGE maintenance — sort-order OPTIMIZE, the single-column
    * sibling of [[zorderVersioned]], published as a new version (shared
    * files are immutable; a plain table is versioned first, its files
    * becoming version 1 by reference). Appended batches each span the
    * whole key range, so probe/range pruning on `c` degrades as a table
    * accretes ([[optimizeVersioned]] bin-packs but never re-sorts).
    * Reads stay correct throughout — pruning quality, not correctness, is
    * what decays. This rewrites the CURRENT file set range-clustered on
    * `c` (one range exchange, ~targetFileRows rows per file) and publishes
    * it as a full checkpoint manifest — a full manifest, not a delta,
    * because the commit replaces every reference anyway (a delta would be
    * checkpoint-sized). Old versions keep their file lists and stay time-travelable;
    * [[vacuum]] later reclaims the superseded originals; the `_graft_stats`
    * manifest gains rows for the new files so probe pruning is restored
    * immediately. Row counts come from manifest n_rows — no counting scan.
    *
    * Cost is ∝ CURRENT table bytes (every live row is rewritten once) —
    * run it as periodic housekeeping after enough appends have degraded
    * pruning, exactly like Delta's OPTIMIZE ZORDER.
    *
    * @return (published version, data files after the rewrite)
    */
  def rerangeVersioned(spark: SparkSession, path: String, c: String,
      targetFileRows: Long): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    require(targetFileRows > 0, "targetFileRows must be positive")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(versionsDir(path))) bootstrapRootVersion(spark, fs, path)
    val (v0, m0) = resolveHead(spark, fs, path)
    refuseColMap(m0.colmap, path, "rerangeVersioned")
    if (m0.entries.isEmpty) return (v0, 0L)
    val nRows = m0.entries.map(_._2).sum
    val nOut = math.max(1L, (nRows + targetFileRows - 1) / targetFileRows)
    val (_, rewritten) = writeClaimedDir(spark, fs, path,
      readManifestFiles(spark, fs, path, m0)
        .repartitionByRange(nOut.toInt, col(c)))
    // checkpoint-form commit with disjoint-set rebase: a concurrent
    // append's files ride into the new manifest un-reorganized (row-
    // correct; the next pass organizes them)
    val pub = commit(spark, fs, path, m0, "rerange", add = rewritten,
      remove = m0.entries.map(_._1), full = true)
    trackStats(spark, fs, path, Seq(c))
    (pub.version, rewritten.size.toLong)
  }

  /** The re-range/z-order contract: the clustered columns end up tracked
    * by `_graft_stats`. The commit's upkeep already covered the rewrite
    * when the manifest tracks them; a manifest not yet tracking them (or
    * absent) rebuilds in full — the same cost class as the rewrite.
    */
  private def trackStats(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      cols: Seq[String]): Unit = {
    val tracked = StatsManifest.trackedAt(fs, path)
    if (!cols.forall(tracked.contains))
      writeStats(spark, path, (tracked ++ cols).distinct)
    ()
  }

  /** The table's HEAD version: the `_graft_latest` pointer, else the newest
    * manifest (the pointer is written after its manifest, so it may lag a
    * publish or be missing mid-swap); refuses a table with neither. Every
    * operation decides its head here; a commit over a lagging head
    * rebases in [[commit]], which lists the manifests.
    */
  private def headVersion(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Long =
    readVersionPointer(fs, path)
      .orElse(manifestVersions(fs, path).lastOption)
      .getOrElse(throw new IllegalArgumentException(s"no versions under $path"))

  /** [[headVersion]] with its resolved manifest — what an operation
    * resolves once and hands to its guards, reads and upkeep.
    */
  private def resolveHead(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      path: String): (Long, VersionManifest) = {
    val v = headVersion(fs, path)
    (v, readVersionManifest(spark, fs, path, v).getOrElse(
      sys.error(s"version $v has no manifest under $path")))
  }

  /** Version `version`'s manifest, or the head's when None; refuses a
    * version that has none.
    */
  private def manifestAt(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      version: Option[Long]): VersionManifest =
    version.fold(resolveHead(spark, fs, path)._2) { v =>
      readVersionManifest(spark, fs, path, v).getOrElse(
        throw new IllegalArgumentException(
          s"version $v does not exist under $path (have: " +
            s"${manifestVersions(fs, path).mkString(",")})"))
    }

  private def readVersionPointer(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[Long] = {
    val ptr = new org.apache.hadoop.fs.Path(path, "_graft_latest")
    if (!fs.exists(ptr)) None
    else
      // the pointer is a HINT, not the truth (manifests are authoritative
      // and headVersion falls back to max(manifest)): a read that races
      // a concurrent swap (local-FS ChecksumFs renames data+crc as two
      // ops) degrades to the fallback instead of failing the caller
      try {
        val in = fs.open(ptr)
        val s = try scala.io.Source.fromInputStream(in).mkString.trim
                finally in.close()
        Some(s.toLong)
      } catch {
        case _: java.io.IOException | _: NumberFormatException => None
      }
  }

  /** THE COMMIT: every commit over an existing version publishes here, in
    * load-bearing order — the manifest (tmp-write + rename with a
    * rename-to-existing guard), the `_graft_latest` pointer, and for a
    * commit that adds files the skipping-index upkeep over the manifest
    * it published ([[keepStatsLive]], [[refreshBloomIndexes]]).
    *
    * The change was computed against base `m0`. When concurrent commits
    * win the version number first, the winner chain `m0+1..head` is
    * inspected, each winner's change being its file set against its
    * predecessor's (a delta's add/remove; a checkpoint — an append past
    * [[MaxChainDepth]], zorder, rerange — lists the whole table, so only
    * the diff tells), and the commit REBASES — republishes the same change
    * against the new head; its data files, already on disk, are never
    * rewritten — unless a winner conflicts with what the commit READ:
    *
    *   - NOTHING (append, stream adoption, WAP publish, evolve-append, and
    *     the `replace` commits snapshot and restore): any winner — the
    *     commit's rows do not depend on the base (Delta's blind append);
    *   - the files it REMOVES or TOMBSTONES (`remove`, `readSet`: delete,
    *     DV delete, purge, optimize, zorder, rerange): refuses a winner
    *     that removed one of them, tombstoned a file it removes, or
    *     replaced the table (snapshot or restore) — Delta's
    *     WriteSerializable disjoint-set rule. This is what lets
    *     maintenance and takedown deletes land under a steady append
    *     stream instead of starving;
    *   - the WHOLE TABLE (`readAll`: merge — which serves the gold fold —
    *     and materializeMapping): rebases only over winners that changed
    *     no data file, deletion vector or column mapping (alter commits).
    *     A merge's match/insert split was computed against the base's
    *     whole key set, so even a file-disjoint append can invalidate it
    *     (an appended row carrying a source key should have been an
    *     UPDATE) — Delta's ConcurrentAppendException line.
    *
    * Every commit refuses a winner that added a file it also adds (two
    * adoptions of one stream file), and one adding or removing files
    * refuses a winner that changed the schema it read unless to the one
    * it publishes. A metadata commit refuses a winner that changed what it
    * rewrites: an ALTER (`props`: the whole new property set, no file
    * change; it keeps the schema of the base it lands on) one that changed
    * the properties or column mapping, a RENAME or DROP (`colmap`) one
    * that changed the properties, mapping or schema log, an EVOLUTION
    * (`schemaLog`: the whole new log) one that changed the log or mapping.
    *
    * Semantics note: rows APPENDED by a winner that would have matched a
    * rebased delete's predicate are NOT deleted — the delete applies to
    * the data it read. [[deleteWhere]]'s `strict` flag restores Delta's
    * guarantee by re-checking winner-added files. A reorg rebased over an
    * append leaves the appended files unorganized but carried.
    *
    * TABLE PROPERTIES follow [[enforceNewProps]]'s rule: the caller gated
    * its batch against `m0.props`, so a rebase onto a head whose
    * properties gained a constraint or spec enforces it on `add`; an
    * alter enforces its new properties on the files the winners added.
    * And no rebase publishes a schema log together with CHECK
    * constraints, generated columns or deletion vectors: evolved reads
    * bypass the gates that enforce them and the tombstone anti-join.
    *
    * `schemaDdl` is the schema the commit publishes (None: the one of the
    * base it lands on). `full = true` publishes checkpoint-form manifests
    * (zorder/rerange replace ~every reference, so a delta would be
    * checkpoint-sized with none of the O(1)-resolution benefit).
    * `replace` publishes that manifest's files, deletion vectors, column
    * mapping and schema as the whole table, as a checkpoint under the
    * properties of the base it lands on (snapshot, restore, remap).
    *
    * @return the manifest published, as `m0` (or the head it rebased
    *         onto) plus this commit
    */
  private def commit(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, m0: VersionManifest,
      op: String, add: Seq[(String, Long)] = Nil, remove: Seq[String] = Nil,
      schemaDdl: Option[String] = None, full: Boolean = false,
      dvAdd: Seq[DvEntry] = Nil, readSet: Set[String] = Set.empty,
      readAll: Boolean = false, streamBatchId: Option[Long] = None,
      props: Option[TableProps] = None, colmap: Seq[(String, String)] = Nil,
      schemaLog: Option[Seq[SchemaVersion]] = None,
      replace: Option[VersionManifest] = None): VersionManifest = {
    val adds = replace.fold(add)(_.entries)
    val ourAdd = adds.map(_._1).toSet
    val ourRemove = remove.toSet
    val readsFiles = ourRemove.nonEmpty || readSet.nonEmpty || readAll
    lazy val had = m0.entries.map(_._1).toSet
    var base = m0
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= MaxCommitRetries,
        s"$op: lost the manifest race under $path $MaxCommitRetries " +
          "times (livelock? raise MaxCommitRetries)")
      val next = base.version + 1
      def lost(why: String): String =
        s"$op($path): version $next already published — concurrent " +
          s"commit $why; recompute against the new state"
      val applied = replace match {
        case Some(r) => r.copy(version = next, streamBatchId = streamBatchId,
          props = base.props)
        case None => applyCommit(base, next, schemaDdl.getOrElse(base.schemaDdl),
          add, remove, dvAdd, colmap, streamBatchId, props, schemaLog)
      }
      val pub =
        if (full || replace.isDefined || applied.depth > MaxChainDepth)
          applied.copy(depth = 0L)
        else applied
      if (base ne m0) {
        require(pub.schemaLog.isEmpty || !pub.props.gates && pub.dvs.isEmpty,
          s"$op($path): a concurrent commit made the table " +
            (if (schemaLog.isDefined) "constrained or deletion-vectored"
             else "schema-evolving") + " - a schema-evolving table carries " +
            "no CHECK constraints, GENERATED columns or deletion vectors")
        // an alter validated the rows of m0 itself; anyone else gated
        // its own batch against m0's properties
        enforceNewProps(spark, fs, path, pub,
          if (props.isDefined) pub.entries.map(_._1).filterNot(had)
          else adds.map(_._1), m0.props, s"$op($path)")
      }
      val won =
        try {
          if (pub.depth == 0L) writeVersionManifest(fs, path, pub, Some(op))
          else writeVersionDelta(fs, path, base, pub, add, remove, dvAdd,
            colmap, props, schemaLog, op)
          true
        } catch {
          case _: IllegalArgumentException
              if fs.exists(versionManifestFile(path, next)) => false
        }
      if (won) {
        writeVersionPointer(spark, fs, path, next)
        // a column-mapped version's physical names are not what the
        // indexes key (they refuse mapped tables)
        if (adds.nonEmpty && pub.colmap.isEmpty) {
          keepStatsLive(spark, fs, path, pub)
          refreshBloomIndexes(spark, fs, path, pub)
        }
        return pub
      }
      (next to manifestVersions(fs, path).last).foreach { w =>
        val raw = readRawManifest(spark, fs, path, w).getOrElse(
          sys.error(s"version $w vanished under $path mid-rebase"))
        require(!readsFiles || !raw.op.exists(Set("snapshot", "restore")),
          lost(s"$w replaced the table (${raw.op.get})"))
        val cur = resolveRaw(raw, b =>
          if (b == base.version) base
          else readVersionManifest(spark, fs, path, b).getOrElse(
            sys.error(s"version $b vanished under $path mid-rebase")))
        val baseFiles = base.entries.map(_._1).toSet
        val curFiles = cur.entries.map(_._1).toSet
        val removed = baseFiles -- curFiles
        require(props.isDefined || replace.isDefined ||
            cur.schemaDdl == m0.schemaDdl || schemaDdl.contains(cur.schemaDdl),
          lost(s"$w changed the table schema"))
        val meta = props.isDefined || colmap.nonEmpty
        require((!meta && schemaLog.isEmpty || cur.colmap == m0.colmap) &&
            (!meta || cur.props == m0.props) &&
            (colmap.isEmpty && schemaLog.isEmpty || cur.schemaLog == m0.schemaLog),
          lost(s"$w changed the table properties, schema log or column " +
            "mapping"))
        require(!readAll || (curFiles == baseFiles && cur.dvs == base.dvs &&
            cur.colmap == base.colmap),
          lost(s"$w changed the data this commit read"))
        val dup = (curFiles -- baseFiles).intersect(ourAdd)
        require(dup.isEmpty,
          lost(s"$w added file(s) this commit also adds " +
            s"(${dup.take(3).mkString(", ")})"))
        val overlap = removed.intersect(ourRemove)
        require(overlap.isEmpty,
          lost(s"$w removed file(s) this commit also rewrites " +
            s"(${overlap.take(3).mkString(", ")})"))
        // deletion-vector disjointness, both directions. A winner that
        // REWROTE a file we tombstoned would resurrect our deleted rows
        // (positions don't survive a rewrite); a winner that TOMBSTONED a
        // file we are removing wrote positions into a file our rewrite is
        // about to retire — its deletes would silently evaporate.
        val dvHit = removed.intersect(readSet)
        require(dvHit.isEmpty,
          lost(s"$w rewrote file(s) this commit tombstones " +
            s"(${dvHit.take(3).mkString(", ")})"))
        val dvLoss = cur.dvs.filterNot(d => base.dvs.exists(_.dv == d.dv))
          .flatMap(_.files).toSet.intersect(ourRemove)
        require(dvLoss.isEmpty,
          lost(s"$w added deletion vectors on file(s) this commit " +
            s"rewrites (${dvLoss.take(3).mkString(", ")})"))
        base = cur
      }
    }
    sys.error("unreachable")
  }

  private def writeVersionPointer(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, v: Long): Unit = {
    // MONOTONIC advance: with concurrent appends the loser republishes at
    // a higher number after the winner — a stale writer must never swing
    // the pointer backwards over a commit it never saw. (Check-then-swap
    // has a residual window; a lagging pointer is self-healing — readers
    // fall back to max(manifest) and the next commit re-advances it.)
    if (readVersionPointer(fs, path).exists(_ >= v)) return
    // tmp name is PER-WRITER unique: a shared tmp path under concurrent
    // commits lets writer B overwrite the tmp writer A is mid-renaming —
    // the crc/data tear the concurrent-append spec caught
    val tmp = new org.apache.hadoop.fs.Path(path,
      s"._graft_latest.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val ptr = new org.apache.hadoop.fs.Path(path, "_graft_latest")
    val out = fs.create(tmp, true)
    out.write(v.toString.getBytes("UTF-8"))
    out.close()
    // atomic replace: FileContext.rename(OVERWRITE) swaps the pointer in
    // one operation, so a concurrent reader never observes a missing
    // pointer (a delete-then-rename window would throw transiently —
    // readers also fall back to max(listVersions) as a belt-and-braces)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      ptr.toUri, spark.sparkContext.hadoopConfiguration)
    var attempts = 0
    var swapped = false
    while (!swapped)
      try {
        fc.rename(tmp, ptr, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        swapped = true
      } catch {
        // the local FS overwrites by delete-then-rename, and a racing
        // writer's swap can land in between: retry unless that writer
        // already advanced the pointer to v or past it
        case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
          attempts += 1
          if (attempts > MaxCommitRetries) throw e
          if (readVersionPointer(fs, path).exists(_ >= v)) {
            fs.delete(tmp, false)
            swapped = true
          }
      }
  }

  // ---------- version-manifest plumbing ----------
  //
  // Two manifest shapes, exactly Delta's log-vs-checkpoint split:
  //   FULL  {"version","schema","depth":0,"files":[{path,n_rows}...]}
  //   DELTA {"version","schema","depth","base","add":[...],"remove":[...]}
  // A delta records only what the commit CHANGED, so an O(batch) append
  // to an 800k-file table writes a few KB of metadata, not an ~80 MB
  // file-list rewrite. Readers resolve the chain delta→…→full; chains are
  // DEPTH-CAPPED (a commit that would exceed MaxChainDepth writes a full
  // manifest instead — the self-checkpointing that bounds resolution to
  // O(MaxChainDepth) metadata reads). vacuum materializes any retained
  // manifest whose chain passes through a dropped version before dropping
  // it, so resolution never dangles. Either shape may carry "props", the
  // table's properties, and "schemaLog", its schema-evolution log (a delta
  // without one inherits its base's).

  /** One DELETION-VECTOR sidecar reference in a manifest: `dv` is the
    * tombstone parquet's table-relative path (rows `(file string, pos
    * long)` — data-file-relative-path + row position), `nDel` the
    * tombstone count WRITTEN AT COMMIT (audit metadata; coverage trimming
    * never recomputes it), and `files` the data files the tombstones
    * target. Reads apply the UNION of all live entries' tombstones, so a
    * second dvDelete never rewrites an earlier entry's file. An entry's
    * coverage shrinks as later commits remove/rewrite its target files
    * (the rewrite drops the tombstoned rows physically), and the entry
    * drops out of the manifest once nothing it covers is live.
    */
  private[sources] case class DvEntry(dv: String, nDel: Long,
      files: Seq[String])

  /** `colmap` — the COLUMN MAPPING (Delta's column-mapping analog): ordered
    * (logical name, physical name) pairs covering the version's whole
    * logical column set. `schemaDdl` always describes the PHYSICAL file
    * schema (what a parquet scan of the entries resolves by name), so
    * every internal scan path stays correct unchanged; the logical
    * projection is applied once at the read surface. Empty = identity
    * (no rename/drop ever committed) — the legacy form. `depth` is the
    * delta-chain depth on disk (0 for a checkpoint), `streamBatchId`
    * this version's own stamp, `props` the table's properties as of
    * this version and `schemaLog` its schema-evolution log (empty: the
    * table does not evolve; else `schemaDdl` is the last entry's fields).
    */
  private case class VersionManifest(version: Long, schemaDdl: String,
      entries: Seq[(String, Long)], dvs: Seq[DvEntry] = Nil,
      colmap: Seq[(String, String)] = Nil, depth: Long = 0L,
      streamBatchId: Option[Long] = None, props: TableProps = TableProps(),
      schemaLog: Seq[SchemaVersion] = Nil)

  /** One entry of a schema-evolving table's log: the (name, catalog type)
    * fields of schema version `version` and its from → to renames
    * relative to the previous entry (see [[writeEvolving]]).
    */
  private case class SchemaVersion(version: Long,
      fields: Seq[(String, String)], renames: Seq[(String, String)])

  /** A table's PROPERTIES — the metadata entry of Delta's log: CHECK
    * constraints and GENERATED column specs ((name, sql), name-ascending)
    * and the auto-optimize policy (smallFileLimit, targetFileBytes). A
    * change to them is a commit (op "alter") like any other.
    */
  private case class TableProps(checks: Seq[(String, String)] = Nil,
      generated: Seq[(String, String)] = Nil,
      autoOptimize: Option[(Int, Long)] = None) {
    def isEmpty: Boolean = this == TableProps()
    /** Whether a batch entering the table is gated (read) before it lands. */
    def gates: Boolean = checks.nonEmpty || generated.nonEmpty
  }

  /** Raw on-disk form: full (files defined) or delta (base defined).
    * `ts` is the commit wall-clock (epoch millis), stamped at publish and
    * PRESERVED by vacuum's materialization rewrite; None only for
    * manifests written before timestamps existed. `props` and
    * `schemaLog` are None when the manifest carries none: a delta then
    * inherits its base's, a checkpoint has none.
    */
  private case class RawManifest(version: Long, schemaDdl: String,
      depth: Long, files: Option[Seq[(String, Long)]], base: Option[Long],
      add: Seq[(String, Long)], remove: Seq[String], ts: Option[Long],
      streamBatchId: Option[Long], op: Option[String],
      dv: Seq[DvEntry] = Nil, dvAdd: Seq[DvEntry] = Nil,
      colmap: Seq[(String, String)] = Nil, props: Option[TableProps] = None,
      schemaLog: Option[Seq[SchemaVersion]] = None)

  private val MaxChainDepth = 32L

  /** Bound on optimistic-concurrency retries in [[commit]] —
    * losing 20 straight manifest races means pathological contention, not
    * bad luck; fail loudly rather than spin.
    */
  private val MaxCommitRetries = 20

  /** Claim a fresh `v=N` data dir and write `df` into it; every commit's
    * data write goes through here. The dir NUMBER is a NAMESPACE, not the
    * commit number (a rebased commit may publish manifest v=7 over files
    * living in dir v=5 — manifests reference files by path, so nothing
    * requires the two to agree, and vacuum's orphan reclaim is
    * reference+grace-based). The claim is a create-no-overwrite marker
    * file, NOT the data write itself: DataFrameWriter's ErrorIfExists
    * check runs at job submit, so two simultaneous writers could both
    * pass it and interleave their task files in one dir — the marker's
    * exclusive create closes that window to a single metadata op (atomic
    * on HDFS/object stores; microseconds on local FS). A loser retries
    * with a fresh number; the frame is written exactly once, into a dir
    * only this writer owns.
    *
    * @return (claimed dir number, the written files' manifest entries)
    */
  private def writeClaimedDir(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      df: DataFrame): (Long, Seq[(String, Long)]) = {
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= MaxCommitRetries,
        s"could not claim a data dir under $path after " +
          s"$MaxCommitRetries attempts")
      val d = nextVersion(fs, path)
      val dirPath = new org.apache.hadoop.fs.Path(path, s"v=$d")
      val claimed =
        try {
          fs.create(new org.apache.hadoop.fs.Path(dirPath, "._graft_claim"),
            false).close()
          true
        } catch { case _: java.io.IOException => false }
      if (claimed) {
        // Append, not ErrorIfExists: the dir exists now (it holds our
        // claim marker) and is exclusively ours
        df.write.mode(SaveMode.Append).parquet(dirPath.toString)
        return (d, fileEntries(spark, fs, path, listDataFiles(fs, dirPath)))
      }
    }
    sys.error("unreachable")
  }

  private def versionsDir(path: String) =
    new org.apache.hadoop.fs.Path(path, "_graft_versions")

  private def versionManifestFile(path: String, v: Long) =
    new org.apache.hadoop.fs.Path(path, s"_graft_versions/v=$v.json")

  /** The table root as a scheme-less absolute path — the base every
    * manifest-relative file reference resolves against (manifests store
    * RELATIVE paths so a table survives relocation).
    */
  private def rootPath(fs: org.apache.hadoop.fs.FileSystem,
      hp: org.apache.hadoop.fs.Path): String =
    fs.makeQualified(hp).toUri.getPath

  /** Resolve a manifest-relative reference against the table root,
    * NORMALIZING `..` traversal (a shallow clone's external references
    * into its source): readers tolerate `root/../src/file`, but the
    * string-comparison sites (delete/merge matched-file sets, census
    * diffs) compare against Spark's NORMALIZED input_file_name output
    * and must see the canonical form. Plain entries resolve by
    * concatenation, exactly as before.
    */
  private def resolveRef(root: String, rel: String): String =
    if (rel.contains(".."))
      java.nio.file.Paths.get(root, rel).normalize().toString
    else root + "/" + rel

  /** An entry that points OUTSIDE the table root — a shallow clone's
    * reference into its source. Such files are never physically deleted
    * through THIS table (Delta's clone rule: vacuum reclaims only files
    * the table owns); dropping the reference from the manifests is the
    * whole cleanup.
    */
  private def isExternalRef(rel: String): Boolean =
    rel.startsWith("../") || rel.contains("/../")

  /** The published version numbers, ascending; empty for a table that
    * has no `_graft_versions` dir — the manifests are the only versions.
    */
  private def manifestVersions(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Seq[Long] =
    (try fs.listStatus(versionsDir(path)).toSeq
     catch { case _: java.io.FileNotFoundException => Nil })
      .map(_.getPath.getName)
      .filter(n => n.startsWith("v=") && n.endsWith(".json"))
      .map(_.stripPrefix("v=").stripSuffix(".json").toLong).sorted

  /** Next unused data-dir number: above every manifest AND every v= dir,
    * so a crash-orphaned dir (data written, manifest never published) is
    * skipped over, never collided with.
    */
  private def nextVersion(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Long = {
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
    ((manifestVersions(fs, path) ++ dirs) :+ 0L).max + 1
  }

  /** {relative path, footer row count} for a batch of just-written files —
    * per-file n_rows comes from parquet FOOTERS (metadata I/O, no scan).
    */
  private def fileEntries(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      files: Seq[String]): Seq[(String, Long)] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val root = rootPath(fs, new org.apache.hadoop.fs.Path(path))
    files.map { abs =>
      val n = readFooter(conf, new org.apache.hadoop.fs.Path(abs))
        .getBlocks.asScala.map(_.getRowCount).sum
      (abs.stripPrefix(root + "/"), n)
    }
  }

  /** A parquet file's footer, read the way Spark's own footer reader does
    * (options and one stream, about 1 ms a file on local disk);
    * `ParquetFileReader.open` also builds a whole reader and costs ten
    * times that.
    */
  private[sources] def readFooter(conf: org.apache.hadoop.conf.Configuration,
      p: org.apache.hadoop.fs.Path): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    val s = in.newStream()
    try org.apache.parquet.hadoop.ParquetFileReader.readFooter(in,
      org.apache.parquet.HadoopReadOptions.builder(conf, p).build(), s)
    finally s.close()
  }

  /** `spark.read.parquet` over `path` (or over `files` under it, with
    * `path` as the partition base) with the schema Spark's inference would
    * settle on, read from that one footer on the driver: inference starts
    * a job to read it. The choice mirrors `ParquetUtils.inferSchema` with
    * `mergeSchema` off — the leaf files the file index lists, sorted by
    * path, then `_common_metadata`, `_metadata` or the first data file —
    * and the footer converts under the session's parquet confs as they
    * stand at the call. A streaming sink's dir (its file index is the sink
    * log, not a listing) and a missing or empty path keep Spark's own
    * inference, which reads the log or fails loudly.
    */
  private[graft] def readParquet(spark: SparkSession, path: String,
      files: Seq[String] = Nil): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.sparkContext.hadoopConfiguration
    val hp = new Path(path)
    val fs = hp.getFileSystem(conf)
    def listed(p: Path) =
      !org.apache.spark.sql.GraftSqlShims.hiddenFromFileIndex(p.getName)
    def leaves(p: Path): Seq[Path] = fs.listStatus(p).toSeq
      .filter(s => listed(s.getPath))
      .flatMap(s => if (s.isDirectory) leaves(s.getPath) else Seq(s.getPath))
    val qualified = qualifyForRead(fs, files)
    def read(r: org.apache.spark.sql.DataFrameReader) =
      if (files.isEmpty) r.parquet(path)
      else r.option("basePath", path).parquet(qualified: _*)
    val sorted = (
      if (files.nonEmpty) qualified.map(new Path(_)).filter(listed)
      else if (!fs.exists(hp) || fs.exists(new Path(hp, "_spark_metadata"))) Nil
      else leaves(hp)
    ).sortBy(_.toString)
    val (summaries, data) = sorted.partition(p =>
      p.getName == PARQUET_COMMON_METADATA_FILE || p.getName == PARQUET_METADATA_FILE)
    summaries.find(_.getName == PARQUET_COMMON_METADATA_FILE)
      .orElse(summaries.headOption).orElse(data.headOption)
      .fold(read(spark.read)) { p =>
        read(spark.read.schema(ParquetFileFormat.readSchemaFromFooter(
          new org.apache.parquet.hadoop.Footer(p, readFooter(conf, p)),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))))
      }
  }

  private def entriesJson(entries: Seq[(String, Long)]): String =
    entries.map { case (rel, n) =>
      s"""{"path":${jsonStr(rel)},"n_rows":$n}""" }.mkString("[", ",", "]")

  private def writeManifestFile(fs: org.apache.hadoop.fs.FileSystem,
      path: String, v: Long, body: String, replace: Boolean): Unit = {
    fs.mkdirs(versionsDir(path))
    // tmp name is PER-WRITER unique (same reason as the version pointer):
    // two writers racing to one version number with a SHARED tmp path let
    // writer B overwrite the tmp writer A is mid-renaming — a torn
    // data/crc pair that surfaces as a ChecksumException to READERS of
    // the version A published
    val tmp = new org.apache.hadoop.fs.Path(path,
      s"_graft_versions/.v=$v.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val dst = versionManifestFile(path, v)
    val out = fs.create(tmp, true)
    out.write(body.getBytes("UTF-8"))
    out.close()
    if (replace) {
      // materialization rewrite (vacuum): atomic swap over the existing file
      org.apache.hadoop.fs.FileContext.getFileContext(
          dst.toUri, fs.getConf)
        .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } else {
      // concurrent-publish guard: two writers racing to one version
      // number must fail loudly, not clobber
      def lost(): Nothing = {
        fs.delete(tmp, false)
        throw new IllegalArgumentException(
          s"version $v already published under $path (concurrent writer?)")
      }
      if (fs.exists(dst)) lost()
      if (!fs.rename(tmp, dst)) lost()
    }
  }

  private def dvJson(dvs: Seq[DvEntry]): String =
    dvs.map(d =>
      s"""{"path":${jsonStr(d.dv)},"n_del":${d.nDel},""" +
        s""""files":${d.files.map(jsonStr).mkString("[", ",", "]")}}""")
      .mkString("[", ",", "]")

  /** `[{"a":x,"b":y},…]` — the JSON shape of every (string, string) list
    * a manifest carries.
    */
  private def pairsJson(kv: Seq[(String, String)], a: String,
      b: String): String =
    kv.map { case (x, y) => s"""{"$a":${jsonStr(x)},"$b":${jsonStr(y)}}""" }
      .mkString("[", ",", "]")

  /** `"props":{…},` — one object holding only the non-empty properties. */
  private def propsField(p: TableProps): String = {
    def named(key: String, es: Seq[(String, String)]) =
      if (es.isEmpty) None
      else Some(s""""$key":""" + pairsJson(es, "name", "expr"))
    val fields = named("checks", p.checks) ++ named("generated", p.generated) ++
      p.autoOptimize.map { case (limit, target) =>
        s""""autoOptimize":{"smallFileLimit":$limit,"targetFileBytes":$target}""" }
    s""""props":${fields.mkString("{", ",", "}")},"""
  }

  /** `"schemaLog":[…],` — one object per schema version. */
  private def schemaLogField(log: Seq[SchemaVersion]): String =
    s""""schemaLog":""" + log.map(s =>
      s"""{"version":${s.version},"fields":${pairsJson(s.fields, "name", "type")},""" +
        s""""renames":${pairsJson(s.renames, "from", "to")}}""")
      .mkString("[", ",", "]") + ","

  /** Publish `m` as a FULL (checkpoint) manifest: the complete file list
    * and every metadata field of the version, so a checkpoint never
    * inherits. `ts` defaults to now; vacuum's materialization (`replace`)
    * passes the ORIGINAL commit time through so `asOf` resolution survives
    * checkpointing.
    */
  private def writeVersionManifest(fs: org.apache.hadoop.fs.FileSystem,
      path: String, m: VersionManifest, op: Option[String],
      replace: Boolean = false, ts: Option[Long] = None): Unit = {
    // a fresh commit stamps now; a materialization rewrite (replace)
    // carries the original ts through — or keeps having NONE for
    // pre-timestamp manifests (stamping those "now" would teleport an old
    // version to the present under asOf resolution)
    val tsField = (if (replace) ts
                   else ts.orElse(Some(System.currentTimeMillis())))
      .map(t => s""""ts":$t,""").getOrElse("")
    val bidField = m.streamBatchId
      .map(b => s""""streamBatchId":$b,""").getOrElse("")
    val opField = op.map(o => s""""op":${jsonStr(o)},""").getOrElse("")
    val dvField = if (m.dvs.isEmpty) "" else s""""dv":${dvJson(m.dvs)},"""
    val cmField = if (m.colmap.isEmpty) ""
      else s""""colmap":${pairsJson(m.colmap, "logical", "physical")},"""
    val propsJson = if (m.props.isEmpty) "" else propsField(m.props)
    val logJson = if (m.schemaLog.isEmpty) "" else schemaLogField(m.schemaLog)
    writeManifestFile(fs, path, m.version,
      s"""{"version":${m.version},$tsField$bidField$opField$dvField$cmField""" +
        s"""$propsJson$logJson"schema":${jsonStr(m.schemaDdl)},""" +
        s""""depth":0,"files":${entriesJson(m.entries)}}""",
      replace)
  }

  /** Publish `pub`, `base` with one commit applied, as an O(changed-files)
    * DELTA manifest recording only that commit: `props` is its whole new
    * property set and `schemaLog` its whole new schema log (None:
    * unchanged, inherited).
    */
  private def writeVersionDelta(fs: org.apache.hadoop.fs.FileSystem,
      path: String, base: VersionManifest, pub: VersionManifest,
      add: Seq[(String, Long)], remove: Seq[String], dvAdd: Seq[DvEntry],
      colmap: Seq[(String, String)], props: Option[TableProps],
      schemaLog: Option[Seq[SchemaVersion]], op: String): Unit = {
    val removeJson = remove.map(jsonStr).mkString("[", ",", "]")
    val bidField = pub.streamBatchId
      .map(b => s""""streamBatchId":$b,""").getOrElse("")
    val dvField = if (dvAdd.isEmpty) "" else s""""dvAdd":${dvJson(dvAdd)},"""
    val cmField = if (colmap.isEmpty) ""
      else s""""colmap":${pairsJson(colmap, "logical", "physical")},"""
    val propsJson = props.fold("")(propsField)
    val logJson = schemaLog.fold("")(schemaLogField)
    writeManifestFile(fs, path, pub.version,
      s"""{"version":${pub.version},"ts":${System.currentTimeMillis()},""" +
        s"""$bidField"op":${jsonStr(op)},$dvField$cmField$propsJson$logJson""" +
        s""""schema":${jsonStr(pub.schemaDdl)},""" +
        s""""depth":${pub.depth},"base":${base.version},""" +
        s""""add":${entriesJson(add)},"remove":$removeJson}""",
      replace = false)
  }

  /** `base` with one commit applied, as [[readVersionManifest]] resolves
    * a delta: `remove` leaves the file list and every dv entry's coverage,
    * `add` and `dvAdd` append, an empty `colmap` inherits the base's and
    * so do an absent `props` and `schemaLog`.
    */
  private def applyCommit(base: VersionManifest, v: Long, schemaDdl: String,
      add: Seq[(String, Long)], remove: Seq[String], dvAdd: Seq[DvEntry],
      colmap: Seq[(String, String)] = Nil,
      streamBatchId: Option[Long] = None,
      props: Option[TableProps] = None,
      schemaLog: Option[Seq[SchemaVersion]] = None): VersionManifest = {
    val rm = remove.toSet
    VersionManifest(v, schemaDdl, base.entries.filterNot(e => rm(e._1)) ++ add,
      applyDvDelta(base.dvs, rm, dvAdd),
      if (colmap.nonEmpty) colmap else base.colmap,
      depth = base.depth + 1, streamBatchId = streamBatchId,
      props = props.getOrElse(base.props),
      schemaLog = schemaLog.getOrElse(base.schemaLog))
  }

  /** Fold one commit's dv change into a base's live dv set: removing a
    * data file trims it from every entry's coverage (its rewrite dropped
    * the tombstoned rows physically, or its remover's rewrite refused to
    * race us — see commit's dv checks), entries left
    * covering nothing drop out, and the commit's own dvAdd appends.
    */
  private def applyDvDelta(baseDvs: Seq[DvEntry], removed: Set[String],
      dvAdd: Seq[DvEntry]): Seq[DvEntry] =
    baseDvs.map(d => d.copy(files = d.files.filterNot(removed)))
      .filter(_.files.nonEmpty) ++ dvAdd

  private def readRawManifest(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      v: Long): Option[RawManifest] = {
    val f = versionManifestFile(path, v)
    if (!fs.exists(f)) None
    else {
      // manifests are KB-sized single JSON objects: parse on the driver in
      // one stream read instead of launching a Spark job per manifest —
      // every commit reads its base and vacuum walks O(retained × chain)
      // manifests, so a per-read job would turn metadata housekeeping into
      // a job storm (jackson-databind ships with Spark core)
      val in = fs.open(f)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      type Node = com.fasterxml.jackson.databind.JsonNode
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
      def opt(name: String) = Option(n.get(name)).filterNot(_.isNull)
      def pairs(name: String): Seq[(String, Long)] =
        opt(name).fold(Seq.empty[(String, Long)])(a =>
          (0 until a.size).map(i =>
            (a.get(i).get("path").asText, a.get(i).get("n_rows").asLong)))
      def strPairs(o: Node, key: String, a: String, b: String) =
        Option(o.get(key)).fold(Seq.empty[(String, String)])(arr =>
          (0 until arr.size).map(i =>
            (arr.get(i).get(a).asText, arr.get(i).get(b).asText)))
      def dvEntries(name: String): Seq[DvEntry] =
        opt(name).fold(Seq.empty[DvEntry])(a =>
          (0 until a.size).map { i =>
            val e = a.get(i)
            val fl = e.get("files")
            DvEntry(e.get("path").asText, e.get("n_del").asLong,
              (0 until fl.size).map(fl.get(_).asText))
          })
      val props = opt("props").map { p =>
        TableProps(strPairs(p, "checks", "name", "expr"),
          strPairs(p, "generated", "name", "expr"),
          Option(p.get("autoOptimize")).map(a =>
            (a.get("smallFileLimit").asInt, a.get("targetFileBytes").asLong)))
      }
      val schemaLog = opt("schemaLog").map(a => (0 until a.size).map { i =>
        val s = a.get(i)
        SchemaVersion(s.get("version").asLong, strPairs(s, "fields", "name", "type"),
          strPairs(s, "renames", "from", "to"))
      })
      Some(RawManifest(n.get("version").asLong, n.get("schema").asText,
        opt("depth").fold(0L)(_.asLong),
        opt("files").map(_ => pairs("files")),
        opt("base").map(_.asLong),
        pairs("add"),
        opt("remove").fold(Seq.empty[String])(a =>
          (0 until a.size).map(a.get(_).asText)),
        opt("ts").map(_.asLong),
        opt("streamBatchId").map(_.asLong),
        opt("op").map(_.asText),
        dv = dvEntries("dv"), dvAdd = dvEntries("dvAdd"),
        colmap = strPairs(n, "colmap", "logical", "physical"), props = props,
        schemaLog = schemaLog))
    }
  }

  /** Resolve a version's COMPLETE manifest, walking the delta chain back
    * to its checkpoint. Bounded by [[MaxChainDepth]] metadata-sized reads.
    */
  private def readVersionManifest(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      v: Long): Option[VersionManifest] =
    readRawManifest(spark, fs, path, v).map(raw =>
      resolveRaw(raw, b => readVersionManifest(spark, fs, path, b).getOrElse(
        sys.error(s"version ${raw.version} under $path resolves through " +
          s"missing base $b - manifest chain broken"))))

  /** `raw` resolved: a checkpoint as it stands, a delta applied to its
    * base (`base(n)` resolves version n).
    */
  private def resolveRaw(raw: RawManifest,
      base: Long => VersionManifest): VersionManifest =
    raw.files match {
      case Some(entries) =>
        VersionManifest(raw.version, raw.schemaDdl, entries, raw.dv,
          raw.colmap, raw.depth, raw.streamBatchId,
          raw.props.getOrElse(TableProps()), raw.schemaLog.getOrElse(Nil))
      case None =>
        // a delta that carries no colmap INHERITS its base's: the mapping
        // covers the full column set whenever active, so "explicitly
        // empty" never occurs on deltas — only a full checkpoint
        // (materializeMapping) clears it. Inheritance means a delta
        // writer that forgot to thread the map cannot silently strip it.
        // `props` and `schemaLog` inherit only when ABSENT: an alter
        // commit writes its whole new property set, and an empty object
        // is a real value (the last constraint dropped), not "inherit".
        // The depth is the one on disk: a base vacuum materialized into a
        // checkpoint keeps its delta's recorded depth
        applyCommit(base(raw.base.get), raw.version, raw.schemaDdl, raw.add,
          raw.remove, raw.dvAdd, raw.colmap, raw.streamBatchId, raw.props,
          raw.schemaLog)
          .copy(depth = raw.depth)
    }

  /** Read a version's file set. Empty manifests reconstruct their schema
    * from the recorded DDL; an evolved version resolves through its own
    * schema log, returning the logical schema as of that version.
    */
  private def readManifestFiles(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      m: VersionManifest): DataFrame = {
    val root = rootPath(fs, new org.apache.hadoop.fs.Path(path))
    applyColMap(readFilesWithDv(spark, fs, path, m,
      m.entries.map(e => resolveRef(root, e._1))), m.colmap)
  }

  /** Project a physically-named scan to the version's LOGICAL column set —
    * the single point where a column mapping becomes visible. One
    * zero-cost alias projection (names only, Catalyst folds it into the
    * scan), applied per version so time travel across a rename returns
    * each version's own names.
    */
  private def applyColMap(df: DataFrame,
      colmap: Seq[(String, String)]): DataFrame =
    if (colmap.isEmpty) df
    else df.select(colmap.map { case (l, p) =>
      org.apache.spark.sql.functions.col(p).as(l) }: _*)

  /** The HEAD version's manifest ([[resolveHead]]); None when the table
    * is not versioned.
    */
  private def headManifest(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[VersionManifest] =
    if (!fs.exists(versionsDir(path))) None
    else Some(resolveHead(spark, fs, path)._2)

  /** Refusal for operations whose scans/rewrites/predicates would bypass
    * the logical-name projection (the [[refuseDvs]] discipline):
    * running them against physical names would either fail confusingly or
    * silently expose/persist the wrong column names. The escape hatch is
    * [[materializeMapping]] — rewrite once under logical names, then every
    * operation works again.
    */
  private def requireNoColMap(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      opName: String): Unit =
    refuseColMap(headManifest(spark, fs, path).map(_.colmap).getOrElse(Nil),
      path, opName)

  /** [[requireNoColMap]] against a head manifest already resolved. */
  private def refuseColMap(colmap: Seq[(String, String)], path: String,
      opName: String): Unit =
    require(colmap.isEmpty,
      s"$opName($path): table carries a column mapping (renamed/dropped " +
        "columns); this operation works on physical file columns and " +
        "would bypass the logical projection - materializeMapping first")

  /** Rename/drop refuse while column-keyed maintenance artifacts exist:
    * a skipping-stats manifest, bloom indexes, or CHECK constraints are
    * all written against the pre-rename names, and appendVersioned
    * auto-refreshes stats/bloom after every commit — a silently
    * stale-keyed artifact (or a guard throw inside the append's publish
    * loop) is exactly the failure mode this forbids. Drop them, rename,
    * rebuild under the new names.
    */
  private def requireNoMaintenanceArtifacts(
      fs: org.apache.hadoop.fs.FileSystem, path: String, props: TableProps,
      opName: String): Unit = {
    require(!fs.exists(new org.apache.hadoop.fs.Path(path, "_graft_stats")),
      s"$opName($path): a data-skipping stats manifest exists and is " +
        "keyed by the current column names - delete _graft_stats first " +
        "and rebuild it (writeStats) after")
    require(!fs.exists(new org.apache.hadoop.fs.Path(path, "_graft_bloom")),
      s"$opName($path): bloom indexes exist and are keyed by the current " +
        "column names - drop _graft_bloom first and rebuild after")
    require(props.checks.isEmpty,
      s"$opName($path): CHECK constraints reference the current column " +
        "names - drop them first and re-add against the new names")
    require(props.generated.isEmpty,
      s"$opName($path): GENERATED column specs reference the current " +
        "column names - drop them first and re-declare after")
  }

  /** Read a subset of a manifest's data files MERGE-ON-READ: files no dv
    * entry covers scan clean; covered files scan with `_metadata`
    * row-position columns and anti-join the union of live tombstones.
    * The split keeps the DV cost confined to the files that actually
    * carry deletes — on a 100 TB table with a handful of takedown
    * tombstones, every other file's scan is byte-identical to the
    * DV-free plan. The tombstone side rides a broadcast while the
    * manifest's total tombstone count (metadata — no data read) stays
    * under ~4M positions; past that it falls back to a shuffle
    * anti-join on (file, pos).
    */
  private def readFilesWithDv(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      m: VersionManifest, files: Seq[String]): DataFrame =
    if (m.dvs.isEmpty) readSomeFiles(spark, fs, files, m)
    else readFilesWithDvTagged(spark, fs, path, m, files)
      .drop(DvSrcFileCol, DvPosCol)

  /** [[readFilesWithDv]] with the surviving rows tagged by their source
    * data file (table-relative path, [[DvSrcFileCol]]) and row position
    * ([[DvPosCol]]) — both derived from `_metadata` AT SCAN, so unlike
    * `input_file_name()` they stay correct through the anti-join and any
    * downstream join.
    */
  private def readFilesWithDvTagged(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      m: VersionManifest, files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val root = rootPath(fs, new org.apache.hadoop.fs.Path(path))
    val covered: Set[String] =
      m.dvs.flatMap(_.files).map(f => resolveRef(root, f)).toSet
    val (dvd, clean) = files.partition(covered)
    def tagged(fl: Seq[String]) =
      if (fl.isEmpty)
        readSomeFiles(spark, fs, fl, m)
          .withColumn(DvSrcFileCol, lit(null).cast("string"))
          .withColumn(DvPosCol, lit(null).cast("bigint"))
      else
        readSomeFiles(spark, fs, fl, m)
          .withColumn(DvSrcFileCol,
            relDataPathCol(col("_metadata.file_path"), root))
          .withColumn(DvPosCol, col("_metadata.row_index"))
    if (dvd.isEmpty) return tagged(files)
    val tombRaw = readTombstones(spark, fs, m.dvs.map(d => resolveRef(root, d.dv)))
    val tomb =
      if (m.dvs.map(_.nDel).sum <= DvBroadcastPositions) broadcast(tombRaw)
      else tombRaw
    val scanned = tagged(dvd)
    val alive = scanned.join(tomb,
        scanned(DvSrcFileCol) === tomb("file") &&
          scanned(DvPosCol) === tomb("pos"),
        "left_anti")
    if (clean.isEmpty) alive else tagged(clean).unionByName(alive)
  }

  private val DvSrcFileCol = "_graft_src_file"
  private val DvPosCol = "_graft_src_pos"

  /** Deletion-vector sidecars (`sidecars`: absolute paths) under their
    * fixed schema — table-relative data file, row position — so a
    * tombstone read needs no footer-inference job.
    */
  private def readTombstones(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, sidecars: Seq[String]): DataFrame =
    spark.read.schema("file STRING, pos BIGINT")
      .parquet(qualifyForRead(fs, sidecars): _*)

  // 1M (file, pos) rows ≈ 60 MB serialized — the comfortable broadcast
  // ceiling; a bigger live tombstone set (the signal the table is overdue
  // for purgeDeletes) falls back to a shuffle anti-join on the covered
  // files only
  private val DvBroadcastPositions = 1L << 20

  /** Normalize an absolute file-path column (`input_file_name` /
    * `_metadata.file_path` form: scheme-qualified, percent-encoded) to
    * the TABLE-RELATIVE identity tombstones are keyed by — the Column
    * twin of the driver-side `URI.getPath.stripPrefix(root)`: `%XX`
    * escapes decode, a literal `+` stays a `+`.
    */
  private def relDataPathCol(c: org.apache.spark.sql.Column,
      root: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{regexp_replace, url_decode}
    regexp_replace(
      url_decode(regexp_replace(
        regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", ""),
        "\\+", "%2B")),
      "^" + java.util.regex.Pattern.quote(root + "/"), "")
  }

  /** Internal identity form of file paths is SCHEME-LESS (URI.getPath —
    * what input_file_name/stats manifests normalize to), but a path handed
    * to `spark.read` must carry its scheme/authority back: a scheme-less
    * path resolves against the DEFAULT filesystem, which is wrong whenever
    * the table lives elsewhere (s3a table under an hdfs defaultFS). The
    * table's own FileSystem re-qualifies; already-qualified paths pass
    * through unchanged.
    */
  private def qualifyForRead(fs: org.apache.hadoop.fs.FileSystem,
      files: Seq[String]): Seq[String] =
    files.toIndexedSeq.map(f =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(f)).toString)

  /** Read `files` through the manifest `m` that lists them. The manifest
    * DDL is the files' physical schema, so the scan needs no
    * footer-inference job (a column the DDL names but a file lacks reads
    * as NULL); a schema-evolving manifest reads through its own schema log
    * ([[evolvedRead]]), whose last entry that DDL describes.
    */
  private def readSomeFiles(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, files: Seq[String],
      m: VersionManifest): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    if (files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else if (m.schemaLog.nonEmpty) evolvedRead(spark, fs, files, m.schemaLog)
    else spark.read.schema(schema).parquet(qualifyForRead(fs, files): _*)
  }

  /** Version a plain table in place: the current data files become
    * version 1 by reference — a metadata-only commit, no data is moved or
    * rewritten.
    */
  private def bootstrapRootVersion(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    // hive-partitioned layouts are refused: version manifests read files
    // EXPLICITLY (no basePath — see readFileSubset), so partition-dir
    // columns would silently vanish from every versioned read and from
    // the delete rewrite. Partitioned tables delete per leaf dir.
    require(!fs.listStatus(hp).exists(s => s.isDirectory &&
        s.getPath.getName.contains("=") && !s.getPath.getName.startsWith("_")),
      s"$path is hive-partitioned; version/delete each leaf partition dir " +
        "instead (partition values live in the PATH and would be lost by " +
        "a file-reference read)")
    val files = listDataFiles(fs, hp)
    require(files.nonEmpty, s"no versions and no data files under $path")
    writeVersionManifest(fs, path, VersionManifest(1L,
      readParquet(spark, path).schema.toDDL, fileEntries(spark, fs, path, files)),
      op = Some("bootstrap"))
    writeVersionPointer(spark, fs, path, 1L)
  }

  /** Whether an unversioned dir holds table data: a data file outside
    * every commit's claimed `v=N` dir (one carrying a `._graft_claim`
    * marker is a crashed commit's leavings, which vacuum reclaims once the
    * table has versions and no version ever adopts).
    */
  private def holdsTableData(fs: org.apache.hadoop.fs.FileSystem,
      hp: org.apache.hadoop.fs.Path): Boolean =
    fs.exists(hp) && fs.listStatus(hp).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".") && (!s.isDirectory ||
        (!fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "._graft_claim")) &&
          listDataFiles(fs, s.getPath).nonEmpty))
    }

  /** The (name, catalog type) fields of a schema, as schema checks and
    * the schema log compare them.
    */
  private def fieldsOf(schema: org.apache.spark.sql.types.StructType): Seq[(String, String)] =
    schema.fields.toSeq.map(f => f.name -> f.dataType.catalogString)

  private def fieldsOf(ddl: String): Seq[(String, String)] =
    fieldsOf(org.apache.spark.sql.types.StructType.fromDDL(ddl))

  /** The schema log an evolution of head `m` extends: its own, or on a
    * table that has none yet its current schema as version 1 — so the
    * columns the table already holds are carried, renamed or refused as
    * drops like any logged version's.
    */
  private def logOf(m: VersionManifest): Seq[SchemaVersion] =
    if (m.schemaLog.nonEmpty) m.schemaLog
    else Seq(SchemaVersion(1L, fieldsOf(m.schemaDdl), Nil))

  /** The DDL of (name, catalog type) fields. */
  private def fieldsDdl(fields: Seq[(String, String)]): String =
    org.apache.spark.sql.types.StructType(fields.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n,
        org.apache.spark.sql.types.DataType.fromDDL(t))
    }).toDDL

  /** SCHEMA EVOLUTION for versioned lake tables — the versioned-schema
    * half of what Delta/Iceberg column mapping does, on an explicit
    * schema log carried by the version manifests (`schemaLog`, inherited
    * by deltas like the table properties).
    *
    * Why not `mergeSchema`? Two reasons, both scale-fatal. (1) COST:
    * mergeSchema derives the union schema by reading EVERY file footer at
    * planning time — at 100 TB / ~128 MB files that is ~800k footer reads
    * before the first byte of data; the log is one metadata-sized read.
    * (2) SEMANTICS: a RENAME is invisible to footer merging — it looks
    * like one dropped + one added column and comes back as two half-null
    * columns; only a declared rename can fold the old physical name into
    * the new logical one.
    *
    * `writeEvolving` appends schema version N+1 (the appended frame's
    * logical schema + its declared old→new renames relative to version N)
    * to the head's log and publishes it with the frame's data files as one
    * `evolve-append` commit: one manifest rename publishes schema and
    * files, so no reader ever sees a schema version without its files or
    * files without their schema. The commit races every other commit
    * through that rename: the first write on an empty dir publishes
    * version 1 (a plain dir's files are adopted as version 1 first, the
    * way [[setAutoOptimize]] versions it), and a table never holds a
    * schema log together with CHECK constraints or generated columns
    * ([[commit]] refuses the commit that would join them). The first
    * evolution of a table that already holds data seeds the log with the
    * table's schema as schema version 1, so its columns are carried or
    * refused as drops like any logged version's. Returns the SCHEMA
    * version number.
    *
    * `readEvolving` builds the UNIFIED PHYSICAL schema (every column name
    * any version ever wrote) from the log and hands it to the parquet
    * reader explicitly — per file, absent columns resolve by name to
    * null, so no footer sweep happens — then folds each recorded rename
    * with coalesce(new, cast(old)) and returns the LATEST version's
    * logical column set. Added columns read null for files written before
    * them; renamed columns carry old-file values under the new name. Each
    * table version reads through its own log, so time travel to a version
    * before an evolution returns that version's columns.
    *
    * Scope: column ADDS, RENAMES, and lossless type WIDENING
    * (tinyint<smallint<int<bigint, float<double): the unified read
    * requests the WIDEST type any version declared and the parquet
    * vectorized reader up-casts older narrower eras natively — no file
    * rewrite, no footer sweep. Narrowing and cross-family changes are
    * refused at write time (they need per-file cast planning and can
    * corrupt), as are silent column drops; refusing is the honest
    * contract.
    */
  def writeEvolving(spark: SparkSession, df: DataFrame, path: String,
      renames: Map[String, String] = Map.empty,
      streamBatchId: Option[Long] = None): Long = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(hp)
    if (manifestVersions(fs, path).isEmpty && holdsTableData(fs, hp))
      bootstrapRootVersion(spark, fs, path)
    val head = headManifest(spark, fs, path)
    evolve(spark, fs, path, df, head, renames, streamBatchId,
      head.fold(Seq.empty[SchemaVersion])(logOf))._1
  }

  /** Publish `df` with schema version `prior`'s next — its fields and
    * `renames` — as one `evolve-append` commit over `head` (None: the
    * table's version 1).
    *
    * @return (the schema version, the manifest published)
    */
  private def evolve(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, df: DataFrame,
      head: Option[VersionManifest], renames: Map[String, String],
      streamBatchId: Option[Long],
      prior: Seq[SchemaVersion]): (Long, VersionManifest) = {
    // deletion vectors and schema evolution are mutually exclusive: the
    // evolved read path resolves through the rename-fold projection,
    // which cannot also attach the scan-stage _metadata position columns
    // the tombstone anti-join needs — drifting a dv'd table would leave
    // its reads broken. Purge first; the refusal mirrors deleteWhereDv's.
    refuseDvs(head.map(_.dvs).getOrElse(Nil), path, "writeEvolving")
    refuseColMap(head.map(_.colmap).getOrElse(Nil), path, "writeEvolving")
    val props = head.fold(TableProps())(_.props)
    require(props.generated.isEmpty,
      s"$path declares GENERATED columns; schema evolution would bypass " +
        "their derivation - drop them first")
    // the mirror refusal (a constraint on an evolving table) is
    // addCheckConstraint's; a constraint that lands concurrently makes
    // this commit's rebase refuse
    require(props.checks.isEmpty,
      s"$path carries CHECK constraints; schema evolution would bypass " +
        "their enforcement - drop them first")
    val next = prior.lastOption.map(_.version + 1).getOrElse(1L)
    val newFields = fieldsOf(df.schema)
    if (prior.isEmpty) {
      require(renames.isEmpty, "first write cannot declare renames")
    } else {
      val prevLogical = prior.last.fields
      renames.foreach { case (from, to) =>
        require(prevLogical.exists(_._1 == from),
          s"rename source '$from' not in schema v${prior.last.version}")
        require(newFields.exists(_._1 == to),
          s"rename target '$to' not in the appended frame")
        require(!newFields.exists(_._1 == from),
          s"rename source '$from' still present in the appended frame")
        // a rename target must be a NEW physical name: renaming onto a name
        // some earlier version already wrote would make the fold silently
        // merge two unrelated columns (live collision) or mix physical
        // parquet types under one entry (dead collision)
        require(!physicalSchema(prior).exists(_._1 == to),
          s"rename target '$to' was already written by an earlier version " +
            "and cannot be reused as a rename target")
      }
      // every physical name ever written stays RESERVED: a column silently
      // dropped (just omitted from a later frame) could later be re-added
      // with another type — the physical-union read schema keeps its old
      // entry, so pre-drop files' values would resurrect under the logical
      // column. Drops must be declared as what they are not supported —
      // refuse the omission loudly.
      prevLogical.map(_._1).filterNot(renames.contains).foreach { name =>
        require(newFields.exists(_._1 == name),
          s"column '$name' (schema v${prior.last.version}) is missing from " +
            "the appended frame; dropping columns is not supported - carry " +
            "it (null-filled if needed) or declare a rename")
      }
      // same-name columns may keep their type or WIDEN it along a lossless
      // chain (tinyint<smallint<int<bigint, float<double): the reader
      // hands the parquet scan the WIDEST recorded type and the vectorized
      // reader up-casts older-era files natively, so no value can be lost
      // or changed. Anything else — narrowing, cross-family, string/date —
      // is refused: it would need per-file cast planning and can corrupt.
      // (A renamed column may change type freely because the reader casts
      // the fold explicitly.)
      val priorTypes = physicalSchema(prior).toMap
      newFields.filterNot(f => renames.valuesIterator.contains(f._1)).foreach {
        case (name, tpe) => priorTypes.get(name).foreach(old =>
          require(old == tpe || widens(old, tpe),
            s"column '$name' changes type $old -> $tpe; only lossless " +
              "widening (tinyint<smallint<int<bigint, float<double) is " +
              "supported"))
      }
      // retirement is PERMANENT: a name ever used as a rename source may
      // not return — the physical union keeps its original entry and the
      // fold would silently swallow the new column's data into the rename
      // target (old files' nulls win nothing, new files' values vanish)
      val retired = (prior.flatMap(_.renames.map(_._1)) ++ renames.keys).toSet
      newFields.map(_._1).find(retired).foreach(name =>
        throw new IllegalArgumentException(
          s"column name '$name' was retired by an earlier rename and " +
            "cannot be reused"))
    }
    val ddl = fieldsDdl(newFields)
    // the schema entry and the files publish in ONE manifest rename,
    // rebasing like any commit over the head the guards above read (the
    // drift is additive, so the tracked stats columns exist in the files)
    val pub = commit(spark, fs, path,
      head.getOrElse(VersionManifest(0L, ddl, Nil)), "evolve-append",
      add = writeClaimedDir(spark, fs, path, df)._2, schemaDdl = Some(ddl),
      full = head.isEmpty, streamBatchId = streamBatchId,
      schemaLog = Some(prior :+ SchemaVersion(next, newFields,
        renames.toSeq.sortBy(_._1))))
    (next, pub)
  }

  /** The head version of a schema-evolving table, under its latest
    * logical schema ([[writeEvolving]]); any versioned table reads as
    * [[readVersioned]] does.
    */
  def readEvolving(spark: SparkSession, path: String): DataFrame =
    readVersioned(spark, path)

  /** `files` read through schema log `versions` (see [[writeEvolving]]).
    * No basePath: evolved tables are unpartitioned, and a basePath over a
    * `v=N` commit dir would hallucinate a `v` partition column.
    */
  private def evolvedRead(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, files: Seq[String],
      versions: Seq[SchemaVersion]): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col}
    val physical = org.apache.spark.sql.types.StructType.fromDDL(
      fieldsDdl(physicalSchema(versions)))
    var df = spark.read.schema(physical).parquet(qualifyForRead(fs, files): _*)
    // fold renames in version order so CHAINS (a->b in v2, b->c in v3)
    // carry v1 values through; the target type comes from the version
    // that DECLARED the rename — the latest schema may have renamed it on
    versions.foreach { v =>
      val vTypes = v.fields.toMap
      v.renames.foreach { case (from, to) =>
        df = df.withColumn(to,
          coalesce(col(to), col(from).cast(vTypes(to)))).drop(from)
      }
    }
    // cast to the LATEST declared type: a rename fold lands at its
    // declare-time type, which a later version may have widened (the
    // cast is a no-op wherever the physical read is already widest)
    df.select(versions.last.fields
      .map { case (n, t) => col(n).cast(t).as(n) }: _*)
  }

  /** The head's schema versions, ascending; empty for a table that does
    * not evolve.
    */
  def schemaVersions(spark: SparkSession, path: String): Seq[Long] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    headManifest(spark, fs, path).toSeq.flatMap(_.schemaLog.map(_.version))
  }

  /** Lossless widening chains. The parquet vectorized reader up-casts a
    * narrower physical type to the requested wider one natively, which is
    * what lets the unified read use ONE schema over mixed-width eras.
    */
  private def widens(old: String, nw: String): Boolean = {
    val ints = Seq("tinyint", "smallint", "int", "bigint")
    val floats = Seq("float", "double")
    def wider(chain: Seq[String]) = {
      val (a, b) = (chain.indexOf(old), chain.indexOf(nw))
      a >= 0 && b > a
    }
    wider(ints) || wider(floats)
  }

  /** Every physical column any version wrote (first-appearance order), at
    * the WIDEST type any version declared for it — the read schema that
    * makes old files resolvable without footers, with older narrower eras
    * up-cast by the parquet reader itself.
    */
  private def physicalSchema(
      versions: Seq[SchemaVersion]): Seq[(String, String)] =
    versions.flatMap(_.fields).foldLeft(Vector.empty[(String, String)]) {
      case (acc, (n, t)) => acc.indexWhere(_._1 == n) match {
        case -1 => acc :+ (n -> t)
        case i => if (widens(acc(i)._2, t)) acc.updated(i, n -> t) else acc
      }
    }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** File-level min/max data skipping — the manifest half of what Delta/
    * Iceberg call data skipping, for plain parquet dirs. Parquet row-group
    * stats already prune WITHIN a file, but the scan still pays listing +
    * footer I/O per file; at 100 TB / ~128 MB files that is ~800k footer
    * reads per query. A manifest of per-FILE min/max lets the driver drop
    * files before the scan is even planned, the same planning-time lever
    * as partition pruning but on any column with write-time locality
    * (event time in an append-only lake being the canonical one).
    *
    * `writeStats` computes per-file min/max for `statsCols` in ONE
    * distributed pass (groupBy input_file_name) and stores them as JSON
    * under `_graft_stats/` — an underscore dir, invisible to parquet
    * discovery, co-versioned with the data it describes (re-run after
    * compact/append; `readSkipping` refuses a stale manifest).
    *
    * `readSkipping` filters the manifest with `keep` (build it with
    * [[skipRange]]) and hands Spark only the surviving files. The manifest
    * is planning metadata, read on the driver like Delta reads its log
    * ([[StatsManifest]]: a Jackson parse of the JSON lines, no Spark job);
    * the cost is METADATA-proportional — O(files × tracked columns)
    * driver memory, the order of the version manifest every read
    * resolves — never data-proportional.
    *
    * Skipping is only sound for predicates that can never match a row the
    * stats bounds exclude: [[skipRange]] range predicates are (nulls make
    * them false, and an all-null file has null min/max → dropped; a file
    * mixing nulls and values keeps correct non-null bounds).
    */
  def writeStats(spark: SparkSession, path: String, statsCols: Seq[String]): Long = {
    import org.apache.spark.sql.functions._
    require(statsCols.nonEmpty, "writeStats needs at least one column")
    // n_rows per file rides along: summing the manifest answers COUNT(*)
    // from metadata alone — the planning-time cardinality LSH/IVF
    // auto-sizing needs, without a corpus scan (r5 verdict item 8)
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
      count(lit(1)).as("n_rows")
    // a VERSIONED table must resolve through its version manifest (a
    // recursive read would scan retired files, and an evolved table's
    // mixed-schema files need its schema log)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireNoColMap(spark, fs, path, "writeStats")
    val source =
      if (fs.exists(versionsDir(path))) readVersioned(spark, path)
      else readParquet(spark, path)
    // one distributed aggregate; its one line per data file is rendered
    // on the driver and published as the whole manifest
    val lines = manifestLines(source
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*))
    replaceManifest(fs, StatsManifest.dir(path), lines)
    lines.size.toLong
  }

  /** The manifest lines of `rows` (one per data file) as JSON objects,
    * collected to the driver. Every field is written, NULLs included: a
    * column that is NULL in every file still has its `min_<c>` field, so
    * the manifest records it as tracked (Spark's JSON writer would drop
    * the field, and every later append naming the column would rebuild).
    */
  private def manifestLines(rows: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.{struct, to_json}
    val fields = rows.columns.map(c => rows.col(s"`${c.replace("`", "``")}`"))
    rows.select(to_json(struct(fields.toIndexedSeq: _*),
        Map("ignoreNullFields" -> "false")))
      .collect().map(_.getString(0)).toSeq
  }

  /** Publish a staged manifest dir via RENAME-ASIDE (compact's protocol,
    * not delete-then-rename): both complete manifests exist until the new
    * one is in place, so the no-manifest window shrinks to the instant
    * between the two renames, and a crash leaves the aside copy on disk.
    * The aside copy is named after the dir it replaces (`.<name>.old`
    * beside it), so publishes of different manifests never touch each
    * other's. The manifest is derived data — a reader hitting that instant
    * gets validatedManifest's clear require, and a rebuild fully repairs;
    * nothing is ever silently wrong, only loudly absent.
    */
  private def publishManifest(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path,
      out: org.apache.hadoop.fs.Path): Unit = {
    val aside = new org.apache.hadoop.fs.Path(out.getParent, s".${out.getName}.old")
    fs.delete(aside, true)
    if (fs.exists(out)) require(fs.rename(out, aside),
      s"manifest publish: could not move $out aside")
    if (!fs.rename(staging, out)) {
      if (fs.exists(aside)) fs.rename(aside, out) // roll back
      sys.error(s"manifest publish: staging rename failed for $out " +
        "(previous manifest restored)")
    }
    fs.delete(aside, true)
    ()
  }

  /** Replace manifest dir `d` with one file holding `lines`: written to a
    * staging dir beside it (`.<name>.rebuild`), then [[publishManifest]].
    */
  private def replaceManifest(fs: org.apache.hadoop.fs.FileSystem,
      d: org.apache.hadoop.fs.Path, lines: Seq[String]): Unit = {
    val staging = new org.apache.hadoop.fs.Path(d.getParent, s".${d.getName}.rebuild")
    fs.delete(staging, true)
    writeLines(fs, new org.apache.hadoop.fs.Path(staging, "part-00000.json"), lines)
    publishManifest(fs, staging, d)
  }

  /** Add `lines` to manifest dir `d` as one more file, then fold the dir
    * when it holds more than [[ManifestFoldThreshold]] files.
    *
    * The manifest is a DIRECTORY of json files: an append ADDS one
    * metadata-sized file rather than rewriting the whole manifest — at
    * ~800k data files a merged rewrite is ~100 MB of json churn per
    * admit, where this is a few KB. Readers list the dir and parse every
    * file on the driver ([[StatsManifest]]), so they see the union, and
    * the added file lands via one atomic rename of a per-writer staging
    * file (a reader never sees partial rows).
    *
    * SELF-FOLDING: past the threshold the accreted append files fold
    * back to one (metadata-only, identical pruning) — the same
    * automatic-maintenance posture setAutoOptimize gives data files,
    * applied to the metadata itself. Amortized O(1): one fold per
    * ~threshold appends, and each fold reads only the manifest.
    */
  private def appendManifest(fs: org.apache.hadoop.fs.FileSystem,
      hp: org.apache.hadoop.fs.Path, d: org.apache.hadoop.fs.Path,
      lines: Seq[String]): Unit = {
    if (lines.nonEmpty) {
      val staging = new org.apache.hadoop.fs.Path(d.getParent,
        s".${d.getName}.append.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      writeLines(fs, staging, lines)
      require(fs.rename(staging,
          new org.apache.hadoop.fs.Path(d, s"append-${System.nanoTime()}-0.json")),
        s"could not add a manifest file under $d")
    }
    if (StatsManifest.files(fs, d).size > ManifestFoldThreshold)
      foldManifest(fs, hp, d)
    ()
  }

  private def writeLines(fs: org.apache.hadoop.fs.FileSystem,
      f: org.apache.hadoop.fs.Path, lines: Seq[String]): Unit = {
    val out = fs.create(f, true)
    try lines.foreach(l => out.write((l + "\n").getBytes("UTF-8")))
    finally out.close()
  }

  /** Append-manifest files before a fold is triggered. 64 keeps the
    * per-read listing trivial while folding often enough that a fold
    * never reads more than ~64 KB-sized files.
    */
  private val ManifestFoldThreshold = 64

  /** METADATA-ONLY manifest fold, shared by [[compactStats]] and
    * [[compactBloomIndex]]: fold the `append-*.json` files incremental
    * maintenance accretes (one per admit — deliberately, to keep each
    * admit O(batch)) back into ONE file, and drop rows for data files no
    * longer ON DISK (vacuumed / compacted away): current readers already
    * ignore them, but without this the manifest grows forever under a
    * delete/merge-heavy table. Files merely RETIRED (still on disk for
    * time travel) keep their rows — harmless, and a restored version
    * could need them again. The fold runs on the driver: the lines are
    * parsed once (O(files) memory, the order of the on-disk listing they
    * are checked against) and the kept lines are written back verbatim
    * through [[replaceManifest]] — no Spark job.
    *
    * @return (manifest files before, after) — (n, n) when already compact
    */
  private def foldManifest(fs: org.apache.hadoop.fs.FileSystem,
      hp: org.apache.hadoop.fs.Path, d: org.apache.hadoop.fs.Path): (Long, Long) = {
    val nBefore = StatsManifest.files(fs, d).size.toLong
    val lines = StatsManifest.lines(fs, d)
    val onDisk = listDataFiles(fs, hp).toSet
    val kept = lines.zip(StatsManifest.parse(lines, d.toString).files)
      .collect { case (line, f) if onDisk(f) => line }
    if (nBefore <= 1 && kept.size == lines.size) return (nBefore, nBefore)
    replaceManifest(fs, d, kept)
    (nBefore, StatsManifest.files(fs, d).size.toLong)
  }

  /** INCREMENTAL stats append — the O(batch) complement of [[writeStats]]
    * for append-only tables: compute per-file min/max/n_rows for ONLY the
    * data files the manifest does not cover yet (read from their parquet
    * footers when every tracked column is integral, else scanning just
    * those files) and add them as one more manifest file
    * ([[appendManifest]]), landed by rename so a reader never sees a
    * partial manifest. This is what keeps an admit loop batch-proportional:
    * full `writeStats` re-scans the corpus on every append, which at
    * 100 TB turns each day's intake into a full-table statistics job.
    *
    * @return number of newly covered files; when the existing manifest
    *         cannot be appended to (older layout, missing columns) the
    *         call falls back to a FULL [[writeStats]] rebuild and returns
    *         that total manifest row count instead
    */
  def appendStats(spark: SparkSession, path: String,
      statsCols: Seq[String]): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    appendStatsTo(spark, fs, path, statsCols, StatsManifest.at(fs, path),
      headManifest(spark, fs, path))
  }

  /** Keep an existing stats manifest live over the files of `head`, the
    * manifest a commit just published: an [[appendStats]] over every
    * column it tracks; no-op without one, or when `head` no longer holds a
    * tracked column (a snapshot that dropped it, an evolution that renamed
    * it) — the manifest then stays stale and skipping reads refuse it. A
    * concurrent commit's files are covered by that commit's own upkeep.
    */
  private def keepStatsLive(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      head: VersionManifest): Unit =
    StatsManifest.at(fs, path).filter(m => m.tracked.nonEmpty &&
        (m.tracked.toSet -- fieldsOf(head.schemaDdl).map(_._1)).isEmpty)
      .foreach(m => appendStatsTo(spark, fs, path, m.tracked, Some(m), Some(head)))

  /** [[appendStats]] against the stats manifest already read (None: none
    * yet) and the table's head manifest (None: not versioned).
    */
  private def appendStatsTo(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      statsCols: Seq[String], manifest: Option[StatsManifest],
      head: Option[VersionManifest]): Long = {
    import org.apache.spark.sql.functions._
    require(statsCols.nonEmpty, "appendStats needs at least one column")
    val hp = new org.apache.hadoop.fs.Path(path)
    refuseColMap(head.map(_.colmap).getOrElse(Nil), path, "appendStats")
    val m = manifest.getOrElse(return writeStats(spark, path, statsCols))
    // append rows for EVERY column the manifest tracks, not just the ones
    // this caller asked about — selecting a subset would silently drop the
    // other columns' bounds from the merged manifest (a Z-ordered table
    // tracks several). A manifest from an older layout (missing n_rows,
    // or not covering the requested columns) rebuilds in full instead.
    val tracked = m.tracked
    val appendCols =
      if (statsCols.forall(tracked.contains) && m.has("n_rows")) tracked
      else return writeStats(spark, path, statsCols)
    val covered = m.files.toSet
    val fresh = currentDataFilesAt(fs, hp, path, head).filterNot(covered)
    if (fresh.isEmpty) return 0L
    // integral bounds come from the fresh files' parquet footers, with no
    // Spark job; any other column scans ONLY the fresh files. A
    // schema-evolving table always scans: its files may hold a column
    // under an older name or type, and its reads resolve them through the
    // schema log
    val footerLines =
      if (head.forall(_.schemaLog.isEmpty))
        StatsManifest.fromFooters(fs, fresh, appendCols)
      else None
    val lines = footerLines.getOrElse {
      val aggs = appendCols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) :+
        count(lit(1)).as("n_rows")
      manifestLines(readFileSubset(spark, path, fresh, head)
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*))
    }
    appendManifest(fs, hp, StatsManifest.dir(path), lines)
    fresh.size.toLong
  }

  /** METADATA-ONLY stats-manifest compaction ([[foldManifest]]): after
    * 10k admits every reader of the manifest pays a 10k-file listing and
    * open; this folds them reading only the manifest itself — never data
    * — and publishes via the same staged-write + rename-aside swap as
    * [[writeStats]], with bit-identical pruning decisions before and
    * after. ([[writeStats]] also yields a single file but at corpus-scan
    * cost. This is the pure-housekeeping form: run it
    * periodically the way Delta checkpoints its log.)
    *
    * @return (manifest files before, after) — (n, n) when already compact
    */
  def compactStats(spark: SparkSession, path: String): (Long, Long) = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = StatsManifest.dir(path)
    require(fs.exists(d), s"no _graft_stats manifest under $path")
    foldManifest(fs, hp, d)
  }

  /** Table row count from the `_graft_stats` manifest, if one exists, is
    * fresh (covers every current data file), and carries `n_rows` — a
    * METADATA-sized read replacing a full-corpus COUNT(*) scan. None →
    * caller must count (see [[CorpusStats.rowCount]] for the memoizing
    * wrapper).
    */
  def rowCountFromManifest(spark: SparkSession, path: String): Option[Long] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the manifest is metadata-sized (one row per file): parsed and
    // resolved on the driver, summing only files that still exist (a
    // manifest may carry rows for since-compacted files; counting them
    // would overstate, and a file NOT covered at all means stale → None)
    StatsManifest.at(fs, path).filter(_.has("n_rows")).flatMap { m =>
      val current = currentDataFiles(spark, fs, hp, path).toSet
      // toMap dedupes by file: concurrent appendStats can double-cover
      // a file and a duplicate row must not double-count it; a manifest
      // older than n_rows answers None
      val n = m.schema.fieldIndex("n_rows")
      val rows = m.files.zip(m.rows.map(_.getLong(n))).toMap
      if (!current.subsetOf(rows.keySet)) None
      else Some(rows.collect { case (f, c) if current(f) => c }.sum)
    }
  }

  /** Manifest predicate: file may contain rows with `c` in [lo, hi]. */
  def skipRange(c: String, lo: org.apache.spark.sql.Column,
      hi: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    col(s"max_$c") >= lo && col(s"min_$c") <= hi
  }

  def readSkipping(spark: SparkSession, path: String,
      keep: org.apache.spark.sql.Column): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = headManifest(spark, fs, path)
    refuseDvs(head.map(_.dvs).getOrElse(Nil), path, "readSkipping")
    val current = currentDataFilesAt(fs, hp, path, head).toSet
    val manifest = validatedManifest(fs, StatsManifest.dir(path), current,
      s"_graft_stats manifest under $path", "writeStats")
    // intersect with the CURRENT file set: a versioned table's stats
    // manifest may still carry rows for files a delete retired — reading
    // one would resurrect deleted rows. DISTINCT because concurrent
    // appendStats calls can double-cover a file — a duplicate manifest
    // row must never become a double data read. `keep` is interpreted
    // over the rows on the driver ([[StatsManifest.keeps]])
    val files = manifest.files.zip(manifest.keeps(spark, keep))
      .collect { case (f, true) if current(f) => f }.distinct
    readFileSubset(spark, path, files, head)
  }

  // ======================================================================
  // WRITE-AUDIT-PUBLISH (WAP) staging — the reference's expectations
  // posture (`EXPECT … ON VIOLATION`, README_DBT.md:236-239) married to
  // the versioned commit protocol: land a batch's data files WITHOUT
  // publishing them, audit the staged snapshot (arbitrary caller checks
  // over [[readStaged]] plus the table's own CHECK constraints at
  // publish), then either fold the batch into a real commit
  // ([[publishStaged]] — append-commuting, rebases over concurrent
  // winners like every AddFile-only commit) or [[abortStaged]] with zero
  // trace. No reader ever sees unaudited rows: staged files live in a
  // claimed `v=N` data dir no manifest references, exactly where a
  // mid-commit writer's files live — invisible by construction.
  //
  // 100 TB posture: staging costs the batch write + a KB marker; audit
  // reads ONLY the staged files (plus whatever table slices the caller's
  // checks join against); publish is an O(batch) delta manifest. The
  // staged marker makes the batch a LIVE ROOT for [[vacuum]]'s orphan
  // sweep — staged work survives housekeeping until published or
  // aborted, and an abort (not a grace-window guess) is what reclaims it.
  // ======================================================================

  private def stagedDir(path: String) =
    new org.apache.hadoop.fs.Path(path, "_graft_staged")

  private def stagedMarker(path: String, id: String) = {
    require(id.matches("stage[0-9]+"), s"malformed stage id '$id'")
    new org.apache.hadoop.fs.Path(path, s"_graft_staged/$id.json")
  }

  /** Stage an append: write the batch's files into a claimed data dir and
    * record them in a `_graft_staged/<id>.json` marker — no manifest, no
    * pointer move, no reader impact. Schema must match the table exactly
    * (staging is append staging; drift goes through [[writeEvolving]]).
    * Works on any table shape — plain/evolving tables are bootstrapped to
    * versioned first, same as [[deleteWhere]].
    *
    * @return the stage id to audit/publish/abort with
    */
  def stageAppend(spark: SparkSession, df: DataFrame, path: String): String = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(hp)
    if (!fs.exists(versionsDir(path))) bootstrapRootVersion(spark, fs, path)
    val (_, m0) = resolveHead(spark, fs, path)
    refuseColMap(m0.colmap, path, "stageAppend")
    val dfG = applyGeneratedTo(spark, path, Some(m0), df, "stageAppend")
    val curDdl = m0.schemaDdl
    val cur = org.apache.spark.sql.types.StructType.fromDDL(curDdl)
    require(dfG.schema.fields.map(f => (f.name, f.dataType.catalogString)).toSeq
        == cur.fields.map(f => (f.name, f.dataType.catalogString)).toSeq,
      s"stageAppend schema mismatch: table has $curDdl, " +
        s"frame has ${dfG.schema.toDDL}")
    val (d, entries) = writeClaimedDir(spark, fs, path, dfG)
    val id = s"stage$d"
    fs.mkdirs(stagedDir(path))
    // atomic marker publish (tmp + rename): a reader of _graft_staged
    // never sees a partial marker, and vacuum's live-root scan sees the
    // files as referenced from the instant the marker exists
    val tmp = new org.apache.hadoop.fs.Path(path, s"_graft_staged/.$id.tmp")
    val out = fs.create(tmp, true)
    out.write(
      (s"""{"stage":${jsonStr(id)},"ts":${System.currentTimeMillis()},""" +
        s""""schema":${jsonStr(curDdl)},"files":${entriesJson(entries)}}""")
        .getBytes("UTF-8"))
    out.close()
    require(fs.rename(tmp, stagedMarker(path, id)),
      s"stageAppend: could not publish staged marker for $id under $path")
    id
  }

  /** Stage ids currently awaiting audit/publish/abort, oldest first. */
  def listStaged(spark: SparkSession, path: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(stagedDir(path))) Seq.empty
    else fs.listStatus(stagedDir(path)).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".json") &&
        !s.getPath.getName.startsWith("."))
      .map(_.getPath.getName.stripSuffix(".json")).sorted
  }

  /** Parse a staged marker: (schema ddl at staging time, file entries). */
  private def readStagedEntries(fs: org.apache.hadoop.fs.FileSystem,
      path: String, id: String): (String, Seq[(String, Long)]) = {
    val f = stagedMarker(path, id)
    require(fs.exists(f), s"no staged batch '$id' under $path")
    readMarkerFile(fs, f)
  }

  private def readMarkerFile(fs: org.apache.hadoop.fs.FileSystem,
      f: org.apache.hadoop.fs.Path): (String, Seq[(String, Long)]) = {
    val in = fs.open(f)
    val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(txt)
    val entries = n.get("files").elements()
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (entries.hasNext) {
      val e = entries.next()
      buf += ((e.get("path").asText, e.get("n_rows").asLong))
    }
    (n.get("schema").asText, buf.toSeq)
  }

  /** The staged batch's rows alone — the audit target for checks that
    * validate the INCOMING data (null rates, domains, dedup against the
    * published table).
    */
  def readStagedBatch(spark: SparkSession, path: String,
      id: String): DataFrame = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, entries) = readStagedEntries(fs, path, id)
    val root = rootPath(fs, hp)
    readFileSubset(spark, path, entries.map(e => resolveRef(root, e._1)),
      headManifest(spark, fs, path))
  }

  /** The WOULD-BE table after publish: current snapshot ∪ staged batch —
    * the audit target for whole-table invariants (uniqueness, referential
    * integrity, aggregate drift).
    */
  def readStaged(spark: SparkSession, path: String, id: String): DataFrame =
    readVersioned(spark, path).unionByName(readStagedBatch(spark, path, id))

  private def claimedMarker(path: String, id: String) =
    new org.apache.hadoop.fs.Path(path, s"_graft_staged/.$id.publishing")

  /** Fold an audited staged batch into a real commit. Refuses loudly when
    * the table's schema changed since staging (the audit ran against a
    * stale shape — restage), or when the staged rows violate the table's
    * CHECK constraints (the built-in floor under any caller-side audit;
    * the stage SURVIVES a refusal for inspection/abort). Concurrent
    * commits rebase exactly like [[appendVersioned]] — the staged files
    * are already on disk and are never rewritten.
    *
    * DOUBLE-PUBLISH safety: the marker is CLAIMED by an atomic rename
    * before anything else, so exactly one of two concurrent publishes of
    * the same stage folds it — the loser gets the no-staged-batch
    * refusal instead of silently duplicating every staged row. A refusal
    * (schema drift, constraints) renames the claim back; a crash between
    * manifest publish and claim cleanup is recovered on the next call by
    * checking whether the head manifest already holds the claim's
    * entries (done → just clean up; not → publish from the claim).
    *
    * `streamBatchId` rides the commit like [[appendVersioned]]'s replay
    * gate: a replayed micro-batch whose id is already in a manifest
    * no-ops (aborting its redundant re-stage if one exists) — the
    * exactly-once contract for foreachBatch WAP pipelines.
    */
  def publishStaged(spark: SparkSession, path: String, id: String,
      streamBatchId: Option[Long] = None): Long = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    streamBatchId.foreach { bid =>
      if (streamBatchCommitted(spark, path, bid)) {
        // replayed micro-batch: its rows are already published — the
        // replay's redundant re-stage (if any) is aborted, not folded
        if (fs.exists(stagedMarker(path, id))) abortStaged(spark, path, id)
        return headVersion(fs, path)
      }
    }
    val claimed = claimedMarker(path, id)
    // ChecksumFileSystem throws (rather than returning false) when the
    // source vanished — same meaning here: someone else claimed it
    val claimWon =
      try fs.rename(stagedMarker(path, id), claimed)
      catch { case _: java.io.FileNotFoundException => false }
    if (!claimWon) {
      // no live marker. A leftover claim whose entries all made it into
      // the head manifest is a COMPLETED publish that died before
      // cleanup — reconcile it. Any other claim is either an IN-FLIGHT
      // concurrent publish (auto-resuming would fold the files twice) or
      // a crash before the manifest landed; the two are indistinguishable
      // from here, so refuse loudly — [[recoverStagedPublish]] is the
      // operator's explicit I-know-the-publisher-is-dead lever.
      require(fs.exists(claimed),
        s"no staged batch '$id' under $path (already published/aborted, " +
          "or a concurrent publish claimed it)")
      val (_, entries) = readMarkerFile(fs, claimed)
      val (head, m) = resolveHead(spark, fs, path)
      val headEntries = m.entries.map(_._1).toSet
      if (entries.forall(e => headEntries(e._1))) {
        fs.delete(claimed, false)
        return head
      }
      throw new IllegalArgumentException(
        s"stage '$id' under $path is claimed by another publish — " +
          "in flight (wait for it), or crashed before its manifest " +
          "landed (recoverStagedPublish to hand the stage back)")
    }
    val (stagedDdl, entries) = readMarkerFile(fs, claimed)
    def unclaim(): Unit = { fs.rename(claimed, stagedMarker(path, id)); () }
    // Unclaim ONLY on failures provably BEFORE any manifest write (stale
    // schema, constraint refusal, head read) — those hand the stage back
    // for inspection/abort. Any exception escaping commit is
    // treated as POST-claim: the manifest may already have landed (e.g. a
    // version-pointer IO failure after the manifest wrote), and unclaiming
    // then lets a retried publishStaged read the new manifest as head and
    // fold the same entries TWICE. Even a genuinely-pre-publish loss (race
    // beyond retries) conservatively leaves the claim: the reconcile path
    // above detects a completed publish by head inclusion, and
    // [[recoverStagedPublish]] is the explicit hand-back lever.
    val m0 =
      try {
        val (_, m0) = resolveHead(spark, fs, path)
        val curDdl = m0.schemaDdl
        require(curDdl == stagedDdl,
          s"publishStaged($id): table schema changed since staging " +
            s"(staged against $stagedDdl, table now $curDdl) - the audit " +
            "validated a stale shape; abort and restage")
        // the head's constraints and generated specs gate the staged
        // files: they were written at staging, maybe before a constraint
        // or derivation existed, so a violating stage must unclaim (back
        // to staged for abort), never fold in. A property added after
        // this gate is enforced by commit's rebase.
        enforceNewProps(spark, fs, path, m0, entries.map(_._1), TableProps(),
          s"publishStaged($path, $id)")
        m0
      } catch { case e: Throwable => unclaim(); throw e }
    val pub = commit(spark, fs, path, m0, "wap", add = entries,
      streamBatchId = streamBatchId)
    fs.delete(claimed, false)
    pub.version
  }

  /** Hand a claimed-but-unpublished stage back to the staged state — the
    * explicit recovery for a publisher that died AFTER claiming and
    * BEFORE its manifest landed. Refuses when the claim's entries are
    * already at the head (that publish completed — call
    * [[publishStaged]], which reconciles it) and when no claim exists.
    * Only invoke once the claiming publisher is known dead: unclaiming
    * under a live one re-opens the double-publish window this protocol
    * closes.
    */
  def recoverStagedPublish(spark: SparkSession, path: String,
      id: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claimed = claimedMarker(path, id)
    require(fs.exists(claimed), s"no claimed publish of '$id' under $path")
    val (_, entries) = readMarkerFile(fs, claimed)
    val headEntries = resolveHead(spark, fs, path)._2.entries.map(_._1).toSet
    require(!entries.forall(e => headEntries(e._1)),
      s"claimed publish of '$id' under $path COMPLETED (its files are " +
        "at the head) - publishStaged reconciles it; recovering would " +
        "fold the files twice")
    require(fs.rename(claimed, stagedMarker(path, id)),
      s"could not hand stage '$id' back under $path")
    ()
  }

  /** Discard a staged batch: delete its marker and its data files (and
    * the claimed dir when nothing else landed there). The published table
    * is untouched at every point of a stage/abort pair.
    */
  def abortStaged(spark: SparkSession, path: String, id: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (_, entries) = readStagedEntries(fs, path, id)
    val root = rootPath(fs, hp)
    entries.foreach(e =>
      fs.delete(new org.apache.hadoop.fs.Path(resolveRef(root, e._1)), false))
    // the claimed dir is exclusively this stage's namespace (the claim
    // marker won it); reclaim it outright
    fs.delete(new org.apache.hadoop.fs.Path(path,
      s"v=${id.stripPrefix("stage")}"), true)
    fs.delete(stagedMarker(path, id), false)
    ()
  }

  /** Metadata gate for [[graft.plans.MvRewriteRule]]: Some(current data
    * files of `sourcePath`, absolute scheme-less) iff `viewPath` is a
    * refresh-maintained view of `sourcePath` whose WATERMARK covers the
    * source head — i.e. answering from the view is provably equivalent to
    * aggregating the source right now. None on any doubt (missing view,
    * stale watermark, unversioned source): the rule then leaves the plan
    * alone, which is always correct.
    */
  def mvRewriteInfo(spark: SparkSession, sourcePath: String,
      viewPath: String): Option[Set[String]] =
    try {
      val shp = new org.apache.hadoop.fs.Path(sourcePath)
      val sfs = shp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!sfs.exists(versionsDir(sourcePath))) return None
      val vfs = new org.apache.hadoop.fs.Path(viewPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!vfs.exists(versionsDir(viewPath))) return None
      val watermark = readRawManifest(spark, vfs, viewPath,
        headVersion(vfs, viewPath)).flatMap(_.streamBatchId).getOrElse(return None)
      val (head, m) = resolveHead(spark, sfs, sourcePath)
      if (watermark < head) None
      else Some(currentDataFilesAt(sfs, shp, sourcePath, Some(m)).toSet)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Relative paths every live staged marker references — vacuum's extra
    * live roots (staged work must survive housekeeping until published
    * or aborted; see [[stageAppend]]).
    */
  private def stagedReferencedFiles(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String): Set[String] = {
    if (!fs.exists(stagedDir(path))) return Set.empty
    // unclaimed markers AND in-flight/crashed publish claims
    // (.stageN.publishing): a claim's files must stay live until the
    // recovery path reconciles it
    fs.listStatus(stagedDir(path)).toSeq
      .filter(s => s.isFile && (s.getPath.getName.endsWith(".json") ||
        s.getPath.getName.endsWith(".publishing")))
      .flatMap(s => readMarkerFile(fs, s.getPath)._2.map(_._1)).toSet
  }

  /** The CURRENT data files of a table: the published version manifest's
    * file list when the table is versioned (files retired by deletes are
    * invisible even while vacuum-retained on disk), the recursive dir
    * listing otherwise.
    */
  private def currentDataFiles(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, hp: org.apache.hadoop.fs.Path,
      path: String): Seq[String] =
    currentDataFilesAt(fs, hp, path, headManifest(spark, fs, path))

  /** [[currentDataFiles]] against the head manifest already resolved
    * ([[headManifest]]; None lists the unversioned dir).
    */
  private def currentDataFilesAt(fs: org.apache.hadoop.fs.FileSystem,
      hp: org.apache.hadoop.fs.Path, path: String,
      head: Option[VersionManifest]): Seq[String] =
    head.fold(listDataFiles(fs, hp)) { m =>
      val root = rootPath(fs, hp)
      m.entries.map(e => resolveRef(root, e._1))
    }

  /** Load a skipping-index manifest (`_graft_stats`, or a
    * `_graft_bloom/<c>` index) with the stale-coverage guard both share:
    * every CURRENT data file must be covered, or a skip could silently
    * drop rows written after the manifest. `current` comes from
    * [[currentDataFiles]], whose listing is RECURSIVE so hive-partitioned
    * layouts (data files one level down in day=… dirs) are guarded too —
    * a top-level-only list would come back empty there and pass the
    * subset check vacuously. Callers must still intersect their file
    * picks with `current`: covered-but-retired files would resurrect
    * deleted rows. `what` names the manifest in the refusals, `repair`
    * the call that fixes a stale one.
    */
  private def validatedManifest(fs: org.apache.hadoop.fs.FileSystem,
      d: org.apache.hadoop.fs.Path, current: Set[String], what: String,
      repair: String): StatsManifest = {
    require(fs.exists(d), s"no $what")
    val manifest = StatsManifest.read(fs, d)
    val listed = manifest.files.toSet
    require(current.subsetOf(listed),
      s"stale $what: ${(current -- listed).size} data file(s) not covered - " +
        s"run $repair")
    manifest
  }

  /** Narrow a commit's candidate file list with the `_graft_stats`
    * manifest. The manifest is read on the driver ([[StatsManifest]]) and
    * `keep` is interpreted over its rows ([[StatsManifest.keeps]]): no
    * Spark job and no generated class, O(files) driver memory — the order
    * of the version manifest that listed `abs0`. Contracts: a file with no
    * stats row stays a candidate (superset rule), a NULL verdict drops
    * it, and duplicate rows from concurrent appendStats keep the file if
    * ANY row keeps it. Manifest `file` values compare in URI.getPath form
    * (input_file_name URL-encodes a space as `%20`; a literal `+` stays a
    * `+`).
    */
  private[graft] def pruneCandidatesWithStats(spark: SparkSession,
      statsDir: org.apache.hadoop.fs.Path,
      keep: org.apache.spark.sql.Column,
      abs0: Seq[String]): Seq[String] = {
    val fs = statsDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val m = StatsManifest.read(fs, statsDir)
    val verdicts = m.files.zip(m.keeps(spark, keep))
      .groupMapReduce(_._1)(_._2)(_ || _)
    abs0.filter(f => verdicts.getOrElse(f, true)).toIndexedSeq
  }

  /** basePath keeps partition-dir columns in the schema when reading a
    * file subset, so the skipped read matches the unskipped one exactly.
    * An EVOLVED table's subset resolves through the head's schema log
    * (plain parquet reads over mixed-schema files silently drop columns).
    *
    * HEAD-ONLY CONTRACT: `head` is the table's resolved head manifest
    * (None: not versioned) and `files` must come from it — the column
    * mapping applied below is the head's, and a file list from another
    * version could carry a different era's physical schema under the
    * head's logical names. All callers (skipping, probe pruning, bloom
    * lookup, publishStaged) derive their lists from head manifests; a
    * time-travel subset read would need the version's own manifest colmap
    * threaded through instead.
    */
  private def readFileSubset(spark: SparkSession, path: String,
      files: Seq[String], head: Option[VersionManifest]): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    head match {
      // versioned tables are unpartitioned (our writers): no basePath,
      // which over `v=N` rewrite dirs would hallucinate a `v` partition
      // column. The head manifest's DDL (or schema log) is the files'
      // physical schema, so the scan needs no footer-inference job; a
      // column-mapped table's subset reads project to logical names like
      // any full read (skipping/probe/lookup callers see the same schema)
      case Some(m) => applyColMap(readSomeFiles(spark, fs, files, m), m.colmap)
      // a plain dir: the footer inference would read, read on the driver;
      // partition-dir columns still come from the paths under basePath
      case None =>
        if (files.isEmpty) readParquet(spark, path).limit(0)
        else readParquet(spark, path, files)
    }
  }

  // ======================================================================
  // POINT LOOKUPS — equality probes pruned by every skipping index the
  // table carries, all read on the driver as [[StatsManifest]]s:
  //
  //  - `_graft_stats` min/max bounds (PROBE-SET skipping): a file is kept
  //    when its [min_c, max_c] can contain a probe. This is what makes a
  //    signature-index screen BATCH-proportional instead of
  //    corpus-proportional when the table is range-laid-out on `c` (see
  //    [[graft.operators.OperatorQueries]] `dedup_incremental`): with files
  //    range-split on `c` at a fixed target size, one probe lands in ~1
  //    file, so I/O is bounded by min(|probes|, |files|) × fileSize.
  //  - `_graft_bloom/<c>` membership, the high-cardinality complement:
  //    on a HASH-clustered or unsorted layout every file's [min, max] spans
  //    the whole key domain and an equality probe skips nothing, while a
  //    per-file Bloom filter answers "could this file hold key k?"
  //    regardless of layout. The filters are Spark's own
  //    org.apache.spark.util.sketch.BloomFilter, built by
  //    BloomFilterAggregate over xxhash64 of the key (the exact sketch
  //    InjectRuntimeFilter uses), base64 in the manifest rows.
  //
  // Every verdict is a SUPERSET of the files holding matches (false
  // positives only — a kept file may be empty of matches, and the caller's
  // residual filter drops its rows), so intersecting verdicts stays a
  // superset and the pruned read + equality filter is IDENTICAL to the full
  // scan + filter. Driver cost is metadata-proportional: one manifest row
  // per file, one binary search (stats) or one filter decode (bloom) per
  // current file, and no Spark job beyond collecting a non-local probe
  // frame. 100 TB posture: the index is built DISTRIBUTIVELY (one groupBy
  // input_file_name over the table — each task sketches its own file) and
  // maintained INCREMENTALLY (appendBloomIndex sketches only uncovered
  // files, keeping a daily admit O(batch)); a probe set above `maxProbes`
  // degrades gracefully to the unpruned read — never worse than no index,
  // never a failure.
  // ======================================================================

  /** The `_graft_stats` verdict for equality probes on `c`: the current
    * files whose [min_c, max_c] holds at least one probe (URI.getPath
    * form, manifest order), and the current file count. The manifest
    * must cover every current file ([[validatedManifest]]).
    *
    * Probes and stats bounds are compared as STRINGS: sound for string
    * keys (the md5 signature case this serves) and for any key whose
    * lexicographic order matches its value order (zero-padded fixed
    * width); numeric bounds refuse (raw numeric keys should go through
    * [[skipRange]], which compares in the column's own type), and so does
    * a column the manifest does not track.
    */
  private[graft] def probeDataFiles(spark: SparkSession, path: String, c: String,
      probes: Seq[String]): (Seq[String], Int) = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current = currentDataFiles(spark, fs, hp, path).toSet
    val m = validatedManifest(fs, StatsManifest.dir(path), current,
      s"_graft_stats manifest under $path", "writeStats")
    (statsVerdict(m, current, c, probes), current.size)
  }

  private def statsVerdict(m: StatsManifest, current: Set[String], c: String,
      probes: Seq[String]): Seq[String] = {
    require(m.has(s"min_$c"),
      s"probeDataFiles($c): the _graft_stats manifest does not track $c")
    // string comparison on numeric bounds would order "100" < "20" and
    // prune WRONG files — refuse instead of silently losing rows
    require(m.schema(s"min_$c").dataType == org.apache.spark.sql.types.StringType,
      s"probeDataFiles($c): stats bounds are numeric; lexicographic probe " +
        "pruning would be unsound - use skipRange, or zero-pad the key")
    val (iLo, iHi) = (m.schema.fieldIndex(s"min_$c"), m.schema.fieldIndex(s"max_$c"))
    val sorted = probes.distinct.sorted.toIndexedSeq
    // any probe in [lo, hi]? binary-search the first probe >= lo
    def anyIn(lo: String, hi: String): Boolean = {
      var l = 0; var r = sorted.length
      while (l < r) { val mid = (l + r) >>> 1; if (sorted(mid) < lo) l = mid + 1 else r = mid }
      l < sorted.length && sorted(l) <= hi
    }
    // covered-but-retired rows are never candidates; all-null files have
    // null bounds, and no row there can equal a probe. distinct: concurrent
    // appendStats can double-cover a file, and a duplicate pick must not
    // double-read
    m.files.zip(m.rows).collect {
      case (f, r) if current(f) && !r.isNullAt(iLo) && anyIn(r.getString(iLo), r.getString(iHi)) => f
    }.distinct
  }

  /** The `_graft_bloom/<c>` verdict for a single-column probe frame (of
    * the indexed key's type): the current files whose filter may hold a
    * probe, and the current file count; every current file when the
    * probe frame holds more than `maxProbes` rows. A stale index (a
    * current file not covered) REFUSES rather than silently dropping the
    * file's rows; [[appendBloomIndex]] repairs it.
    */
  private[graft] def bloomProbeFiles(spark: SparkSession, path: String, c: String,
      probes: DataFrame, maxProbes: Int = 100000): (Seq[String], Int) = {
    require(probes.columns.length == 1,
      s"bloomProbeFiles($c): probe side must be a single key column")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val current = currentDataFiles(spark, fs, hp, path)
    val live = current.toSet
    val m = validatedManifest(fs, bloomDir(path, c), live,
      s"_graft_bloom/$c index under $path", "appendBloomIndex")
    collectProbes(probes, maxProbes).fold((current, current.size)) { p =>
      (bloomVerdict(m, live, p(probes.columns.head)._2), current.size)
    }
  }

  private def bloomVerdict(m: StatsManifest, current: Set[String],
      hashes: Seq[Long]): Seq[String] =
    // a NULL filter (an all-null file, whose keys were never sketched) can
    // hold no probe; an index written by Spark's JSON writer drops NULL
    // fields, so one holding only such files has no bloom_b64 field
    if (!m.has("bloom_b64")) Seq.empty
    else {
      val b = m.schema.fieldIndex("bloom_b64")
      def mayHold(b64: String): Boolean = {
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(java.util.Base64.getMimeDecoder.decode(b64)))
        hashes.exists(bf.mightContainLong)
      }
      m.files.zip(m.rows).collect {
        case (f, r) if current(f) && !r.isNullAt(b) && mayHold(r.getString(b)) => f
      }.distinct
    }

  /** Each probe column's distinct non-NULL values on the driver, as
    * strings (the stats verdict) and as xxhash64 longs (the bloom verdict;
    * Spark hashes them, so the keys hash byte-identically to what
    * bloom_filter_agg saw at build time, whatever the key's type). One
    * collect of at most `maxProbes + 1` rows, deduped on the driver (a
    * `distinct()` would start an aggregate job; over a local probe frame
    * the collect starts none). None when the frame holds more than
    * `maxProbes` rows.
    */
  private def collectProbes(probes: DataFrame,
      maxProbes: Int): Option[Map[String, (Seq[String], Seq[Long])]] = {
    import org.apache.spark.sql.functions.{col, xxhash64}
    val cols = probes.columns.toIndexedSeq
    val rows = probes.select(cols.flatMap(c =>
        Seq(col(c).cast("string"), xxhash64(col(c)))): _*)
      .limit(math.min(maxProbes.toLong + 1, Int.MaxValue).toInt).collect()
    if (rows.length > maxProbes) None
    else Some(cols.indices.map { i =>
      val live = rows.filterNot(_.isNullAt(2 * i))
      cols(i) -> (live.map(_.getString(2 * i)).distinct.toSeq,
        live.map(_.getLong(2 * i + 1)).distinct.toSeq)
    }.toMap)
  }

  /** Point-lookup file pruning over every skipping index the table
    * carries. Each probe column prunes through its own indexes —
    * `_graft_stats` bounds ∩ `_graft_bloom/<c>` membership, so a table
    * carrying both gets the tighter of either — and the columns' verdicts
    * AND together: a file survives only if EVERY indexed column says
    * "maybe". Sound for conjunctive lookups because a row matching
    * (c1 = v1 AND c2 = v2) puts v1 in the file's c1 values and v2 in its
    * c2 values; tuple-set probes (rows of (v1, v2) pairs) stay sound for
    * the same reason — each column prunes by its VALUE SET, which can only
    * keep more files than the exact tuple semantics would.
    *
    * On a bloom-only table a probe column with no bloom is skipped (at
    * least one column must carry an index). On a stats-bearing table every
    * probe column is treated as stats-indexed: a column the manifest does
    * not track, or tracks with numeric bounds (where lexicographic probing
    * would be unsound — [[probeDataFiles]]), fails LOUDLY unless the
    * column's bloom answers instead; a silently unindexed column must
    * never masquerade as a no-prune verdict. Any stale index refuses
    * ([[validatedManifest]]). A probe frame of more than `maxProbes` rows
    * degrades to no prune — weakening, never breaking, the lookup.
    *
    * @return (files kept, in URI.getPath form, sorted; total current files)
    */
  def lookupFiles(spark: SparkSession, path: String, probes: DataFrame,
      maxProbes: Int = 100000): (Seq[String], Int) = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    lookupFilesAt(spark, fs, path, headManifest(spark, fs, path), probes,
      maxProbes)
  }

  /** [[lookupFiles]] against the head manifest already resolved. */
  private def lookupFilesAt(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      head: Option[VersionManifest], probes: DataFrame,
      maxProbes: Int): (Seq[String], Int) = {
    require(probes.columns.nonEmpty, "lookupFiles: no probe columns")
    val hp = new org.apache.hadoop.fs.Path(path)
    val statsDir = StatsManifest.dir(path)
    val hasStats = fs.exists(statsDir)
    val bloomed = probes.columns.filter(c => fs.exists(bloomDir(path, c))).toSet
    val indexed = probes.columns.toSeq.filter(c => hasStats || bloomed(c))
    require(indexed.nonEmpty,
      s"lookupFiles: no _graft_stats or _graft_bloom index on any of " +
        s"(${probes.columns.mkString(", ")}) under $path")
    val current = currentDataFilesAt(fs, hp, path, head)
    val live = current.toSet
    val stats = if (!hasStats) None else Some(validatedManifest(fs, statsDir,
      live, s"_graft_stats manifest under $path", "writeStats"))
    val blooms = indexed.filter(bloomed).map(c => c -> validatedManifest(fs,
      bloomDir(path, c), live, s"_graft_bloom/$c index under $path",
      "appendBloomIndex")).toMap
    val probed = collectProbes(probes.select(indexed.map(probes.col): _*), maxProbes)
      .getOrElse(return (current, current.size))
    val kept = indexed.map { c =>
      val (strs, hashes) = probed(c)
      val byBloom = blooms.get(c).map(bloomVerdict(_, live, hashes).toSet)
      val byStats = stats.flatMap { m =>
        try Some(statsVerdict(m, live, c, strs).toSet)
        catch { case _: IllegalArgumentException if byBloom.nonEmpty => None }
      }
      (byBloom ++ byStats).reduce(_ intersect _)
    }.reduce(_ intersect _)
    (kept.toSeq.sorted, current.size)
  }

  /** Point-lookup read over [[lookupFiles]]' prune — the caller still
    * applies the equality filters (superset contract, as with every
    * skipping read here).
    */
  def readLookup(spark: SparkSession, path: String, probes: DataFrame,
      maxProbes: Int = 100000): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = headManifest(spark, fs, path)
    refuseDvs(head.map(_.dvs).getOrElse(Nil), path, "readLookup")
    readFileSubset(spark, path,
      lookupFilesAt(spark, fs, path, head, probes, maxProbes)._1, head)
  }

  private def bloomDir(path: String, c: String) = {
    // the manifest dir name IS the column name (auto-refresh recovers the
    // column from the dir listing) — so restrict to identifier chars
    // instead of lossily sanitizing
    require(c.matches("[A-Za-z0-9_]+"),
      s"bloom index column '$c' must be [A-Za-z0-9_]+")
    new org.apache.hadoop.fs.Path(path, s"_graft_bloom/$c")
  }

  /** Keep every existing bloom index live over the files of `head`, the
    * manifest a commit just published — the bloom sibling of
    * [[keepStatsLive]]: O(fresh files) per indexed column, no-op without
    * an index. Same invariant: commits that add files are exactly the
    * ones that would otherwise flip the index's stale guard into refusing
    * every lookup. Dot-named entries are a publish's staging or aside
    * copies, not indexes; a column `head` no longer holds keeps its stale
    * index, as [[keepStatsLive]] keeps a stale manifest.
    */
  private def refreshBloomIndexes(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String,
      head: VersionManifest): Unit = {
    val root = new org.apache.hadoop.fs.Path(path, "_graft_bloom")
    if (!fs.exists(root)) return
    val cols = fieldsOf(head.schemaDdl).map(_._1).toSet
    fs.listStatus(root).map(_.getPath.getName)
      .filter(c => !c.startsWith(".") && cols(c))
      .foreach(c => appendBloomIndexAt(spark, fs, path, c, Some(head)))
  }

  /** numBits for a target false-positive rate at `n` expected items. */
  private def bloomBits(n: Long, fpp: Double): Long = {
    val ln2 = math.log(2)
    math.max(64L, math.ceil(-n * math.log(fpp) / (ln2 * ln2)).toLong)
  }

  /** Per-file bloom manifest lines for `files` of table `path`: one line
    * per data file with the base64 filter over xxhash64(`c`), from one
    * distributed aggregate. NULL keys are not sketched (an equality probe
    * never matches NULL), matching the stats manifest's all-null
    * convention.
    */
  private def bloomLines(spark: SparkSession, path: String, c: String,
      files: Seq[String], head: Option[VersionManifest],
      expectedPerFile: Long, fpp: Double): Seq[String] = {
    import org.apache.spark.sql.functions.{base64, col, input_file_name, when, xxhash64}
    // null keys are skipped via a null hash (the aggregate ignores nulls),
    // NOT by pre-filtering rows: an all-null file must still emit its
    // manifest row (null bloom → provably probe-free → prunable), or the
    // stale-coverage guard would refuse the table forever
    manifestLines(readFileSubset(spark, path, files, head)
      .groupBy(input_file_name().as("file"))
      .agg(base64(graft.functions.TextFunctions.bloom_filter_agg(
        when(col(c).isNotNull, xxhash64(col(c))), expectedPerFile,
        bloomBits(expectedPerFile, fpp))).as("bloom_b64")))
  }

  /** FULL bloom-index (re)build for column `c`: sketch every current data
    * file and publish the manifest via the staged-write + rename-aside
    * swap (readers never see a partial manifest). Returns files covered.
    */
  def writeBloomIndex(spark: SparkSession, path: String, c: String,
      expectedPerFile: Long = 100000L, fpp: Double = 0.01): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    writeBloomIndexAt(spark, fs, path, c, headManifest(spark, fs, path),
      expectedPerFile, fpp)
  }

  /** [[writeBloomIndex]] against the head manifest already resolved. */
  private def writeBloomIndexAt(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, c: String,
      head: Option[VersionManifest], expectedPerFile: Long,
      fpp: Double): Long = {
    refuseColMap(head.map(_.colmap).getOrElse(Nil), path, "writeBloomIndex")
    val files = currentDataFilesAt(fs, new org.apache.hadoop.fs.Path(path),
      path, head)
    replaceManifest(fs, bloomDir(path, c),
      bloomLines(spark, path, c, files, head, expectedPerFile, fpp))
    files.size.toLong
  }

  /** INCREMENTAL bloom-index maintenance — the O(batch) complement of
    * [[writeBloomIndex]] for append-only tables: sketch ONLY the data
    * files the index does not cover yet and add their rows as one more
    * manifest file ([[appendManifest]]: atomic rename, readers see the
    * union, self-folding). Falls back to a full rebuild when no index
    * exists.
    *
    * @return newly covered files
    */
  def appendBloomIndex(spark: SparkSession, path: String, c: String,
      expectedPerFile: Long = 100000L, fpp: Double = 0.01): Long = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    appendBloomIndexAt(spark, fs, path, c, headManifest(spark, fs, path),
      expectedPerFile, fpp)
  }

  /** [[appendBloomIndex]] against the head manifest already resolved. */
  private def appendBloomIndexAt(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, path: String, c: String,
      head: Option[VersionManifest], expectedPerFile: Long = 100000L,
      fpp: Double = 0.01): Long = {
    val hp = new org.apache.hadoop.fs.Path(path)
    refuseColMap(head.map(_.colmap).getOrElse(Nil), path, "appendBloomIndex")
    val out = bloomDir(path, c)
    if (!fs.exists(out))
      return writeBloomIndexAt(spark, fs, path, c, head, expectedPerFile, fpp)
    val covered = StatsManifest.read(fs, out).files.toSet
    val fresh = currentDataFilesAt(fs, hp, path, head).filterNot(covered)
    if (fresh.isEmpty) return 0L
    appendManifest(fs, hp, out,
      bloomLines(spark, path, c, fresh, head, expectedPerFile, fpp))
    fresh.size.toLong
  }

  /** METADATA-ONLY bloom-manifest compaction — [[compactStats]]' sibling
    * for `_graft_bloom/<c>`, the same driver fold ([[foldManifest]]):
    * folds the per-commit append files back into ONE manifest file and
    * drops rows for data files no longer ON DISK. Reads only the
    * manifest, never data; no Spark job. @return (manifest files before,
    * after)
    */
  def compactBloomIndex(spark: SparkSession, path: String,
      c: String): (Long, Long) = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val d = bloomDir(path, c)
    require(fs.exists(d), s"no _graft_bloom/$c index under $path")
    foldManifest(fs, hp, d)
  }

  /** All parquet data files under `dir`, recursing through partition dirs;
    * underscore/dot metadata names are skipped at every level.
    */
  private def listDataFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Seq[String] =
    fs.listStatus(dir).toSeq
      .filterNot(s => s.getPath.getName.startsWith("_") ||
        s.getPath.getName.startsWith("."))
      .flatMap {
        case d if d.isDirectory => listDataFiles(fs, d.getPath)
        case f => Seq(f.getPath.toUri.getPath)
      }

  /** Z-ORDER clustered write — the multi-column locality lever behind
    * Delta's `OPTIMIZE ZORDER BY`, for plain parquet + the `_graft_stats`
    * manifest. Range layout gives ONE column tight per-file min/max
    * bounds; any second column's bounds span the whole domain and its
    * predicates skip nothing. Interleaving the bits of per-column rank
    * buckets (the Z-curve) makes file-contiguous z-ranges map to small
    * HYPER-RECTANGLES in value space, so every clustered column gets
    * usable bounds — with k columns each file's side shrinks ~2^(bits/k),
    * the classic trade against single-column layout.
    *
    * Mechanics, all scale-safe: one aggregate for per-column min/max
    * (bounded: 2k scalars), a NARROW map computing bucket =
    * floor((x−min)/(max−min+1) · 2^bits) per column and OR-ing shifted
    * bits together (pure codegen arithmetic — no window, no rank shuffle,
    * which is how this stays one exchange end-to-end), then ONE
    * repartitionByRange on the z-value and a stats manifest over the
    * clustered columns. Numeric/date columns only (dates cluster by
    * epoch day).
    */
  def zorderWrite(spark: SparkSession, df: DataFrame, path: String,
      clusterCols: Seq[String], nFiles: Int, bitsPerCol: Int = 8): Unit = {
    df.withColumn("_graft_z", zValueColumn(df, clusterCols, bitsPerCol))
      .repartitionByRange(nFiles, org.apache.spark.sql.functions.col("_graft_z"))
      .drop("_graft_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
    writeStats(spark, path, clusterCols)
    ()
  }

  /** The interleaved-bits z-value for `df`'s rows over `clusterCols` —
    * shared by [[zorderWrite]] (plain tables) and [[zorderVersioned]]
    * (versioned tables). One bounded aggregate for per-column min/max,
    * then pure codegen arithmetic; no window, no rank shuffle.
    */
  private def zValueColumn(df: DataFrame, clusterCols: Seq[String],
      bitsPerCol: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(clusterCols.size >= 2, "zorder needs >= 2 columns (else use range)")
    require(clusterCols.size * bitsPerCol <= 62, "z-value must fit a long")
    def asNum(c: String) = df.schema(c).dataType match {
      case org.apache.spark.sql.types.DateType =>
        datediff(col(c), lit("1970-01-01").cast("date")).cast("double")
      case _: org.apache.spark.sql.types.NumericType => col(c).cast("double")
      case t => throw new IllegalArgumentException(
        s"zorder column $c: unsupported type $t")
    }
    val boundAggs = clusterCols.flatMap(c => Seq(min(asNum(c)), max(asNum(c))))
    val bounds = df.agg(boundAggs.head, boundAggs.tail: _*).head()
    val nBuckets = 1L << bitsPerCol
    val buckets = clusterCols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
      // +1 on the span keeps the max value inside the top bucket
      val b = floor((asNum(c) - lit(lo)) / lit(hi - lo + 1) * lit(nBuckets))
        .cast("long")
      least(greatest(b, lit(0L)), lit(nBuckets - 1))
    }
    // bit interleave: output bit (j*k + i) takes bit j of column i
    (0 until bitsPerCol).flatMap { j =>
      buckets.zipWithIndex.map { case (b, i) =>
        shiftleft(shiftright(b, j).bitwiseAND(lit(1L)),
          j * clusterCols.size + i)
      }
    }.reduce(_.bitwiseOR(_))
  }

  /** OPTIMIZE ZORDER for VERSIONED tables — the multi-column sibling of
    * [[rerangeVersioned]] (which restores ONE column's locality): the
    * current file set is rewritten clustered along the z-curve over
    * `clusterCols` and published as a checkpoint version, so EVERY
    * clustered column regains usable per-file min/max bounds in
    * `_graft_stats`. Old versions keep their file lists (time travel
    * intact); [[vacuum]] later reclaims the superseded originals. Cost ∝
    * current table bytes — periodic housekeeping, exactly Delta's
    * `OPTIMIZE ZORDER BY` shape.
    *
    * @return (published version, data files after the rewrite)
    */
  def zorderVersioned(spark: SparkSession, path: String,
      clusterCols: Seq[String], targetFileRows: Long,
      bitsPerCol: Int = 8): (Long, Long) = {
    import org.apache.spark.sql.functions.col
    require(targetFileRows > 0, "targetFileRows must be positive")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(versionsDir(path)),
      s"$path carries no _graft_versions manifests; use zorderWrite for " +
        "plain tables")
    val (v0, m0) = resolveHead(spark, fs, path)
    refuseColMap(m0.colmap, path, "zorderVersioned")
    if (m0.entries.isEmpty) return (v0, 0L)
    val nRows = m0.entries.map(_._2).sum
    val nOut = math.max(1L, (nRows + targetFileRows - 1) / targetFileRows)
    val cur = readManifestFiles(spark, fs, path, m0)
    val (_, rewritten) = writeClaimedDir(spark, fs, path,
      cur.withColumn("_graft_z", zValueColumn(cur, clusterCols, bitsPerCol))
        .repartitionByRange(nOut.toInt, col("_graft_z"))
        .drop("_graft_z"))
    // checkpoint-form commit with disjoint-set rebase (see rerangeVersioned)
    val pub = commit(spark, fs, path, m0, "zorder", add = rewritten,
      remove = m0.entries.map(_._1), full = true)
    trackStats(spark, fs, path, clusterCols)
    (pub.version, rewritten.size.toLong)
  }

  /** Small-file compaction — the OPTIMIZE equivalent for plain parquet
    * dirs, hive-partitioned ones and streaming-sink dirs included (a
    * versioned table folds its small files with [[optimizeVersioned]]).
    * Streaming sinks and incremental appends accrete one file per
    * micro-batch/run; at 100 TB that is a week-one pathology (every scan
    * pays per-file open + listing, and the driver's file index bloats).
    * `compact` rewrites a directory into ceil(bytes / targetFileBytes)
    * files via `coalesce` (NARROW — no shuffle; compaction moves bytes,
    * it should never pay an exchange) and publishes via RENAME-ASIDE:
    * old dir → dot-prefixed aside, staging → dir, aside deleted last.
    * A reader never sees a MIX of layouts, and a crash at any step leaves
    * a complete copy on disk (the next compact call restores a stranded
    * aside). The one residual window — the instant between the two
    * renames — can surface to a concurrent lister as a briefly missing
    * dir, never as partial data; plain-FS dir swaps cannot close it
    * without a pointer indirection (that is what [[writeVersioned]] is
    * for). An existing `_graft_stats` manifest is regenerated after the
    * rewrite (the old one described the old files). Hive-partitioned
    * tables are compacted per LEAF dir, preserving the partition layout
    * and its pruning.
    *
    * A dir carrying a `_spark_metadata` streaming-sink log is refused
    * unless `dropStreamingMetadata = true`: readers of such dirs trust
    * the log, not the listing, and would miss the compacted files. With
    * the flag, the log is removed and the dir becomes a plain parquet
    * table (do this only on a sink that has stopped appending).
    *
    * @return (filesBefore, filesAfter) across all compacted leaves
    */
  def compact(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20,
      dropStreamingMetadata: Boolean = false): (Long, Long) = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    requireNoColMap(spark, fs, path, "compact")
    recoverAside(fs, hp) // finish a publish a prior crash left half-done
    // a versioned table's v= dirs are not partitions and its files are
    // shared across version manifests: a dir rewrite would corrupt every
    // manifest. Maintenance on versioned tables = publish a new version.
    require(!fs.exists(versionsDir(path)),
      s"$path carries _graft_versions manifests; use optimizeVersioned " +
        "(small files fold into a NEW version, shared files stay " +
        "immutable) and vacuum old versions instead of an in-place rewrite")
    val meta = new org.apache.hadoop.fs.Path(path, "_spark_metadata")
    if (fs.exists(meta)) {
      require(dropStreamingMetadata,
        s"$path carries a _spark_metadata streaming-sink log; compacting " +
          "under it would hide files from log-trusting readers. Stop the " +
          "sink and pass dropStreamingMetadata = true to freeze the dir " +
          "into a plain parquet table first.")
      fs.delete(meta, true)
    }
    // the rewrite drops the _graft_stats manifest (it describes the OLD
    // files); remember its columns so a fresh one is published after
    val statsDir = StatsManifest.dir(path)
    val statsCols = StatsManifest.trackedAt(fs, path)
    val children = fs.listStatus(hp)
    val leafDirs = children.filter(s => s.isDirectory &&
      s.getPath.getName.contains("=") && !s.getPath.getName.startsWith("_"))
    val result = if (leafDirs.nonEmpty) {
      // hive-partitioned: recurse per partition dir (partition columns
      // live in the PATH, so each leaf compacts independently)
      if (statsCols.nonEmpty) fs.delete(statsDir, true)
      leafDirs.map(d => compact(spark, d.getPath.toString, targetFileBytes))
        .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    } else {
      val dataFiles = children.filter(s => s.isFile &&
        !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      val nBefore = dataFiles.length.toLong
      val totalBytes = dataFiles.map(_.getLen).sum
      val nOut = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes)
      if (nBefore <= nOut) (nBefore, nBefore) // already compact: no rewrite
      else {
        // staging/aside live as DOT-PREFIXED siblings: Spark's file index
        // ignores them, so a concurrent scan of the parent table can never
        // discover a half-written "day=X.compacting" as a partition
        val staging = stagingPath(hp)
        readParquet(spark, path)
          .coalesce(nOut.toInt)
          .write.mode(SaveMode.Overwrite).parquet(staging.toString)
        // publish via RENAME-ASIDE, not delete-then-rename: both complete
        // copies exist until the new one is in place, so a crash at any
        // step leaves a complete dir on disk (recoverAside above renames
        // a stranded .old back in). The old-dir-missing window shrinks to
        // the instant between the two renames and is never data loss.
        val aside = asidePath(hp)
        fs.delete(aside, true)
        require(fs.rename(hp, aside),
          s"compaction: could not move $path aside (table unchanged)")
        if (!fs.rename(staging, hp)) {
          fs.rename(aside, hp) // roll back: old layout returns intact
          sys.error(s"compaction: staging rename failed for $path " +
            s"(original layout restored; rewrite left at $staging)")
        }
        fs.delete(aside, true)
        val nAfter = fs.listStatus(hp).count(s => s.isFile &&
          !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
        (nBefore, nAfter.toLong)
      }
    }
    if (statsCols.nonEmpty) writeStats(spark, path, statsCols)
    result
  }

  /** If a crash stranded the table at `<path>.old` (between compact's two
    * renames), restore it; a stale staging dir is cleaned opportunistically.
    */
  private def stagingPath(hp: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(hp.getParent, s".${hp.getName}.compacting")

  private def asidePath(hp: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(hp.getParent, s".${hp.getName}.old")

  private def recoverAside(fs: org.apache.hadoop.fs.FileSystem,
      hp: org.apache.hadoop.fs.Path): Unit = {
    val aside = asidePath(hp)
    if (!fs.exists(hp) && fs.exists(aside)) {
      fs.rename(aside, hp)
      fs.delete(stagingPath(hp), true)
    }
  }
}
