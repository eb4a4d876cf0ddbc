package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental (cross-batch) corpus curation — the production shape of
  * [[CorpusOps.curate]]: a corpus that grows by shards, where each new
  * shard is curated against everything ingested so far WITHOUT
  * re-scanning any old shard's text. The reference pipeline is
  * single-corpus (its ETL re-extracts a full study per run,
  * `/root/reference/kf_task_fhir_etl/etl/ingest.py:519-542`); this is
  * the engine extension a continuously-ingested 100 TB corpus needs —
  * re-running near-dup clustering from scratch per shard is the one
  * quadratic-in-history cost left in the batch form.
  *
  * == State (parquet, batch-partitioned: `<table>/batch=<k>/`) ==
  *
  *  - `docs`   — per-doc curation metadata for every STAGE-1 survivor
  *               (lang/quality gates + exact dedup): id, pred_lang,
  *               quality_e6, n_tok, red_md5, fp, and the distinct
  *               shingle set `sh`. Everything the final output and the
  *               near-dup verify ever need — text is read exactly once,
  *               at its own shard's ingest.
  *  - `prefix` — the PPJoin prefix index (shingle → doc) under the md5
  *               order ([[DedupOps.hashPrefixArray]]). The md5 order is
  *               content-determined, so stored prefixes stay valid as
  *               the corpus grows (a doc-frequency order would not).
  *  - `edges`  — verified near-dup pairs (Jaccard ≥ t). Old∕old edges
  *               never change (Jaccard is a function of the two docs
  *               alone), so each batch appends only new∕new + new∕old.
  *  - `clusters` — the NON-TRIVIAL rows of the corpus-wide cluster map
  *               after this batch (doc_id → component-min cluster,
  *               rows where cluster ≠ doc_id only — singletons, the
  *               overwhelming majority, are implicit). Maintained
  *               incrementally: each batch runs connected components
  *               over the CONDENSED graph (this batch's edges with
  *               endpoints remapped through the previous snapshot's
  *               reps) — O(new edges), never O(corpus edge history) —
  *               then composes the result onto the previous snapshot
  *               with one broadcast join. [[curated]] reads the latest
  *               snapshot instead of re-running CC over the full
  *               accumulated edge set.
  *  - `stats`  — per-batch aggregate STATE (count/sum/min/max by
  *               pred_lang), re-aggregated in one pass so corpus totals
  *               never rescan anything.
  *
  * == Exactly-once ==
  *
  * Every state table for batch k is written by idempotent OVERWRITE of
  * its own `batch=k` directory, gated on the `_SUCCESS` markers: a
  * replayed `ingestShard` whose batch is fully landed returns without
  * reading anything; a crash mid-shard leaves some tables unmarked and
  * the restart recomputes the batch from batches < k (untouched by the
  * crash) and overwrites — the computation is deterministic, so the
  * landed bytes are the same ones the crashed attempt would have
  * written. (Same contract as the (sink, batch) ledger of
  * [[graft.sinks.ExactlyOnceSink]], with the parquet directory itself
  * as the ledger row.)
  *
  * == Parity contract ==
  *
  * After ingesting shards S₁…Sₙ (in ascending doc-id order — the
  * natural "new data gets new ids" ingestion), [[curated]] is
  * row-for-row identical to the one-shot `CorpusOps.curate(S₁ ∪ … ∪ Sₙ)`
  * — pinned by the c2 battery row, which shares c1's DuckDB oracle.
  * Ascending ids are what make stage-1 exact dedup monotone (a new doc
  * can never displace an old fingerprint's min-id keeper); everything
  * downstream (edge set, connected components, packing) is derived
  * from state alone and is order-free.
  *
  * == Scale shape ==
  *
  * Per shard: the shard's text is scanned once (narrow kernels); the
  * fp check is one column-pruned anti-join against the stored fp
  * column; new∕old candidates are ONE equi-join of the shard's prefix
  * explode against the stored prefix index (bucket the state dir by
  * shingle via [[graft.sinks.ParquetSink.writeBucketed]] to make it
  * exchange-free at 100 TB); the verify fetch joins ship shingle sets
  * only for candidate ids. [[curated]] reads metadata columns only —
  * parquet pruning never touches `sh`.
  */
object IncrementalCurateOps {

  final case class CurateConfig(lang: String = "en",
      minQualityE6: Long = 550000L, shingleN: Int = 3,
      jaccardThreshold: Double = 0.5, budget: Int = 512, shards: Int = 8)

  private val Tables = Seq("docs", "prefix", "edges", "clusters", "stats")

  /** The tables every batch has carried since round 1 — the
    * `clusters` snapshots were added in round 15. Exposed so other
    * state consumers (the streaming ingest guard) never hardcode a
    * second copy of the list: a drifted copy containing a table with
    * zero markers would make its landed-id intersection empty and
    * silently disable whatever guard reads it.
    */
  private[graft] val CoreTables = Seq("docs", "prefix", "edges", "stats")

  /** Batches landed under the legacy (pre-snapshot, rounds ≤ 14) state
    * shape: core tables committed, `clusters/batch=k` missing. Adding a
    * table to [[Tables]] silently invalidates existing state dirs — the
    * all-or-nothing visibility intersection would see ZERO landed
    * batches, the in-order guard would pass on an empty list, and
    * [[curated]] would silently drop the whole old corpus — so both
    * entry points check for legacy batches; [[ingestShard]] (already a
    * state WRITER) migrates them in place, [[curated]] (a read API —
    * possibly running with read-only credentials, possibly concurrent
    * with other readers) refuses loudly and names the migration call.
    */
  private def legacyBatches(spark: SparkSession,
      stateDir: String): Seq[Long] = {
    val legacy = BatchState.landedBatchIds(spark, stateDir, CoreTables, None)
    val complete = BatchState.landedBatchIds(spark, stateDir, Tables, None)
    legacy.filterNot(complete.toSet)
  }

  /** Run the legacy migration (when needed) and return the fully-landed
    * batch ids — the single listing [[ingestShard]] reuses for its
    * replay check AND its in-order guard. The legacy probe costs a
    * second full listing, so it runs AT MOST ONCE per state directory:
    * a `.migrated` marker (written under the caller's single-writer
    * lease after the probe, whether or not anything needed migrating)
    * reduces every later ingest to one `exists` + one listing —
    * without it the constant-RPC goal of [[BatchState]] was doubled on
    * the steady-state hot path. A migration that CRASHES never writes
    * the marker, so the next ingest re-probes and heals the
    * partially-migrated directory.
    */
  private def migrateAndList(spark: SparkSession,
      stateDir: String): Seq[Long] = {
    val marker = new org.apache.hadoop.fs.Path(s"$stateDir/_manifest/.migrated")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(marker))
      BatchState.landedBatchIds(spark, stateDir, Tables, None)
    else {
      val core = BatchState.landedBatchIds(spark, stateDir, CoreTables, None)
      val complete = BatchState.landedBatchIds(spark, stateDir, Tables, None)
      val missing = core.filterNot(complete.toSet)
      val out =
        if (missing.isEmpty) complete
        else {
          migrateLegacyState(spark, stateDir)
          core // every core-landed batch is fully landed post-migration
        }
      fs.mkdirs(marker.getParent)
      fs.create(marker, true).close()
      out
    }
  }

  /** Materialize missing `clusters/batch=k` snapshots for batches that
    * landed under the legacy (pre-snapshot) state shape, folding each
    * batch's edges in ascending order — after which the directory is
    * indistinguishable from one written by the current build.
    * Idempotent. Run it once per legacy directory (or just keep
    * ingesting — [[ingestShard]] calls it); do NOT run it concurrently
    * with itself, for the same reason two ingests of the same batch
    * must not race: both would Overwrite the same snapshot directory.
    */
  def migrateLegacyState(spark: SparkSession, stateDir: String): Unit =
    BatchState.withLease(spark, stateDir) {
    for (k <- legacyBatches(spark, stateDir).sorted) {
      val prev = BatchState
        .landedBatchIds(spark, stateDir, Seq("clusters"), Some(k))
        .lastOption
        .map(p => spark.read.parquet(s"$stateDir/clusters/batch=$p"))
      val newIds = spark.read.parquet(s"$stateDir/docs/batch=$k")
        .select(col("doc_id"))
      val edgesK = spark.read.parquet(s"$stateDir/edges/batch=$k")
        .select(col("doc_a"), col("doc_b"))
      BatchState.land(DedupOps.foldClusterSnapshot(prev, newIds, edgesK),
        stateDir, "clusters", k)
    }
  }

  /** Batch ids that are visible as state: a batch counts only when ALL
    * of its tables carry `_SUCCESS` — per-table visibility would let a
    * crash between two table writes expose docs without their edges
    * (silently un-deduplicated survivors). The all-or-nothing check is
    * what makes the per-table overwrites compose into an atomic batch;
    * [[BatchState.landedBatchIds]] keeps the listing at ONE `globStatus`
    * round-trip per table (constant in batch count).
    */
  private def landedBatchIds(spark: SparkSession, stateDir: String,
      below: Option[Long]): Seq[Long] =
    BatchState.landedBatchIds(spark, stateDir, Tables, below)

  private def readState(spark: SparkSession, stateDir: String,
      table: String, below: Option[Long]): Option[DataFrame] = {
    val paths = landedBatchIds(spark, stateDir, below)
      .map(k => s"$stateDir/$table/batch=$k")
    if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
  }

  /** Curate one new shard against the state at `stateDir`, landing its
    * stage-1 survivors, prefix-index rows, new near-dup edges, and
    * aggregate-stats state under `batch=<batchId>`. Idempotent per
    * (stateDir, batchId): a replay of a landed batch is a no-op; a
    * restart after a mid-shard crash recomputes and overwrites.
    */
  def ingestShard(spark: SparkSession, newDocs: DataFrame, idCol: String,
      textCol: String, stateDir: String, batchId: Long,
      cfg: CurateConfig = CurateConfig()): Unit =
    BatchState.withLease(spark, stateDir) {
      ingestShardBody(spark, newDocs, idCol, textCol, stateDir, batchId, cfg)
    }

  private def ingestShardBody(spark: SparkSession, newDocs: DataFrame,
      idCol: String, textCol: String, stateDir: String, batchId: Long,
      cfg: CurateConfig): Unit = {
    val landedSoFar = migrateAndList(spark, stateDir)
    if (landedSoFar.contains(batchId)) return
    // fingerprint only the knobs that shape LANDED state (gates,
    // shingling, the near-dup threshold behind the prefix index and
    // edge set); budget/shards are read-time packing knobs applied by
    // curated() — changing them between ingests is legitimate
    BatchState.ensureParams(spark, stateDir, Map(
      "lang" -> cfg.lang, "minQualityE6" -> cfg.minQualityE6.toString,
      "shingleN" -> cfg.shingleN.toString,
      "jaccardThreshold" -> cfg.jaccardThreshold.toString))
    // enforce the documented in-order ingestion precondition LOUDLY: a
    // replay that arrives after a later batch already landed would
    // silently miss the cross-batch near-dup edges between this batch
    // and the later one (the later batch's new/old pass ran against a
    // state that did not contain these docs), so curated() would
    // diverge from the one-shot union without ever erroring
    BatchState.requireInOrder(landedSoFar, batchId)

    val scored = newDocs.select(col(idCol).as("doc_id"),
        col(textCol).as("text"),
        TextOps.langId(col(textCol)).as("pred_lang"),
        TextOps.qualityScoreMillionths(col(textCol)).as("quality_e6"))
      .where(col("pred_lang") === cfg.lang &&
        col("quality_e6") >= cfg.minQualityE6)
      .withColumn("fp", TextOps.fingerprint(col("text")))

    // stage-1 exact dedup: min-id per fingerprint WITHIN the shard,
    // then drop any fingerprint the corpus has already kept (old ids
    // precede new ids under the ascending-shard contract, so the old
    // keeper IS the union's min)
    val keepNew = scored.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val withinNew = scored.join(keepNew, Seq("doc_id"), "left_semi")
    val s1New = readState(spark, stateDir, "docs", Some(batchId)) match {
      case Some(old) =>
        withinNew.join(old.select(col("fp")), Seq("fp"), "left_anti")
      case None => withinNew
    }

    // Every downstream consumer (four landed tables + both edge legs)
    // derives from this one frame, whose lineage includes the gate
    // kernels and the fingerprint semi-join — persist it for the
    // duration of the shard's EAGER writes and release before
    // returning (the contaminationHitsBloom owner-release shape: this
    // method has a real owner scope, unlike the lazy query paths).
    val docsNew = s1New.select(col("doc_id"), col("pred_lang"),
      col("quality_e6"),
      size(TextOps.tokens(col("text"))).cast("long").as("n_tok"),
      md5(CorpusOps.redactPii(col("text"))).as("red_md5"),
      col("fp"),
      array_distinct(TextOps.shingles(col("text"), cfg.shingleN)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // near-dup edges gained by this shard: new/new over the persisted
      // sets, new/old via the persisted prefix index — old text is
      // never re-shingled; only the stored sets of candidate ids ship
      val newNew = DedupOps.ngramJaccardPairsFromSets(
          docsNew.select(col("doc_id").as("id"), col("sh")),
          cfg.jaccardThreshold)
        .select(col("doc_a"), col("doc_b"))
      val newOld = readState(spark, stateDir, "docs", Some(batchId)) match {
        case Some(old) =>
          val oldPrefix = readState(spark, stateDir, "prefix", Some(batchId)).get
          val newPrefix = docsNew.select(col("doc_id"),
            explode(DedupOps.hashPrefixArray(col("sh"), cfg.jaccardThreshold)).as("s"))
          val cand = newPrefix
            .join(oldPrefix.select(col("s"), col("doc_id").as("old_id")), Seq("s"))
            .select(col("doc_id").as("new_id"), col("old_id")).distinct()
          cand
            .join(docsNew.select(col("doc_id").as("new_id"), col("sh").as("sa")),
              Seq("new_id"))
            .join(old.select(col("doc_id").as("old_id"), col("sh").as("sb")),
              Seq("old_id"))
            .select(col("new_id"), col("old_id"),
              DedupOps.intersectCount(col("sa"), col("sb")).as("c"),
              size(col("sa")).as("na"), size(col("sb")).as("nb"))
            .where(col("c").cast("double") / (col("na") + col("nb") - col("c"))
              >= cfg.jaccardThreshold)
            .select(least(col("new_id"), col("old_id")).as("doc_a"),
              greatest(col("new_id"), col("old_id")).as("doc_b"))
        case None => newNew.limit(0)
      }

      val statsNew = docsNew.groupBy(col("pred_lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tok"),
        min(col("quality_e6")).as("min_quality_e6"),
        max(col("quality_e6")).as("max_quality_e6"))

      def land(df: DataFrame, table: String): Unit =
        df.write.mode(SaveMode.Overwrite)
          .parquet(s"$stateDir/$table/batch=$batchId")
      // docs/prefix/edges all derive from the persisted docsNew (plus
      // already-landed older batches) and land independently —
      // overlapped ([[BatchState.inParallel]]); the cluster fold below
      // stays sequential because it reads the landed edges back, and
      // stats lands LAST (after clusters) as the batch's effective
      // commit marker: a crash mid-ingest must never leave a shape
      // where every table but clusters carries _SUCCESS, which readers
      // would misread as pre-snapshot legacy state and refuse.
      BatchState.inParallel(Seq(
        () => land(docsNew, "docs"),
        () => land(docsNew.select(col("doc_id"),
          explode(DedupOps.hashPrefixArray(col("sh"), cfg.jaccardThreshold)).as("s"))
          .select(col("s"), col("doc_id")), "prefix"),
        () => land(newNew.unionAll(newOld), "edges")))

      // incrementally-maintained cluster map: fold THIS batch's edges
      // (read back from the just-landed parquet — the cheapest
      // materialization of the two-legged edge lineage) into the
      // previous snapshot via [[DedupOps.foldClusterSnapshot]] — CC
      // input is O(this batch's edges), never the accumulated edge
      // history.
      val edgesK = spark.read.parquet(s"$stateDir/edges/batch=$batchId")
      val newIds = docsNew.select(col("doc_id"))
      val prevSnap = landedBatchIds(spark, stateDir, Some(batchId)).lastOption
        .map(k => spark.read.parquet(s"$stateDir/clusters/batch=$k"))
      land(DedupOps.foldClusterSnapshot(prevSnap, newIds, edgesK), "clusters")
      // stats last — see the ordering note above the pool
      land(statsNew, "stats")
    } finally docsNew.unpersist(blocking = false)
  }

  /** The curated corpus after every landed batch: near-dup cluster
    * representatives with their token-budget pack assignment — the same
    * output shape (and bytes) as one-shot [[CorpusOps.curate]] over the
    * union. Reads state METADATA only: parquet column pruning drops
    * `sh`, the cluster map holds non-singleton rows only, and the pack
    * window runs per shard key, never globally. No connected-components
    * run happens here at all — the map was folded incrementally at each
    * [[ingestShard]], so this is O(docs metadata) regardless of how
    * many batches of edge history have accumulated (the pre-r15 shape
    * re-ran CC over the FULL edge set per call, the one recompute that
    * grew with corpus history).
    */
  def curated(spark: SparkSession, stateDir: String,
      cfg: CurateConfig = CurateConfig()): DataFrame =
    curated(spark, stateDir, cfg, None)

  /** [[curated]] AS OF a batch id: the curated view as it stood when
    * `asOfBatch` was the newest landed shard — consistent by the
    * family's in-order contract (every prefix of the ascending ingest
    * IS a historical state; the cluster snapshot at the cut is exactly
    * the fold the cut's last ingest landed). History lives until
    * compaction folds it (the merged batch is one id; an older cut
    * then throws via the emptiness check).
    *
    * TAKEDOWNS APPLY IN FULL at every cut — deliberately different
    * from the search families' refuse-on-tombstones contract: a
    * takedown is a pure id anti-join with no statistics to cut, and a
    * compliance removal must hold in EVERY view of the corpus,
    * historical ones included (an as-of read that resurrected removed
    * content would defeat the takedown).
    */
  def curated(spark: SparkSession, stateDir: String, cfg: CurateConfig,
      asOfBatch: Option[Long]): DataFrame = {
    // a read API must not write: refuse legacy state loudly instead of
    // migrating in place (concurrent readers would race the Overwrite,
    // and read-only credentials would fail opaquely mid-"read")
    val legacy = legacyBatches(spark, stateDir)
    require(legacy.isEmpty,
      s"state at $stateDir has ${legacy.size} batch(es) in the legacy " +
        "pre-snapshot shape; run IncrementalCurateOps.migrateLegacyState " +
        "(or any ingestShard) once before reading")
    val landed = asOfBatch match {
      case Some(c) =>
        BatchState.landedBatchIdsAsOf(spark, stateDir, Tables, c)
      case None => landedBatchIds(spark, stateDir, None)
    }
    if (landed.isEmpty)
      throw new IllegalStateException(
        s"no landed batches under $stateDir" + asOfBatch.map(b =>
          s" at or below batch $b (compaction may have folded the " +
            "history you are asking for)").getOrElse(""))
    val docs = spark.read
      .parquet(landed.map(k => s"$stateDir/docs/batch=$k"): _*)
      .select("doc_id", "pred_lang", "quality_e6", "n_tok", "red_md5")
    // reps = docs minus the snapshot's non-trivial assignments (a doc
    // absent from the map is its own cluster min)
    val nonReps = spark.read
      .parquet(s"$stateDir/clusters/batch=${landed.max}")
      .select("doc_id")
    val s2 = docs.join(nonReps, Seq("doc_id"), "left_anti")
    val packed = CorpusOps.packSequences(s2, "doc_id", "__unused_text",
      cfg.budget, cfg.shards,
      carry = Seq(col("pred_lang"), col("quality_e6"), col("red_md5")),
      tokenCount = Some(col("n_tok")))
    // takedowns apply AFTER packing: survivors keep their pack ids (a
    // resumed run sees a hole, never a reshuffle) — see [[Curation]]
    BatchState.readTombstones(spark, stateDir, TakedownTables) match {
      case Some(d) => packed.join(d, Seq("doc_id"), "left_anti")
      case None => packed
    }
  }

  // ------------------------------------------------------------ takedown

  private[graft] val TakedownTables = Seq("del_ids")

  /** The doc_id column of every stage-1-kept document currently VISIBLE
    * in state — the recovery source for a composed replay whose own
    * batch delta was folded away by compaction
    * ([[graft.streaming.Streaming.curateAndIndexBatch]]): the shard's
    * kept set is exactly its ids' intersection with this frame (a kept
    * doc is in the docs table by construction; a gated or exact-dup'd
    * doc never is, under the family's globally-unique-id contract).
    * Column-pruned to one id column — never the text.
    */
  private[graft] def keptDocIds(spark: SparkSession,
      stateDir: String): DataFrame = {
    val landed = landedBatchIds(spark, stateDir, None)
    require(landed.nonEmpty, s"no landed batches under $stateDir")
    spark.read.parquet(landed.map(k => s"$stateDir/docs/batch=$k"): _*)
      .select(col("doc_id"))
  }

  /** Corpus-level aggregate stats by language — ONE union read of every
    * batch's agg state and ONE re-aggregate (counts/sums add, extrema
    * combine; batches are disjoint doc sets), equal to a recompute over
    * the union. The earlier pairwise
    * [[graft.relational.RelationalOps.mergeAggStates]] reduce chain computed the same values but built an O(batches)-deep
    * plan of full-outer joins — at thousands of batches that is an
    * analyzer/optimizer blowup, not a data cost.
    */
  def corpusStats(spark: SparkSession, stateDir: String): DataFrame = {
    val landed = landedBatchIds(spark, stateDir, None)
    require(landed.nonEmpty, s"no landed batches under $stateDir")
    BatchState.readTombstones(spark, stateDir, TakedownTables) match {
      case None =>
        spark.read.parquet(landed.map(k => s"$stateDir/stats/batch=$k"): _*)
          .groupBy(col("pred_lang")).agg(
            sum(col("n_docs")).cast("long").as("n_docs"),
            sum(col("sum_tok")).cast("long").as("sum_tok"),
            min(col("min_quality_e6")).as("min_quality_e6"),
            max(col("max_quality_e6")).as("max_quality_e6"))
      case Some(d) =>
        // min/max are not invertible under deletion, so the agg-state
        // fold cannot honor takedowns by delta; recompute from the docs
        // METADATA minus the tombstones — column pruning never touches
        // `sh`, so this is O(docs metadata), the rare-takedown price of
        // exact stats
        spark.read.parquet(landed.map(k => s"$stateDir/docs/batch=$k"): _*)
          .select("doc_id", "pred_lang", "quality_e6", "n_tok")
          .join(d, Seq("doc_id"), "left_anti")
          .groupBy(col("pred_lang")).agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).cast("long").as("sum_tok"),
            min(col("quality_e6")).as("min_quality_e6"),
            max(col("quality_e6")).as("max_quality_e6"))
    }
  }

  /** The curation family's [[StateRoot]] declaration: docs, prefix,
    * edges and stats are per-batch-disjoint facts, the cluster map is a
    * snapshot (compaction keeps its newest batch — already the folded
    * view of all history; [[curated]] and [[ingestShard]] continue
    * unchanged on top). It declares no purge, TTL or bucketing.
    * Retained history keeps folded batches on disk so [[curated]] cuts
    * below a compaction fold stay servable — takedowns still apply at
    * EVERY cut.
    *
    * TAKEDOWNS are its deletions ([[StateRoot.delete]]): documents
    * permanently removed from the curated corpus — the write side of
    * the compliance loop whose read side is [[CorpusOps.curationReport]]
    * ("why is doc X in/out of the training set" → "remove doc X");
    * only stage-1 survivors (the `docs` table) can be taken down, and
    * [[curated]] and [[corpusStats]] honor them. Deliberately NOT
    * "curate the union minus these docs": a taken-down doc's exact and
    * near duplicates stay suppressed (resurrecting a near-copy of
    * removed content would defeat the takedown), and surviving docs
    * keep their pack assignments (the tombstone applies AFTER packing,
    * so a resumed training run sees a hole, never a reshuffle).
    */
  val Curation: StateFamily = StateFamily("curation",
    additiveTables = CoreTables, delTables = TakedownTables,
    liveIds = "docs" -> "doc_id", tombstoneCol = "doc_id",
    snapshotTables = Seq("clusters"),
    verbs = Set(StateFamily.RetainHistory))
}
