package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.ops.StateRoot

/** Structured Streaming surface (SURVEY §2.7 — green-field beyond the
  * strictly-batch reference): windowed aggregates, session windows,
  * watermarked dedup. Each transform is expressed once and works on BOTH
  * batch and streaming DataFrames (stream/batch parity is the tested
  * contract), so the 100 TB batch plan and the incremental streaming
  * plan share one definition.
  */
object Streaming {

  /** Tumbling (or sliding) window aggregate over an event-time column. */
  def windowedCounts(events: DataFrame, windowLen: String,
      slide: Option[String] = None): DataFrame = {
    val w = slide.map(s => window(col("ts"), windowLen, s))
      .getOrElse(window(col("ts"), windowLen))
    events.groupBy(w.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("w.start").as("ws"), col("w.end").as("we"),
        col("event_type"), col("n"), col("total"))
  }

  /** Session windows per user with a fixed inactivity gap. */
  def sessionStats(events: DataFrame, gap: String): DataFrame =
    events.groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("total"))

  /** Streaming variants: add the watermark (bounds state, admits late
    * data up to `lateness`) before the stateful aggregation.
    */
  def streamingWindowedCounts(events: DataFrame, windowLen: String,
      lateness: String, slide: Option[String] = None): DataFrame =
    windowedCounts(events.withWatermark("ts", lateness), windowLen, slide)

  def streamingSessionStats(events: DataFrame, gap: String, lateness: String): DataFrame =
    sessionStats(events.withWatermark("ts", lateness), gap)

  /** Per-window top-k event types by count, ranked deterministically
    * (count desc, type asc) — the trending-now / leaderboard query.
    * One definition serves batch and the streaming foreachBatch form:
    * rank-over-aggregate isn't incrementally maintainable (a late row
    * can reorder a whole window), so the streaming deployment runs
    * [[streamingWindowedCounts]] (watermark-bounded state) and applies
    * THIS ranking per micro-batch in foreachBatch over the closed
    * windows — the standard pattern, exercised in `StreamingSpec`.
    *
    * Scale: the rank window runs on the AGGREGATED (windows × types)
    * table, never on raw events; WindowGroupLimit pushes the top-k
    * below its shuffle.
    */
  def windowedTopK(events: DataFrame, windowLen: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1 && k <= 1000, s"k in 1..1000, got $k")
    val counts = windowedCounts(events, windowLen)
    val w = Window.partitionBy(col("ws"))
      .orderBy(col("n").desc, col("event_type"))
    counts.withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= k)
      .select(col("ws"), col("we"), col("rnk"), col("event_type"), col("n"))
  }

  /** Watermarked exact dedup on a key set — the streaming analog of the
    * batch `dropDuplicates` (A5): state for a key is dropped once the
    * watermark passes, so state is bounded at any scale.
    */
  def streamingDedup(events: DataFrame, lateness: String, keys: Seq[String]): DataFrame =
    events.withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Batch twin of [[streamingDedup]] — `dropDuplicatesWithinWatermark`
    * is streaming-only by definition (Spark rejects it on batch frames),
    * so the batch fixpoint is: project to exactly the key set, drop
    * duplicates. With the projection equal to the keys the surviving row
    * is unique per key, making the result independent of arrival order;
    * StreamingSpec pins stream output == this on the same projection.
    */
  def dedupKeys(events: DataFrame, keys: Seq[String]): DataFrame =
    events.select(keys.map(col): _*).dropDuplicates()

  /** Stream-stream inner join with event-time bounds: clicks joined to
    * the impressions they follow within `maxDelay`. Works identically
    * on batch frames (plain conditional join) and on streams, where the
    * watermarks plus the time-range condition let Spark expire join
    * state — without the bound, stream-stream state grows forever.
    * Column contract: left has (join key `k`, `lts`), right has
    * (`k`, `rts`).
    */
  def timeBoundJoin(left: DataFrame, right: DataFrame,
      maxDelay: String): DataFrame =
    left.join(right,
      left("k") === right("k") &&
        right("rts") >= left("lts") &&
        right("rts") <= left("lts") + expr(s"INTERVAL $maxDelay"))
      .select(left("k").as("k"), col("lts"), col("rts"))

  def streamingTimeBoundJoin(left: DataFrame, right: DataFrame,
      lateness: String, maxDelay: String): DataFrame =
    timeBoundJoin(
      left.withWatermark("lts", lateness),
      right.withWatermark("rts", lateness),
      maxDelay)

  /** Stream-stream LEFT OUTER time-bound join — the common telemetry
    * shape: EVERY left event survives, padded with nulls when no right
    * event arrived within `maxDelay`. On streams this is only decidable
    * with the watermark: "no match" for a left row is known once the
    * watermark passes `lts + maxDelay`, at which point Spark emits the
    * null-padded row and drops its state — so unmatched-left results
    * trail the event time by (lateness + maxDelay), and state stays
    * bounded at any scale. Batch form is the same plain left join.
    */
  def timeBoundLeftJoin(left: DataFrame, right: DataFrame,
      maxDelay: String): DataFrame =
    left.join(right,
      left("k") === right("k") &&
        right("rts") >= left("lts") &&
        right("rts") <= left("lts") + expr(s"INTERVAL $maxDelay"),
      "left_outer")
      .select(left("k").as("k"), col("lts"), col("rts"))

  def streamingTimeBoundLeftJoin(left: DataFrame, right: DataFrame,
      lateness: String, maxDelay: String): DataFrame =
    timeBoundLeftJoin(
      left.withWatermark("lts", lateness),
      right.withWatermark("rts", lateness),
      maxDelay)

  /** Stream-stream FULL OUTER time-bound join — the reconciliation
    * shape: EVERY event on both sides survives, matched pairs within
    * `[lts, lts + maxDelay]`, the rest null-padded. On streams each
    * side's "no match" is decidable from the watermark alone (a left
    * row once it passes `lts + maxDelay`, a right row once no left
    * could still arrive in `[rts − maxDelay, rts]`), so state stays as
    * bounded as the inner/left forms. The key must `coalesce` across
    * sides — either may be null on an unmatched row.
    */
  def timeBoundFullJoin(left: DataFrame, right: DataFrame,
      maxDelay: String): DataFrame =
    left.join(right,
      left("k") === right("k") &&
        right("rts") >= left("lts") &&
        right("rts") <= left("lts") + expr(s"INTERVAL $maxDelay"),
      "full_outer")
      .select(coalesce(left("k"), right("k")).as("k"), col("lts"), col("rts"))

  def streamingTimeBoundFullJoin(left: DataFrame, right: DataFrame,
      lateness: String, maxDelay: String): DataFrame =
    timeBoundFullJoin(
      left.withWatermark("lts", lateness),
      right.withWatermark("rts", lateness),
      maxDelay)

  /** Stream-stream RIGHT OUTER time-bound join — the mirror of
    * [[timeBoundLeftJoin]], the attribution shape from the other side:
    * EVERY right event survives, null-padded when no left event
    * PRECEDED it within `maxDelay` ("clicks without an impression").
    * On streams a right row's "no match" is decidable once the
    * watermark passes `rts` — no left event in `[rts − maxDelay, rts]`
    * can still arrive — so unmatched-right emission trails by
    * (lateness) only, tighter than the left form's
    * (lateness + maxDelay), and state stays bounded identically. The
    * key projects from the RIGHT side (the left's is null on
    * unmatched rows). Batch form is the same plain right join.
    */
  def timeBoundRightJoin(left: DataFrame, right: DataFrame,
      maxDelay: String): DataFrame =
    left.join(right,
      left("k") === right("k") &&
        right("rts") >= left("lts") &&
        right("rts") <= left("lts") + expr(s"INTERVAL $maxDelay"),
      "right_outer")
      .select(right("k").as("k"), col("lts"), col("rts"))

  def streamingTimeBoundRightJoin(left: DataFrame, right: DataFrame,
      lateness: String, maxDelay: String): DataFrame =
    timeBoundRightJoin(
      left.withWatermark("lts", lateness),
      right.withWatermark("rts", lateness),
      maxDelay)

  /** Stream-stream LEFT SEMI time-bound join — the existence filter:
    * each left event survives AT MOST ONCE, iff some right event landed
    * within `[lts, lts + maxDelay]` ("views that converted", with no
    * fan-out on multiple matches — the set-semantics twin of
    * [[timeBoundJoin]]). Completes the engine's stream-stream join
    * family (inner / left / full / semi). On streams a left row can be
    * emitted as soon as ONE match arrives and its state dropped; the
    * no-match case expires like the left-outer form's, so state is
    * bounded the same way. Batch form is a plain `left_semi` join.
    */
  def timeBoundSemiJoin(left: DataFrame, right: DataFrame,
      maxDelay: String): DataFrame =
    left.join(right,
      left("k") === right("k") &&
        right("rts") >= left("lts") &&
        right("rts") <= left("lts") + expr(s"INTERVAL $maxDelay"),
      "left_semi")
      .select(left("k").as("k"), col("lts"))

  def streamingTimeBoundSemiJoin(left: DataFrame, right: DataFrame,
      lateness: String, maxDelay: String): DataFrame =
    timeBoundSemiJoin(
      left.withWatermark("lts", lateness),
      right.withWatermark("rts", lateness),
      maxDelay)

  /** CHAINED stateful aggregations — Spark 3.4+'s multiple-stateful-
    * operator support, exercised as the classic two-level rollup: a
    * 10-minute per-user tumbling count feeding an hourly re-aggregation
    * IN THE SAME streaming query (two state stores, one watermark; the
    * second `window()` takes the first's window STRUCT so event time
    * propagates through the chain). Until 3.4 this required two
    * queries glued by a sink; chained, the intermediate windows never
    * leave the cluster. Batch form is the same two-level groupBy, so
    * the oracle can re-derive both bucketings (`tw_chained_windows`).
    */
  def chainedWindowCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(col("w"), "1 hour").as("h"))
      .agg(sum(col("n")).as("events"), count(lit(1)).as("active_slots"))
      .select(col("h.start").as("hs"), col("events"), col("active_slots"))

  def streamingChainedWindowCounts(events: DataFrame,
      lateness: String): DataFrame =
    chainedWindowCounts(events.withWatermark("ts", lateness))

  /** Stream–static dimension enrichment: join a stream against a batch
    * dimension table. The static side is re-planned per micro-batch (so
    * a dimension refresh is picked up without restarting the query) and
    * needs no watermark — no stream-stream state is kept. `broadcast()`
    * on the dimension keeps every micro-batch shuffle-free; at a
    * driver-OOM-sized dimension, drop the hint and let AQE decide.
    */
  def enrich(stream: DataFrame, dim: DataFrame, key: String,
      broadcastDim: Boolean = true): DataFrame =
    stream.join(
      if (broadcastDim) broadcast(dim) else dim, Seq(key), "left")

  /** Incremental batch execution (`Trigger.AvailableNow`): process every
    * input file not yet recorded in the checkpoint, hand each
    * micro-batch to `batchFn`, then stop. Re-running with the same
    * checkpoint picks up ONLY files that arrived since — the periodic-
    * ingest pattern for a 100 TB table where reprocessing history every
    * run is not an option, with exactly-once file tracking for free.
    * `batchFn` typically writes an idempotent sink (keyed upsert /
    * partition overwrite) keyed by `batchId` for retry safety.
    */
  def runAvailableNow(transformed: DataFrame, checkpoint: String)(
      batchFn: (DataFrame, Long) => Unit): Unit = {
    val q = transformed.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(batchFn)
      .start()
    q.awaitTermination()
  }

  /** Streaming CURATE → INDEX composition — the full production loop a
    * continuously-ingested training corpus runs: every document shard
    * landing in `watchDir` is, inside ONE guarded micro-batch,
    *
    *  1. folded into the incremental curation state
    *     (`<stateDir>/curate`, [[graft.ops.IncrementalCurateOps]]);
    *  2. its curation-KEPT documents tokenized into the BM25 index
    *     state (`<stateDir>/index`,
    *     [[graft.ops.IncrementalIndexOps.ingestTextShard]]);
    *  3. documents the shard DEMOTED retracted from the index by
    *     tombstone ([[graft.ops.StateRoot.delete]]) —
    *     a new shard can merge two earlier near-dup clusters, demoting
    *     an already-indexed doc; append-only composition would leave it
    *     searchable forever.
    *
    * After every drain, [[graft.ops.IncrementalIndexOps.bm25Search]]
    * over `<stateDir>/index` is row-identical to a one-shot
    * curate-then-index over everything ever streamed (the
    * `st_curate_then_index` battery row pins this hash-exact against
    * the composed DuckDB oracle). The demotion pass feeds the ENTIRE
    * current non-rep set each batch — already-tombstoned and
    * never-indexed ids are exact no-ops, so no per-batch demotion diff
    * needs tracking. All three steps are idempotent per effective batch
    * id, so the harness's crash/replay machinery covers the composition
    * unchanged.
    */
  def curateAndIndexIngest(spark: SparkSession, watchDir: String,
      schema: StructType, checkpoint: String, stateDir: String,
      idCol: String, textCol: String,
      cfg: graft.ops.IncrementalCurateOps.CurateConfig =
        graft.ops.IncrementalCurateOps.CurateConfig(),
      compactEvery: Int = 0, keepHistory: Boolean = true): Unit = {
    val curateDir = s"$stateDir/curate"
    val indexDir = s"$stateDir/index"
    // audit history ON by default for the composed production loop:
    // auto-compaction (`compactEvery`) must not silently destroy the
    // as-of audit trail of a continuously-ingested corpus — folded
    // batches stay on disk (invisible to the live view) and cuts below
    // a fold keep resolving; pass keepHistory = false to reclaim
    // aggressively instead. Retained dirs and manifests do grow the
    // per-listing metadata cost over the stream's life — raising the
    // floor ([[graft.ops.StateRoot.retainHistory]] with a higher floor)
    // is the operator's history-GC cadence. Declared only when NO floor
    // exists yet: a purge or an operator GC legitimately RAISES the
    // floor, and a restart re-declaring 0 would trip the monotonic
    // guard and wedge the stream.
    if (keepHistory) {
      val B = graft.ops.BatchState
      Seq(curateDir, indexDir).foreach { root =>
        val dir = B.resolveGeneration(spark, root)
        if (B.historyFloor(spark, dir).isEmpty)
          B.setHistoryFloor(spark, dir, 0L)
      }
    }
    // composed = true: the closure's effects extend beyond the curate
    // root's core tables, so a compaction of that root must never
    // confirm this stream's ledger entries off the core tables alone —
    // a crash between the curate land and the index step would
    // otherwise be "confirmed" and the replay would skip the whole
    // closure, leaving the shard permanently unindexed. The keyed
    // variant hands the closure the CHECKPOINT id as well: the index
    // and deletion mirrors must be keyed by it, not by the curate
    // effective id, which a post-compaction replay re-assigns (a
    // re-keyed mirror would miss its own _LANDED confirmation and
    // duplicate the shard's postings).
    runAvailableNow(
      spark.readStream.schema(schema).parquet(watchDir), checkpoint) {
      (df, ckptId) =>
        ingestMicroBatchKeyed(df, ckptId, curateDir,
          graft.ops.IncrementalCurateOps.CoreTables, idCol,
          composed = true) { (d, eff, key) =>
          curateAndIndexBatch(d, eff, key, curateDir, indexDir, idCol,
            textCol, cfg)
        }
        // auto-compaction for BOTH roots of the composed loop — safe
        // mid-stream because compaction never confirms COMPOSED ledger
        // entries (a crash inside the closure still replays whole) and
        // the index-root mirrors key on the checkpoint id
        if (compactEvery > 0 && graft.ops.BatchState.landedBatchIds(
            df.sparkSession, curateDir,
            graft.ops.IncrementalCurateOps.CoreTables, None)
            .size >= compactEvery) {
          StateRoot(graft.ops.IncrementalCurateOps.Curation, curateDir)
            .compact(df.sparkSession)
          StateRoot(graft.ops.IncrementalIndexOps.Bm25, indexDir)
            .compact(df.sparkSession)
        }
    }
  }

  /** One composed curate → index micro-batch (the closure
    * [[curateAndIndexIngest]] runs — extracted so crash/replay/
    * compaction interleavings can be driven directly in specs).
    * Idempotent per effective batch id across ALL THREE state roots:
    * each sub-op no-ops on its own directory ledger, and the index and
    * deletion roots map the harness id into their own ascending id
    * spaces through persisted promise ledgers
    * ([[graft.ops.BatchState.mapExternalBatchId]]) — so compacting any
    * root between drains can never land its merged batch on the id the
    * next micro-batch will use (the silent-absorption hazard the
    * primary root's `_input` ledger already closes for curation).
    *
    * Both roots are generation-resolved ONCE at the top (mirroring
    * [[deletionMicroBatch]]): the raw per-batch parquet reads and the
    * external-id mirror ledgers below must address the same directory
    * the ops (which resolve internally) land into — a mirror written
    * against a cutover root's stale root-level tables would compute
    * effective ids from an EMPTY id space while data lands in the
    * resolved generation, colliding with the generation's own ids and
    * making `ingestTextShard` silently no-op the shard away.
    */
  private[graft] def curateAndIndexBatch(df: DataFrame, batchId: Long,
      extKey: Long, curateRoot: String, indexRoot: String, idCol: String,
      textCol: String,
      cfg: graft.ops.IncrementalCurateOps.CurateConfig): Unit = {
    val s = df.sparkSession
    val curateDir = graft.ops.BatchState.resolveGeneration(s, curateRoot)
    val indexDir = graft.ops.BatchState.resolveGeneration(s, indexRoot)
    graft.ops.IncrementalCurateOps.ingestShard(
      s, df, idCol, textCol, curateDir, batchId, cfg)
    // the freshest fold of the corpus-wide cluster map — ingestShard
    // just landed (or had already landed) batchId, so its snapshot is
    // committed
    val nonReps = s.read
      .parquet(s"$curateDir/clusters/batch=$batchId")
      .select(col("doc_id").as(idCol))
    // the shard's stage-1 kept set: normally the batch's own landed
    // delta — but a replay whose original delta was folded away by a
    // curate-root compaction re-lands an EMPTY delta (stage-1 exact
    // dedup drops every doc already kept in state), so an empty delta
    // falls back to the VISIBLE state: the shard ids' intersection
    // with the kept-docs table is the same set on both paths (a fresh
    // shard's ids are not yet in older state; a folded shard's
    // survivors are exactly the ids the merged batch kept)
    val delta = s.read
      .parquet(s"$curateDir/docs/batch=$batchId")
      .select(col("doc_id").as(idCol))
    val shardS1 =
      if (delta.isEmpty)
        df.select(col(idCol)).join(
          graft.ops.IncrementalCurateOps.keptDocIds(s, curateDir)
            .select(col("doc_id").as(idCol)),
          Seq(idCol), "left_semi")
      else delta
    val shardKept = shardS1.join(nonReps, Seq(idCol), "left_anti")
    // mirrors are keyed by the STABLE external key (the checkpoint
    // id), never by the curate effective id — a fresh-id replay after
    // a curate compaction re-assigns the effective id, and a re-keyed
    // mirror would miss its recorded mapping (and its _LANDED
    // confirmation), re-ingesting postings the index already holds
    val idxId = graft.ops.BatchState.mapExternalBatchId(
      s, indexDir, extKey, graft.ops.IncrementalIndexOps.Bm25Tables)
    if (idxId != graft.ops.BatchState.ExternalIdAlreadyLanded)
      graft.ops.IncrementalIndexOps.ingestTextShard(
        s, df.join(shardKept, Seq(idCol), "left_semi"),
        idCol, textCol, indexDir, idxId)
    // only touch the deletion machinery when this batch actually has
    // demotions: the external-id mirror alone would otherwise create
    // the deletion root and put every future search on its slow path
    // (replay-deterministic — nonReps recomputes identically)
    if (!nonReps.isEmpty) {
      val delRoot = graft.ops.BatchState.deletionRoot(indexDir)
      val delId = graft.ops.BatchState.mapExternalBatchId(
        s, delRoot, extKey, graft.ops.IncrementalIndexOps.DelTables)
      if (delId != graft.ops.BatchState.ExternalIdAlreadyLanded)
        StateRoot.deleteIn(s, graft.ops.IncrementalIndexOps.Bm25, nonReps,
          idCol, indexDir, delId)
    }
  }

  /** Composed TAKEDOWN — the compliance write path of the composed
    * curate → index state ([[curateAndIndexIngest]]'s layout): remove
    * the documents from the curated view AND retract them from the
    * searchable index ([[graft.ops.StateRoot.delete]] on each root),
    * each under its roots' writer leases. Batch ids are chosen above
    * everything landed OR promised in each deletion root, so the call
    * composes with a live stream's ledger mirrors. Idempotent:
    * re-running after a crash between the two halves finishes the
    * retraction (already-tombstoned ids no-op); until then the
    * transient state is "curated view excludes, search still returns"
    * — re-run to converge.
    */
  def composedTakedown(spark: SparkSession, stateDir: String,
      ids: DataFrame, idCol: String): Unit = {
    // the delete verb chooses each deletion batch id INSIDE the writer
    // leases — an id chosen out here could be raced to by a concurrent
    // takedown, whose idempotency check would then silently absorb this
    // call's ids
    StateRoot(graft.ops.IncrementalCurateOps.Curation, s"$stateDir/curate")
      .delete(spark, ids, idCol)
    StateRoot(graft.ops.IncrementalIndexOps.Bm25, s"$stateDir/index")
      .delete(spark, ids, idCol)
  }

  /** Streaming DELETION — the compliance write path as a continuous
    * feed: each micro-batch of ids (in `idCol`) landing in `watchDir` is
    * applied through the tombstone protocol to the root's deletion ledger
    * with the same exactly-once contract as the ingest harnesses, wired
    * through the deletion root's OWN `_input` ledger (after every
    * drain, reads equal the batch [[graft.ops.StateRoot.delete]] fed the
    * same ids):
    *
    *  - the mapping `<stateDir>/_deletes/_input/batch=<ckptId>` records
    *    which tombstone batch id the micro-batch used, so a replay
    *    reuses it (and a `_LANDED`-confirmed replay skips the whole
    *    postings probe);
    *  - the mapping is written AFTER the deletion ran — one that
    *    turns out to be a complete no-op never creates the deletion
    *    root, so pristine directories keep their one-exists-probe
    *    search fast path;
    *  - a PURGE between drains retires the deletion root, ledger
    *    included — legitimate lifecycle, not state loss: the next
    *    micro-batch simply starts a fresh root, and a replay of a
    *    pre-purge batch is a content no-op (its ids are no longer held —
    *    the tombstone protocol's no-op contract);
    *  - crash-mid-delete replays overwrite the same tombstone batch id
    *    (a half-landed batch is invisible to the all-or-nothing
    *    listing, so the id is re-chosen); a crash between the apply
    *    and the mapping write converges through one empty delta batch.
    *
    * Deletions are content-idempotent (unknown / already-tombstoned
    * ids contribute nothing), which is what makes this ledger weaker
    * than ingest's fingerprint ledger sufficient: the ledger here buys
    * replay SKIPS and stable ids, never correctness.
    */
  def deletionIngest(spark: SparkSession, watchDir: String,
      schema: StructType, checkpoint: String, root: StateRoot,
      idCol: String): Unit =
    runAvailableNow(
      spark.readStream.schema(schema).parquet(watchDir), checkpoint) {
      (df, ckptId) =>
        deletionMicroBatch(df, ckptId, root.path, root.family.delTables) {
          (d, dir, eff) =>
            StateRoot.deleteIn(d.sparkSession, root.family, d, idCol, dir,
              eff)
        }
    }

  /** One micro-batch of [[deletionIngest]] — extracted so specs can
    * drive crash/replay/purge interleavings with chosen checkpoint
    * ids. Returns the tombstone batch id used, or -1 when the
    * confirmed mapping skipped the batch. The closure receives the
    * RESOLVED state directory and must apply to it verbatim (as
    * [[graft.ops.StateRoot.deleteIn]] does): the tombstone batch id was
    * chosen for that generation, and a cutover flipping the root
    * between the harness's resolve and a second one would otherwise
    * land the id against a different generation's ledger (silently
    * skipping or colliding).
    */
  private[graft] def deletionMicroBatch(df: DataFrame, ckptId: Long,
      root: String, delTables: Seq[String])(
      applyDelete: (DataFrame, String, Long) => Unit): Long = {
    val s = df.sparkSession
    val B = graft.ops.BatchState
    val stateDir = B.resolveGeneration(s, root)
    B.withLease(s, stateDir) {
      val delRoot = B.deletionRoot(stateDir)
      val fpDir = new org.apache.hadoop.fs.Path(
        s"$delRoot/_input/batch=$ckptId")
      val fs = fpDir.getFileSystem(s.sparkContext.hadoopConfiguration)
      val hasMapping = fs.exists(
        new org.apache.hadoop.fs.Path(fpDir, "_SUCCESS"))
      if (hasMapping && fs.exists(
          new org.apache.hadoop.fs.Path(fpDir, "_LANDED")))
        B.ExternalIdAlreadyLanded
      else {
        val eff =
          if (hasMapping)
            B.mapExternalBatchId(s, delRoot, ckptId, delTables)
          else B.nextTombstoneBatchId(s, stateDir, delTables)
        if (eff == B.ExternalIdAlreadyLanded) eff
        else {
          applyDelete(df, stateDir, eff)
          // record only once the root provably exists — a complete
          // no-op batch must leave a pristine directory pristine
          if (B.hasDeletionRoot(s, stateDir)) {
            B.recordExternalBatchId(s, delRoot, ckptId, eff)
            B.confirmExternalBatchId(s, delRoot, ckptId)
          }
          eff
        }
      }
    }
  }

  /** The guarded streaming harness every incremental-state ingest runs
    * under: an `AvailableNow` drain of `watchDir` whose `foreachBatch`
    * first proves the checkpoint and `root` still belong together, then
    * hands the micro-batch to `ingest` (the family's ingest op, e.g.
    * [[graft.ops.IncrementalCurateOps.ingestShard]] or
    * [[graft.ops.IncrementalIndexOps.ingestTextShard]] on `root.path`)
    * under an EFFECTIVE state batch id. The ledger and its guards read
    * the family's additive tables. Each invocation drains everything
    * currently in `watchDir` and stops — the periodic-ingest pattern;
    * run it from a scheduler as shards land.
    *
    * The `_input/batch=<checkpointId>` ledger records each micro-batch's
    * content fingerprint (row count + two order-independent folds of
    * the hashed id column) AND its effective id. Decoupling the two id
    * spaces is what lets state COMPACTION
    * ([[graft.ops.BatchState.compactState]]) coexist with a live
    * checkpoint: compaction lands its merged batch above every landed
    * AND every ledger-promised id, a new checkpoint id simply maps to
    * newest-landed + 1, and a replayed checkpoint id
    * (fingerprint-verified) resolves through the ledger instead of
    * colliding with the compacted batch.
    *
    * Each entry also carries a `_LANDED` confirmation, written right
    * after its ingest returns (and re-derived by compaction, which
    * holds the lease and knows the landed set exactly). The replay path
    * keys on it: a confirmed entry SKIPS (its data is in state, even if
    * compaction has since retired the original batch directory); an
    * UNCONFIRMED entry always re-runs the closure — every ingest op
    * no-ops on its own directory ledger, so re-running a fully-landed
    * batch is free, while a landed-check shortcut would silently drop
    * whatever a composed closure does beyond the core tables. The
    * recorded effective id is kept while the core tables vouch for it
    * or its id space is still open; only a compaction that moved the
    * landed set past an unlanded promise forces a fresh id (ledger
    * rewritten). Without the promise-aware compaction id and this
    * confirmation, a crash between the ledger write and the ingest
    * followed by a compaction would silently no-op the replayed
    * micro-batch's data away.
    *
    * Three guards (all LOUD):
    *
    *  1. a checkpoint id below the newest RECORDED one ⇒ the checkpoint
    *     was lost or reset against surviving state (a legitimate engine
    *     replay re-delivers the LAST micro-batch, never an earlier one);
    *  2. a non-zero first checkpoint id against an EMPTY input ledger ⇒
    *     the state dir was lost while the checkpoint survived;
    *  3. a replayed checkpoint id whose content fingerprint differs ⇒
    *     renumbered new data colliding with a recorded id — the case
    *     pure id arithmetic cannot see (checkpoint lost while exactly
    *     one batch was recorded: 0 ≥ 0 passes guard 1).
    *
    * Recovery is always the same: keep checkpoint and state together,
    * or start both fresh.
    *
    * `compactEvery` > 0 wires [[graft.ops.StateRoot.compact]] in as an
    * automatic policy: after any micro-batch that leaves at least
    * `compactEvery` landed batches, the root compacts under its own
    * lease — a long-running stream never needs an operator cron to keep
    * its state listing constant-time.
    */
  def stateIngest(spark: SparkSession, watchDir: String,
      schema: StructType, checkpoint: String, root: StateRoot,
      idCol: String, compactEvery: Int = 0)(
      ingest: (DataFrame, Long) => Unit): Unit = {
    val coreTables = root.family.additiveTables
    runAvailableNow(
      spark.readStream.schema(schema).parquet(watchDir), checkpoint) {
      (df, ckptId) =>
        val s = df.sparkSession
        ingestMicroBatch(df, ckptId, root.path, coreTables, idCol)(ingest)
        if (compactEvery > 0 && graft.ops.BatchState
            .landedBatchIds(s, root.dir(s), coreTables, None)
            .size >= compactEvery)
          root.compact(s)
    }
  }

  /** One guarded micro-batch of [[stateIngest]] — extracted so specs
    * can drive crash/replay/compaction interleavings directly with
    * chosen checkpoint ids. Returns the effective id the batch was
    * ingested under, or -1 when it was skipped as already landed.
    * Holds the state directory's single-writer lease for the whole
    * ledger-write + ingest window, so compaction can never interleave
    * between the promise and the landing. `composed` marks the ledger
    * entries of closures whose effects extend beyond `coreTables`
    * (curate → index): compaction will not confirm them off the core
    * tables alone, so a crash anywhere inside the closure always
    * re-runs the WHOLE closure on replay.
    */
  private[graft] def ingestMicroBatch(df: DataFrame, ckptId: Long,
      stateDir: String, coreTables: Seq[String], idCol: String,
      composed: Boolean = false)(
      ingest: (DataFrame, Long) => Unit): Long =
    ingestMicroBatchKeyed(df, ckptId, stateDir, coreTables, idCol,
      composed)((d, eff, _) => ingest(d, eff))

  /** [[ingestMicroBatch]] whose closure also receives the CHECKPOINT id
    * — the stable external key composed closures must use for their
    * secondary-root mirrors (the effective id is re-assigned by a
    * post-compaction replay; the checkpoint id never is).
    *
    * The ROOT is generation-resolved FIRST: the harness's ledger,
    * landed-set reads, and lease must address the same directory the
    * ingest ops (which resolve internally) land into — computing
    * effective ids from a cutover root's stale generation while the
    * ops write the current one would hand every micro-batch after the
    * first the same already-landed id, silently dropping its data.
    */
  private[graft] def ingestMicroBatchKeyed(df: DataFrame, ckptId: Long,
      root: String, coreTables: Seq[String], idCol: String,
      composed: Boolean)(
      ingest: (DataFrame, Long, Long) => Unit): Long = {
    val B = graft.ops.BatchState
    val stateDir = B.resolveGeneration(df.sparkSession, root)
    B.withLease(df.sparkSession, stateDir) {
      val s = df.sparkSession
      val ledger = B.inputLedger(s, stateDir)
      val recorded = ledger.map(_._1)
      require(recorded.lastOption.forall(ckptId >= _),
        s"micro-batch $ckptId is OLDER than the newest recorded " +
          s"micro-batch ${recorded.last} in $stateDir — the stream " +
          "checkpoint was lost or reset against surviving state; its " +
          "renumbered batches would be silently absorbed as replays. " +
          "Start a new state directory or restore the matching " +
          "checkpoint.")
      val fpDir = s"$stateDir/_input/batch=$ckptId"
      val fpPath = new org.apache.hadoop.fs.Path(fpDir)
      val fs = fpPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      // an UNCOMMITTED entry dir at this ckpt id is a crashed ledger
      // (re)write of this very micro-batch — not a lost state dir; the
      // fresh path below recomputes and overwrites it, so a healthy
      // stream is never wedged by its own crash window
      val crashedEntry = fs.exists(fpPath) &&
        !fs.exists(new org.apache.hadoop.fs.Path(fpPath, "_SUCCESS"))
      require(recorded.nonEmpty || ckptId == 0 || crashedEntry,
        s"micro-batch $ckptId arrived against an EMPTY input ledger at " +
          s"$stateDir — the state directory was lost or relocated " +
          "while the checkpoint survived; continuing would land new " +
          "batches on a vanished history. Restore the state directory " +
          "or start a fresh checkpoint+state pair.")
      // id-type-agnostic fingerprint: row count + TWO order-independent
      // folds of the hashed id column — bit_xor alone self-cancels ids
      // appearing an even number of times, so a renumbered batch with
      // duplicated ids could collide at equal row count; the sum of the
      // hashes' high 32 bits is not self-cancelling and stays far from
      // ANSI bigint overflow (a full-range SUM would not)
      val agg = df.agg(count(lit(1)),
        expr(s"bit_xor(xxhash64(cast(`$idCol` as string)))"),
        expr(s"sum(shiftright(xxhash64(cast(`$idCol` as string)), 32))"))
        .head
      val fp = Seq(agg.getLong(0),
        if (agg.isNullAt(1)) 0L else agg.getLong(1),
        if (agg.isNullAt(2)) 0L else agg.getLong(2))
      def newestLanded: Long = B.landedBatchIds(s, stateDir, coreTables,
        None).lastOption.getOrElse(-1L)
      def writeEntry(eff: Long): Unit = {
        import s.implicits._
        Seq((fp(0), fp(1), fp(2), eff, composed))
          .toDF("n_rows", "id_hash_xor", "id_hash_sum", "effective_id",
            "composed")
          .coalesce(1).write
          .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(fpDir)
      }
      def confirm(): Unit = B.markLanded(fs, fpPath)
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$fpDir/_SUCCESS"))) {
        val stored = s.read.parquet(fpDir).head
        // entries written before the sum fold existed carry two fp
        // fields; compare what they recorded (weaker but honest) and
        // upgrade on any rewrite
        val hasSum = stored.schema.fieldNames.contains("id_hash_sum")
        val storedFp =
          if (hasSum) Seq(stored.getLong(0), stored.getLong(1),
            stored.getAs[Long]("id_hash_sum"))
          else Seq(stored.getLong(0), stored.getLong(1))
        require(storedFp == (if (hasSum) fp else fp.take(2)),
          s"micro-batch $ckptId replays a recorded micro-batch but " +
            s"its content fingerprint $fp (rows, id hash-xor, " +
            s"id hash-sum) differs from the recorded $storedFp — the " +
            "checkpoint was reset and new data was renumbered onto a " +
            "recorded id. Start a new state directory or restore the " +
            "matching checkpoint.")
        val storedEff = stored.getAs[Long]("effective_id")
        if (fs.exists(new org.apache.hadoop.fs.Path(fpPath, "_LANDED"))) {
          -1L // confirmed: in state, even if since compacted away
        } else {
          // an unconfirmed replay ALWAYS re-runs the closure — every
          // ingest op no-ops on its own directory ledger, so re-running
          // a fully-landed batch is free, while skipping on a
          // core-tables-only landed check would silently drop whatever
          // a COMPOSED closure does beyond the core tables (curate
          // landed, index not — the crash hit between them). The
          // recorded id is kept while the core tables still vouch for
          // it or its id space is open; only a compaction that moved
          // the landed set past an unlanded promise forces a fresh id.
          val eff =
            if (B.allLanded(s, stateDir, coreTables, storedEff) ||
              newestLanded < storedEff) storedEff
            else newestLanded + 1
          if (eff != storedEff) writeEntry(eff)
          ingest(df, eff, ckptId)
          confirm()
          eff
        }
      } else {
        val eff = if (newestLanded >= 0) newestLanded + 1 else ckptId
        writeEntry(eff)
        B.retireLedgerBelow(s, ckptId, ledger)
        ingest(df, eff, ckptId)
        confirm()
        eff
      }
    }
  }

  /** Streaming corpus gate — the NARROW curation stages (language-ID
    * argmax + integer quality score, the first two stages of
    * [[graft.ops.CorpusOps.curate]]) applied to a document stream.
    * Both kernels are stateless per-row expressions, so the same
    * definition serves batch and streaming unchanged, needs no
    * watermark, and adds NO state store (asserted in the parity spec)
    * — each micro-batch filters independently, which is exactly how a
    * continuously-ingesting corpus applies its cheap gates before
    * batch-global stages (dedup, clustering) that genuinely need the
    * whole corpus.
    */
  def corpusGate(docs: DataFrame, lang: String = "en",
      minQualityE6: Long = 550000L): DataFrame =
    docs.select(col("doc_id"), col("text"),
        graft.ops.TextOps.langId(col("text")).as("pred_lang"),
        graft.ops.TextOps.qualityScoreMillionths(col("text")).as("quality_e6"))
      .where(col("pred_lang") === lang &&
        col("quality_e6") >= minQualityE6)
}
